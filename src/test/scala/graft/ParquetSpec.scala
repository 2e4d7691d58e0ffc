package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.CoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Parquet, ParquetDirFormat, Tables}
import graft.streaming.StreamOps
import graft.util.Scoped

/** The parquet read seam ([[Parquet.read]]): schema resolution starts no
  * Spark job, and every read equals `spark.read.parquet` — schema (types,
  * nullability, metadata) and rows — on the generated inputs and on
  * Spark-written tables (partitioned or not, with row metadata); in the
  * fallback cases Spark resolves the read itself, error included. */
class ParquetSpec extends SparkSpec {
  /** The sf0.01 inputs, beside the suite's sf0.001 set. */
  private val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
  private val inputs = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def tmp(): Path = Files.createTempDirectory("graft_parquet")

  /** Jobs started while `f` runs (the listener bus drained on both sides). */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    CoreBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      CoreBridge.drainListenerBus(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what schema:\n${got.schema.treeString}" +
      s"vs spark.read.parquet:\n${want.schema.treeString}")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"$what rows differ from spark.read.parquet")
  }

  /** The same error: class, and the first error condition down the cause
    * chain (a failed job's own message carries its stage and task ids);
    * the message where no condition names the error. */
  private def assertSameError(got: Throwable, want: Throwable): Unit = {
    def condition(t: Throwable) = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).collectFirst {
        case st: org.apache.spark.SparkThrowable if st.getCondition != null =>
          st.getCondition
      }
    assert(got.getClass == want.getClass && condition(got) == condition(want),
      s"seam error $got vs Spark's $want")
    if (condition(want).isEmpty) assert(got.getMessage == want.getMessage)
  }

  /** The seam's read of `path` costs no job at `.schema` and equals Spark's. */
  private def assertNoJobAndSame(s: SparkSession, path: String,
                                 read: => DataFrame): Unit = {
    val (_, jobs) = jobsDuring(read.schema)
    assert(jobs == 0, s"$path: schema resolution ran $jobs Spark job(s)")
    assertSame(read, s.read.parquet(path), path)
  }

  test("control: the job counter sees spark.read.parquet's footer job") {
    val (_, jobs) = jobsDuring(spark.read.parquet(s"$sf01/region.parquet").schema)
    assert(jobs >= 1, "counter saw no job for a plain footer read")
  }

  test("footer choice: _common_metadata, else _metadata, else the first " +
       "data file by path") {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    def st(n: String) = new FileStatus(1, false, 1, 1, 0, new HPath(s"/t/$n"))
    def pick(ns: String*) = Parquet.footerFile(ns.map(st)).map(_.getPath.getName)
    assert(pick("part-1", "_metadata", "part-0", "_common_metadata") ==
      Some("_common_metadata"))
    assert(pick("part-1", "_metadata", "part-0") == Some("_metadata"))
    assert(pick("part-1", "part-0") == Some("part-0"))
    assert(pick() == None)
  }

  test("Tables.table on every sf0.01 input: no job, Spark's schema and rows") {
    val s = Scoped.session(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    inputs.foreach { t =>
      val path = s"$sf01/$t.parquet"
      assertNoJobAndSame(s, path, Tables.table(s, sf01, t))
    }
  }

  test("events.parquet (INT64 TIMESTAMP(NANOS)) under both nanosAsLong settings") {
    val path = s"$sf01/events.parquet"
    Seq("true", "false").foreach { v =>
      val s = Scoped.session(spark, "spark.sql.legacy.parquet.nanosAsLong" -> v)
      val want = scala.util.Try(s.read.parquet(path))
      val got = scala.util.Try(Parquet.read(s, path))
      (got, want) match {
        case (scala.util.Success(g), scala.util.Success(w)) =>
          assertSame(g, w, s"events nanosAsLong=$v")
        case (scala.util.Failure(g), scala.util.Failure(w)) =>
          assertSameError(g, w)
        case other => fail(s"nanosAsLong=$v: seam vs Spark disagree: $other")
      }
    }
  }

  test("ParquetDirFormat.read: unpartitioned, and partitioned on string, " +
       "int and date values — no job, Spark's partition types") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .withColumn("p", (col("o_orderkey") % 3).cast("int"))
      // year-truncated: few enough leaf dirs to list on the driver (past
      // parallelPartitionDiscovery.threshold Spark lists with a job, with
      // or without the seam)
      .withColumn("d", trunc(to_date(col("o_orderdate")), "year"))
    Seq(None, Some("o_orderstatus" -> "string"), Some("p" -> "integer"),
        Some("d" -> "date")).foreach { part =>
      val path = tmp().resolve("t").toString
      ParquetDirFormat.write(orders, path, part.map(_._1))
      assertNoJobAndSame(spark, path, ParquetDirFormat.read(spark, path))
      part.foreach { case (p, typ) =>
        assert(ParquetDirFormat.read(spark, path).schema(p).dataType.typeName ==
          typ, s"partition column $p lost its inferred type")
      }
    }
  }

  test("the parquetStream schema probe starts no job") {
    val dir = tmp().toString
    Tables.region(spark, sf).write.mode("overwrite").parquet(s"$dir/region")
    val (df, jobs) = jobsDuring(StreamOps.parquetStream(spark, s"$dir/region").schema)
    assert(jobs == 0, s"stream schema probe ran $jobs job(s)")
    assert(df == spark.read.parquet(s"$dir/region").schema)
  }

  test("Spark-written row metadata (timestamp_ntz, field metadata) round-trips") {
    val path = tmp().resolve("t").toString
    spark.range(5).select(col("id"),
        expr("timestamp_ntz'2024-01-01 00:00:00' + make_interval(0, 0, 0, id)")
          .as("ts_ntz"),
        col("id").cast("string").as("s", new org.apache.spark.sql.types
          .MetadataBuilder().putString("comment", "kept").build()))
      .write.parquet(path)
    assertNoJobAndSame(spark, path, Parquet.read(spark, path))
    assert(Parquet.read(spark, path).schema("ts_ntz").dataType.typeName ==
      "timestamp_ntz")
  }

  test("fallback: mergeSchema (option or conf) gives Spark's merged schema") {
    val path = tmp().toString
    spark.range(3).select(col("id"), lit(1).as("a")).write.parquet(s"$path/k=1")
    spark.range(3).select(col("id"), lit("x").as("b")).write.parquet(s"$path/k=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.columns.toSet == Set("id", "a", "b", "k"))
    assertSame(Parquet.read(spark, Seq(path), Map("mergeSchema" -> "true")),
      merged, "mergeSchema option")
    val s = Scoped.session(spark, "spark.sql.parquet.mergeSchema" -> "true")
    assertSame(Parquet.read(s, path), s.read.parquet(path), "mergeSchema conf")
  }

  test("fallback: an empty directory gives Spark's own error") {
    val path = tmp().toString
    val want = intercept[Exception](spark.read.parquet(path))
    val got = intercept[Exception](Parquet.read(spark, path))
    assertSameError(got, want)
  }

  test("fallback: a corrupt footer gives Spark's own error") {
    val path = tmp()
    Files.write(path.resolve("part-0.parquet"), "not parquet".getBytes)
    val want = intercept[Exception](spark.read.parquet(path.toString))
    val got = intercept[Exception](Parquet.read(spark, path.toString))
    assertSameError(got, want)
  }

  test("data files that also carry the partition column keep Spark's " +
       "column order") {
    val path = tmp().toString
    spark.range(3).select(lit(1).as("p"), col("id")).write.parquet(s"$path/p=1")
    assertSame(Parquet.read(spark, path), spark.read.parquet(path),
      "partition column inside the files")
  }
}
