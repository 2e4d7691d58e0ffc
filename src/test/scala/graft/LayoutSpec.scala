package graft

import org.apache.spark.sql.functions._
import graft.operators.{Materialize, TextAnalysis}
import graft.operators.Curation
import graft.sources.Tables

/** Data-layout and sampling specs: Z-order clustering (multi-dimensional
  * data skipping), dynamic partition pruning, temperature-based source
  * sampling, and the unigram-LM perplexity signal. */
class LayoutSpec extends SparkSpec {

  test("zValue: bit interleave matches a reference implementation") {
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(k => (((x >> k) & 1) << (2 * k)) |
                              (((y >> k) & 1) << (2 * k + 1))).sum
    val cases = Seq((0L, 0L), (255L, 0L), (0L, 255L), (170L, 85L), (37L, 201L))
    val df = spark.createDataFrame(cases).toDF("x", "y")
      .withColumn("z", Materialize.zValue(col("x"), col("y"), 8))
    df.collect().foreach { r =>
      assert(r.getLong(2) == ref(r.getLong(0), r.getLong(1), 8),
        s"zValue(${r.getLong(0)}, ${r.getLong(1)})")
    }
    // z-order locality: adjacent cells differ in few z bits; the exact
    // property that matters downstream is monotone quadrants — all of the
    // lower-left quadrant sorts before any of the upper-right
    val q1 = ref(127, 127, 8); val q2 = ref(128, 128, 8)
    assert(q1 < q2)
    // N-dim generalization: bit k of dim j at position k*N + j
    def refN(vs: Seq[Long], bits: Int): Long =
      (for (k <- 0 until bits; j <- vs.indices)
        yield ((vs(j) >> k) & 1) << (k * vs.size + j)).sum
    val df3 = spark.createDataFrame(Seq((5L, 9L, 14L))).toDF("a", "b", "c")
      .withColumn("z", Materialize.zValueN(Seq(col("a"), col("b"), col("c")), 4))
    assert(df3.collect()(0).getLong(3) == refN(Seq(5L, 9L, 14L), 4))
  }

  test("zorderCluster: files bound BOTH dimensions; a 1-D sort cannot") {
    import spark.implicits._
    // a 64x64 grid, fully populated: any layout sees identical data
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    val zDir = java.nio.file.Files.createTempDirectory("graft_z").toString
    val xDir = java.nio.file.Files.createTempDirectory("graft_x").toString
    Materialize.zorderCluster(grid, "x", "y", zDir, nFiles = 16, bits = 6)
    // the single-column alternative: range-sort by x only
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xDir)
    def fileRanges(dir: String) = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((max("x") - min("x")).as("xr"), (max("y") - min("y")).as("yr"))
      .agg(avg("xr"), avg("yr")).collect()(0)
    val z = fileRanges(zDir); val x1 = fileRanges(xDir)
    // x-sorted layout: x tight, y spans the full 0..63 in every file
    assert(x1.getDouble(1) > 55, s"x-sort y-range: ${x1.getDouble(1)}")
    // z-order: BOTH dims bounded — each of 16 files covers ~a quadrant
    // (16 files over a 64x64 z-curve = 16x16 tiles; ranges ≤ ~1/2 of domain)
    assert(z.getDouble(0) < 32 && z.getDouble(1) < 32,
      s"zorder ranges: x=${z.getDouble(0)} y=${z.getDouble(1)}")
  }

  test("dppJoin: scan carries a dynamicpruning partition filter; result " +
       "matches the plain join") {
    val orders = Tables.orders(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val got = Materialize.dppJoin(spark, orders, dir + "/orders")
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$plan")
    val want = orders
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
           graft.util.Det.centsSum(col("o_totalprice")).as("revenue"))
      .orderBy("o_orderpriority")
    assert(rows(got.orderBy("o_orderpriority")) == rows(want))
  }

  test("deleteKeys: affected rows vanish, untouched partitions keep their " +
       "original files byte-for-byte") {
    val dir = java.nio.file.Files.createTempDirectory("graft_del").toString + "/t"
    // partition on a key-derived bucket so a deleted customer's rows all
    // live in one partition (priority would spread each customer over all)
    val orders = Tables.orders(spark, sf)
      .withColumn("cust_bucket", col("o_custkey") % 5)
    orders.select("o_orderkey", "o_custkey", "o_totalprice", "cust_bucket")
      .write.mode("overwrite").partitionBy("cust_bucket").parquet(dir)
    import spark.implicits._
    val victims = orders.filter(col("cust_bucket") === 0)
      .select("o_custkey").distinct().limit(5)
    val victimSet = victims.as[Long].collect().toSet
    // fingerprint every file before
    def files(d: String) = new java.io.File(d).listFiles()
      .filter(_.isDirectory).flatMap(p => p.listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.length, f.lastModified)))
    val before = files(dir).toSet
    val affected = Materialize.deleteKeys(
      spark, dir, "cust_bucket", "o_custkey", victims.toDF("del_key"))
    val after = files(dir).toSet
    // every victim row is gone; nothing else changed
    val remaining = spark.read.parquet(dir)
    assert(remaining.filter(col("o_custkey").isin(victimSet.toSeq: _*)).count() == 0)
    assert(remaining.count() ==
      orders.filter(!col("o_custkey").isin(victimSet.toSeq: _*)).count())
    // untouched partitions: files identical (path+size+mtime)
    val untouched = before.filter { case (p, _, _) =>
      !affected.exists(v => p.contains(s"cust_bucket=$v")) }
    assert(untouched.subsetOf(after),
      s"untouched partition files were rewritten: ${untouched.diff(after)}")
    assert(affected.nonEmpty && affected.size < 5,
      s"expected a strict subset of partitions affected, got $affected")
  }

  test("deleteKeys: Hive-escaped partition values (spaces, colons, percent) " +
       "swap correctly; null partition values are rejected loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_del_esc").toString + "/t"
    // partition values that Spark's writer Hive-escapes in the dir name:
    // raw s"$col=$v" interpolation would miss every one of these
    val rows = Seq(
      (1L, 10L, "flash sale"), (2L, 10L, "flash sale"),
      (3L, 20L, "a:b=c%d#e"), (4L, 20L, "a:b=c%d#e"),
      (5L, 30L, "plain"), (6L, 30L, "plain"))
      .toDF("id", "k", "part")
    rows.write.mode("overwrite").partitionBy("part").parquet(dir)
    val victims = Seq(10L, 20L).toDF("del_key")
    val affected = Materialize.deleteKeys(spark, dir, "part", "k", victims)
    assert(affected.toSet == Set("flash sale", "a:b=c%d#e"), affected.toString)
    val back = spark.read.parquet(dir)
    assert(back.count() == 2, "escaped partitions were not rewritten")
    assert(back.filter(col("k").isin(10L, 20L)).count() == 0,
      "rows in escaped partitions survived the delete")
    // null partition values: refuse rather than silently skip
    val nullDir = java.nio.file.Files.createTempDirectory("graft_del_null")
      .toString + "/t"
    Seq((1L, 10L, Option("x")), (2L, 20L, Option.empty[String]))
      .toDF("id", "k", "part")
      .write.mode("overwrite").partitionBy("part").parquet(nullDir)
    val err = intercept[IllegalArgumentException](
      Materialize.deleteKeys(spark, nullDir, "part", "k", Seq(20L).toDF("del_key")))
    assert(err.getMessage.contains("NULL"))
  }

  test("readJsonl: malformed lines quarantine in _corrupt_record, good " +
       "rows survive") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val docs = Tables.documents(spark, sf).limit(10)
    graft.sources.Tables.writeJsonl(docs, dir + "/data")
    // poison one extra file with garbage + one valid line
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir + "/data/part-poison.json"),
      "this is not json\n{\"doc_id\": 9999, \"text\": \"ok\", \"lang\": \"en\", \"source\": \"s\", \"n_chars\": 2}\n"
        .getBytes("UTF-8"))
    // Spark disallows querying ONLY _corrupt_record on an uncached raw scan
    val back = graft.sources.Tables.readJsonl(spark, dir + "/data", docs.schema)
      .cache()
    assert(back.filter(col("_corrupt_record").isNotNull).count() == 1,
      "malformed line not quarantined")
    assert(back.filter(col("_corrupt_record").isNull).count() == 11,
      "valid rows lost")
  }

  test("temperatureSample: smallest source keeps all, rates flatten the " +
       "mix, rerun is identical") {
    import spark.implicits._
    // skewed corpus: source a 400 docs, b 100, c 25
    val docs = ((1 to 400).map(i => (i.toLong, "a")) ++
                (401 to 500).map(i => (i.toLong, "b")) ++
                (501 to 525).map(i => (i.toLong, "c")))
      .toDF("doc_id", "source")
    val out = Curation.temperatureSample(docs, alpha = 0.7)
    val byS = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // c is the smallest: rate = 1.0 → every doc survives
    assert(byS("c") == 25, s"smallest source thinned: $byS")
    // a is 16x c: rate = (25/400)^0.3 ≈ 0.435 → thinned hardest but
    // still the largest surviving source (alpha<1 flattens, not inverts)
    assert(byS("a") < 400 && byS("a") > byS("b") && byS("b") > byS("c"), s"$byS")
    // flattening: surviving a:c ratio far below the input 16:1
    assert(byS("a").toDouble / byS("c") < 10, s"$byS")
    // determinism: same rows on rerun (no RNG, pure hash draw)
    assert(rows(out) == rows(Curation.temperatureSample(docs, alpha = 0.7)))
  }

  test("perplexityScore: common-word docs score lower nll than rare-word " +
       "docs; scores are positive and finite") {
    import spark.implicits._
    val common = (1 to 20).map(_ => "the cat sat on the mat")
    val rare = Seq("zyx qwv jkl pnm bdf ghr")
    val docs = (common ++ rare).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = TextAnalysis.perplexityScore(docs).collect()
    assert(out.length == 21)
    val rareNll = out.find(_.getLong(0) == 20L).get.getDouble(2)
    val commonNll = out.filter(_.getLong(0) < 20L).map(_.getDouble(2)).max
    assert(rareNll > commonNll,
      s"rare-word doc ($rareNll) should out-score common docs ($commonNll)")
    out.foreach(r => assert(r.getDouble(2) > 0 && !r.getDouble(2).isInfinite))
  }
}
