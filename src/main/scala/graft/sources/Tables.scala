package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Scoped

/** Typed loaders for the driver-generated test tables.
  *
  * Every loader selects through the parquet read seam ([[Parquet.read]]:
  * the schema comes from one driver-side footer read, no Spark job) so
  * Catalyst can prune columns and push filters down to the scan.
  * Operators never read files themselves — they take DataFrames — so at
  * 100 TB the same operators run against bucketed/partitioned production
  * tables unchanged.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** JSON-Lines corpus ingestion — the wire format most raw LLM text
    * corpora arrive in (one JSON doc per line, file-splittable, so a 100 TB
    * dump parallelizes by byte range like any text source). Schema is
    * REQUIRED: schema inference reads the whole corpus twice; production
    * ingestion declares the contract up front. PERMISSIVE mode quarantines
    * malformed lines into `_corrupt_record` instead of failing the job —
    * the spec exercises that path. */
  def readJsonl(s: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.schema(schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** JSONL export of any DataFrame (one gzip-less JSON object per line —
    * keep line-splittability; compress with a splittable codec in prod). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Driver query: round-trip the documents table through JSONL and prove
    * values survive the text encoding exactly (the oracle reads the
    * original parquet — a hash match means the JSON path is lossless). */
  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_docs_jsonl").getAbsolutePath
    writeJsonl(docs, tmp)
    // gate on a REAL column (corrupt lines parse as all-null rows): a
    // `_corrupt_record`-only predicate dies under count()-style column
    // pruning (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — Spark refuses a scan
    // whose only referenced column is the internal corrupt-record one
    readJsonl(s, tmp, docs.schema)
      .filter(col("doc_id").isNotNull)
      .select(docs.columns.map(col): _*)
  }

  /** `events.parquet` stores `ts` as INT64 TIMESTAMP(NANOS), which Spark's
    * parquet reader does not map to TimestampType. We read it as a raw long
    * (legacy nanosAsLong) and derive both a microsecond timestamp and an
    * epoch-seconds column with *integer* arithmetic — never double division,
    * which would lose precision above 2^53 (epoch-nanos ≈ 1.7e18).
    * The setting lives on a scoped clone that the scan keeps; the frame
    * is rebound to `s`, whose conf stays as the caller left it.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(
      Scoped.session(s, "spark.sql.legacy.parquet.nanosAsLong" -> "true"), d, "events")
    val withTs =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw
          .withColumn("ts_s", expr("ts div 1000000000"))
          .withColumn("ts", timestamp_seconds(expr("ts div 1000000000")))
      else
        raw
          .withColumn("ts", date_trunc("second", col("ts")))
          .withColumn("ts_s", unix_timestamp(col("ts")))
    Scoped.rebind(withTs, s)
  }
}
