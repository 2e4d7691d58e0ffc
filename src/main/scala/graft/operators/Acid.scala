package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TxLogFormat
import graft.pipeline._

/** Driver queries that adjudicate the ACID table format ([[TxLogFormat]])
  * against the SAME oracles the parquet-dir paths pass: identical answers,
  * no crash-visibility window. The reference's north star names
  * "Delta/Iceberg for incremental models"; these three run the
  * incremental-merge, DELETE-WHERE, and time-travel shapes through the
  * transaction log. */
object Acid {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("t").toString

  /** Two dbt runs of an incremental model through the ACID format: run 1
    * seeds the table, run 2's delta (the `is_incremental()` branch)
    * merges latest-wins via `format.replace` — on the txlog a single
    * atomic commit whose plan reads the table it replaces. Oracle = the
    * incremental_merge latest-wins SQL. */
  def txlogIncremental(spark: SparkSession, orders: DataFrame): DataFrame = {
    val dir = tmpDir("graft_txlog_inc")
    def mk(build: Map[String, DataFrame] => DataFrame) = new Pipeline(
      Seq(Model("m", Seq("orders"), IncrementalMat("o_orderkey"), build)),
      format = TxLogFormat)
    mk(in => in("orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))
      .run(spark, Map("orders" -> orders), dir)
    val out = mk(in => in("orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1).as("o_totalprice")))
      .run(spark, Map("orders" -> orders), dir)
    out("m")
  }

  /** `MERGE INTO` through the txlog ([[TxLogFormat.merge]]): one atomic
    * commit updates matched keys whole-row and inserts unmatched ones,
    * rewriting ONLY files that hold a matched key. Oracle = anti-join of
    * the base on the source keys UNION ALL the source. */
  def txlogMerge(spark: SparkSession, orders: DataFrame): DataFrame = {
    val t = tmpDir("graft_txlog_merge")
    val base = orders
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    TxLogFormat.write(base, t, Some("o_orderstatus"))
    val updates = base.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("U").as("o_orderstatus"), (col("o_totalprice") + 1).as("o_totalprice"))
    val inserts = base.filter(col("o_orderkey") % 1000 === 1)
      .select((col("o_orderkey") + 5000000).as("o_orderkey"), col("o_custkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"))
    TxLogFormat.merge(spark, t, "o_orderkey", updates.unionAll(inserts),
      Some("o_orderstatus"))
    TxLogFormat.read(spark, t)
  }

  /** [[graft.operators.Materialize.gdprDelete]] through the txlog:
    * file-granular DELETE WHERE (only files holding a doomed key rewrite,
    * one atomic commit), same aggregate oracle as gdpr_delete. */
  def txlogGdpr(spark: SparkSession, orders: DataFrame): DataFrame = {
    val t = tmpDir("graft_txlog_gdpr")
    TxLogFormat.write(
      orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"),
      t, Some("o_orderpriority"))
    val keys = orders.filter(col("o_custkey") % 97 === 0)
      .select(col("o_custkey").as("del_key")).distinct()
    TxLogFormat.deleteKeys(spark, t, "o_orderpriority", "o_custkey", keys)
    TxLogFormat.read(spark, t)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        graft.util.Det.centsSum(col("o_totalprice")).as("revenue"))
  }

  /** Data skipping + clustered compaction end-to-end: fragment the table
    * across three tagged appends, OPTIMIZE-ZORDER it on `o_custkey`
    * ([[TxLogFormat.compactClustered]]), then aggregate a key-range
    * [[TxLogFormat.scan]] — files whose log-recorded min/max can't cover
    * the range are pruned driver-side before Spark lists them. `scan` ≡
    * `read + filter` by construction, so the plain filter+agg SQL
    * adjudicates the whole chain; the file-count drop itself is
    * spec-verified (FormatSpec). */
  def txlogScan(spark: SparkSession, orders: DataFrame): DataFrame = {
    val t = tmpDir("graft_txlog_scan")
    val base = orders
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    TxLogFormat.write(base.filter(col("o_orderkey") % 3 === 0), t,
      Some("o_orderstatus"))
    TxLogFormat.appendBatch(base.filter(col("o_orderkey") % 3 === 1), t,
      "scanq", 1L, Some("o_orderstatus"))
    TxLogFormat.appendBatch(base.filter(col("o_orderkey") % 3 === 2), t,
      "scanq", 2L, Some("o_orderstatus"))
    TxLogFormat.compactClustered(spark, t, "o_orderstatus",
      Seq("o_custkey"), targetBytes = 64L * 1024)
    TxLogFormat.scan(spark, t,
        col("o_custkey") <= 500 && col("o_totalprice") > 1000.0)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        graft.util.Det.centsSum(col("o_totalprice")).as("revenue"))
  }

  /** Bloom file-skipping on STRING equality (min/max stats cannot serve
    * it): declare a bloom index on the priority column, append per-batch
    * files, then `scan` for one priority value — files whose per-file
    * filter proves the value absent never open. `scan` ≡ `read + filter`
    * by construction, so the plain filter SQL adjudicates declaration →
    * per-file build → probe end-to-end; the file-count drop is
    * spec-verified (FormatSpec "bloom index"). */
  def txlogBloomScan(spark: SparkSession, orders: DataFrame): DataFrame = {
    val t = tmpDir("graft_txlog_bloom")
    val base = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    TxLogFormat.write(base.filter(col("o_orderkey") % 3 === 0), t)
    TxLogFormat.addBloomIndex(t, "o_orderpriority")
    TxLogFormat.appendBatch(base.filter(col("o_orderkey") % 3 === 1)
      .repartition(2), t, "bloomq", 1L)
    TxLogFormat.appendBatch(base.filter(col("o_orderkey") % 3 === 2)
      .repartition(2), t, "bloomq", 2L)
    TxLogFormat.scan(spark, t, col("o_orderpriority") === "1-URGENT")
  }

  /** Change-data-feed shape: seed (v0), append a delta (v1), compact
    * (v2 — a layout-only rewrite), then read the feed since v0. Only the
    * v1 insert rows may surface — the oracle is the delta predicate with
    * literal `insert`/version tags, so a compact that leaked its rewrite
    * into the feed (or an append that missed it) hash-fails. */
  def txlogChanges(spark: SparkSession, orders: DataFrame): DataFrame = {
    val t = tmpDir("graft_txlog_cdc")
    val base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    TxLogFormat.write(base.filter(col("o_orderkey") % 5 =!= 0), t,
      Some("o_orderstatus"))
    TxLogFormat.appendBatch(base.filter(col("o_orderkey") % 5 === 0), t,
      "cdc", 1L, Some("o_orderstatus"))
    TxLogFormat.compact(spark, t, "o_orderstatus")
    TxLogFormat.readChanges(spark, t, 0L)
  }

  /** Merge-on-read DELETE through deletion vectors
    * ([[TxLogFormat.deleteVectors]]): two overlapping `DELETE WHERE`s mark
    * rows in the log WITHOUT rewriting a single data file (at 100 TB the
    * write amplification of deleting k rows is the k-position vector, not
    * the files holding them), then [[TxLogFormat.purgeDeletes]]
    * materializes the vectors into rewritten files — the read must be
    * identical before and after, and equal to the plain double-WHERE SQL.
    * The no-bytes-moved and only-vector'd-files-rewrite properties are
    * spec-pinned (FormatSpec "deletion vectors"). */
  def txlogDv(spark: SparkSession, orders: DataFrame): DataFrame = {
    val t = tmpDir("graft_txlog_dv")
    TxLogFormat.write(
      orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"),
      t, Some("o_orderpriority"))
    TxLogFormat.deleteVectors(spark, t, col("o_custkey") % 7 === 0)
    TxLogFormat.deleteVectors(spark, t,
      col("o_custkey") % 5 === 0 && col("o_totalprice") > 1000.0)
    val masked = TxLogFormat.count(spark, t) // metadata-only under vectors
    TxLogFormat.purgeDeletes(spark, t, Some("o_orderpriority"))
    require(TxLogFormat.count(spark, t) == masked,
      "purge changed the logical row count")
    TxLogFormat.read(spark, t)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        graft.util.Det.centsSum(col("o_totalprice")).as("revenue"))
  }

  /** Snapshot isolation dividend: overwrite the table, then read version
    * 0 — every original row is still there, byte-for-byte (data files are
    * immutable; the log pins the snapshot). Oracle = the base table. */
  def txlogTimeTravel(spark: SparkSession, orders: DataFrame): DataFrame = {
    val t = tmpDir("graft_txlog_tt")
    val base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    TxLogFormat.write(base, t)
    TxLogFormat.replace(spark,
      TxLogFormat.read(spark, t).filter(col("o_orderkey") % 2 === 0), t)
    TxLogFormat.readVersion(spark, t, 0)
  }
}
