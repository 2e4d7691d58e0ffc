package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pure interval join (NO equi key): points fall inside [start, end)
  * windows. The naive form `p.join(iv, p(ts) >= iv(start) && p(ts) <
  * iv(end))` has no equi-condition, so Spark can only plan a
  * BroadcastNestedLoopJoin (or a cartesian product) — O(|points| ×
  * |intervals|) comparisons, a non-starter when either side is large.
  *
  * The scale path bucketizes time: a point hashes to exactly ONE bin
  * (`floor(epoch / binSeconds)`), an interval explodes to the few bins it
  * overlaps, and the join becomes a plain equi hash join on `_bin` with the
  * exact containment predicate as a residual filter. Because the point side
  * contributes one row per point, a (point, interval) pair can meet in at
  * most one bin — no post-join dedup. This is the standard binned
  * range-join scheme (cf. Spark's own range-join hints in Databricks docs
  * and DuckDB's IEJoin alternative; reference analyses join on date
  * windows, e.g. macros/compare_dev_prod.sql date filters).
  *
  * At 100 TB: pick `binSeconds` near the median interval width so each
  * interval explodes to ≤2-3 rows (explosion factor = width/bin + 1). The
  * exploded interval side shuffles by `_bin` — co-partitioned with the
  * point side's single exchange; AQE broadcasts it when small and
  * skew-splits hot bins (a flash-sale day) when not. Nothing is collected
  * to the driver and no nested loop ever plans (PlanSpec-asserted).
  */
object RangeJoin {

  /** Join `points` (timestamp `pointCol`) to `intervals` ([startCol,
    * endCol) timestamps) containing them. Output = point columns +
    * interval columns, inner semantics. */
  def binned(points: DataFrame, pointCol: String, intervals: DataFrame,
             startCol: String, endCol: String, binSeconds: Long): DataFrame = {
    require(binSeconds > 0, "binSeconds must be positive")
    // NTZ/date columns don't cast to long directly; epoch-seconds via a
    // timestamp cast (a no-op for ltz). Both sides use the same conversion,
    // so bin assignment stays consistent whatever the session zone.
    def secs(c: org.apache.spark.sql.Column) = c.cast("timestamp").cast("long")
    val p = points.withColumn("_bin", floor(secs(col(pointCol)) / binSeconds))
    // Degenerate intervals (end <= start) match nothing under [start, end)
    // semantics — drop them BEFORE the explode: Spark's sequence(a, b) with
    // b < a silently generates a DESCENDING range, so a year-reversed
    // interval would otherwise explode into thousands of spurious bins.
    // end is exclusive: the last covered bin is the one holding end-1s.
    val iv = intervals
      .where(col(endCol) > col(startCol))
      .withColumn("_bin",
        explode(sequence(floor(secs(col(startCol)) / binSeconds),
                         floor((secs(col(endCol)) - 1) / binSeconds))))
    p.join(iv, Seq("_bin"))
      .where(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("_bin")
  }

  /** Driver query: shipment activity inside per-order audit windows
    * ([o_orderdate-3d, o_orderdate+4d) for a 1%-sample of orders) counted
    * over the whole lineitem fact — a pure range join (shipments carry no
    * key to the sampled windows). Windows with zero shipments survive via
    * the left re-attach, which AQE broadcasts (the window set ≪ fact). */
  def shipmentsInWindows(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val windows = orders
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey").as("window_id"),
              (col("o_orderdate") - expr("INTERVAL 3 DAYS")).as("start_ts"),
              (col("o_orderdate") + expr("INTERVAL 4 DAYS")).as("end_ts"))
    val points = lineitem.select(col("l_shipdate"), col("l_quantity"))
    val hits = binned(points, "l_shipdate", windows, "start_ts", "end_ts",
                      binSeconds = 7L * 86400)
      .groupBy("window_id")
      .agg(count(lit(1)).as("n_ship"),
           sum(col("l_quantity").cast("long")).as("sum_qty"))
    windows.select("window_id")
      .join(hits, Seq("window_id"), "left")
      .select(col("window_id"),
              coalesce(col("n_ship"), lit(0L)).as("n_ship"),
              coalesce(col("sum_qty"), lit(0L)).as("sum_qty"))
  }
}
