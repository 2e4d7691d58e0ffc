package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Det._

/** The analytic core: grouped aggregation, star joins, windows, rollup,
  * pivot — the day-to-day SQL a warehouse-dbt user runs, expressed
  * Spark-first so Catalyst handles pushdown/pruning and AQE the shuffles.
  *
  * Scale notes per operator are on each method; the common rules:
  *  - dims (region/nation/supplier/part) are broadcast — no shuffle;
  *  - fact aggregates rely on partial (map-side) aggregation;
  *  - every output has a total-order sort only as the final, small step.
  */
object Analytics {

  private def revenueCents: Column =
    cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))

  /** TPC-H Q1-shaped pricing summary: one shuffle (partial agg → 6 groups). */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        intSum(col("l_quantity")).as("sum_qty"),
        centsSum(col("l_extendedprice")).as("sum_base_price"),
        (sum(revenueCents) / 100.0).as("sum_disc_price"),
        (sum(revenueCents) / 100.0 / count(lit(1))).as("avg_disc_price"),
        count(lit(1)).as("count_order"),
      )
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3-shaped: selective dim filter → join → agg → total-order top-K.
    * customer carries NO broadcast hint on purpose: it scales with SF, so
    * the choice belongs to AQE's auto-broadcast (it broadcasts below the
    * threshold, shuffle-joins above — a hint would force an OOM at 100 TB).
    * Revenue ordering is on exact integer cents, so the top-K frontier
    * can't flip with partitioning. */
  def topRevenueOrders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                       segment: String = "BUILDING", k: Int = 10): DataFrame =
    lineitem
      .filter(col("l_shipdate") > lit("1998-01-01"))
      .join(orders.filter(col("o_orderdate") < lit("1998-01-01")),
            col("l_orderkey") === col("o_orderkey"))
      .join(customer.filter(col("c_mktsegment") === segment),
            col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("order_date"),
               col("o_orderpriority"))
      .agg((sum(revenueCents) / 100.0).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(k)

  /** TPC-H Q5-shaped 6-table star join. Only the FIXED-cardinality dims
    * (region: 5 rows, nation: 25) carry broadcast hints — they are tiny at
    * every SF. customer/supplier scale with SF, so their join strategy is
    * left to AQE auto-broadcast (broadcast below threshold, shuffle above);
    * a forced hint would OOM at 100 TB. One fact shuffle for the group-by. */
  def revenueByNation(region: DataFrame, nation: DataFrame, customer: DataFrame,
                      supplier: DataFrame, orders: DataFrame, lineitem: DataFrame,
                      regionName: String = "ASIA"): DataFrame =
    lineitem
      .join(orders.filter(col("o_orderdate") >= lit("1996-01-01") &&
                          col("o_orderdate") < lit("1998-01-01")),
            col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName)),
            col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg((sum(revenueCents) / 100.0).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  /** Running spend + sequence per customer. The window partitions by
    * customer — one shuffle, then linear per-partition work; the running sum
    * accumulates integer cents so it is exact at any scale. */
  def runningSpend(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.select(
      col("o_custkey"), col("o_orderkey"),
      centsSumOver(col("o_totalprice"), w).as("running_spend"),
      row_number().over(Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")).as("order_seq"),
    )
  }

  /** Multi-aggregate stats per group: exact counts/min/max/avg; stddev is
    * rounded (float accumulation) — documented tolerance. */
  def aggStats(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        centsAvg(col("o_totalprice")).as("avg_price"),
        round2(stddev_samp(col("o_totalprice"))).as("stddev_price"),
      )

  /** Semi/anti join expressed as existence flag: customers with/without
    * orders. The distinct-keys side is aggregated before the join (map-side
    * combine), so the join input is |customers-with-orders|, not |orders|. */
  def customerHasOrders(customer: DataFrame, orders: DataFrame): DataFrame = {
    val buyers = orders.select(col("o_custkey")).distinct()
    customer
      .join(buyers, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"),
              col("o_custkey").isNotNull.as("has_orders"))
  }

  /** Shared grouping-set measure block: count + exact cent sum. */
  private def groupingSetAgg(grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    grouped
      .agg(count(lit(1)).as("n_orders"),
           centsSum(col("o_totalprice")).as("total_price"))

  /** GROUP BY ROLLUP hierarchy totals. */
  def rollupAgg(orders: DataFrame): DataFrame =
    groupingSetAgg(orders.rollup(col("o_orderstatus"), col("o_orderpriority")))

  /** GROUP BY CUBE: all grouping-set combinations (the rollup's superset). */
  def cubeAgg(orders: DataFrame): DataFrame =
    groupingSetAgg(orders.cube(col("o_orderstatus"), col("o_orderpriority")))

  /** ARBITRARY `GROUP BY GROUPING SETS`: the general form rollup/cube are
    * shorthands for — here the two single-column marginals plus the grand
    * total, WITHOUT the pairwise cells a cube would also pay for. Spark
    * exposes grouping sets only through SQL, so the operator goes through
    * `spark.sql` over a temp view; physically it is the same single-pass
    * Expand + one aggregate exchange as rollup/cube (each input row fans
    * out once per set — never one job per set). */
  def groupingSetsAgg(orders: DataFrame): DataFrame = {
    val v = s"gs_orders_${System.identityHashCode(orders)}"
    orders.createOrReplaceTempView(v)
    orders.sparkSession.sql(
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
         |  SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) / CAST(100 AS DOUBLE) AS total_price
         |FROM $v
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY o_orderstatus ASC NULLS FIRST,
         |  o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  /** INTERSECT / EXCEPT set algebra over customer-year activity, computed
    * in ONE scan: range predicates (pushable to the parquet scan, unlike a
    * year() wrapper) + per-customer membership flags — equivalent to the
    * distinct-INTERSECT/EXCEPT formulation but 1 shuffle instead of 4. */
  def setOps(orders: DataFrame): DataFrame = {
    val d = col("o_orderdate")
    val flags = orders
      .filter(d >= lit("1996-01-01") && d < lit("1998-01-01"))
      .groupBy(col("o_custkey"))
      .agg(max(d < lit("1997-01-01")).as("b96"),
           max(d >= lit("1997-01-01")).as("b97"))
    flags.filter(col("b96"))
      .select(when(col("b97"), "both_years").otherwise("only_1996").as("set_op"),
              col("o_custkey"))
  }

  /** Long→wide pivot on event_type with exact cent sums per cell. */
  def pivotEventValues(events: DataFrame): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val agged = events.groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(sum(cents(col("value"))))
    // zero-fill AFTER the pivot: missing (user, type) cells surface as NULL
    // in the pivoted columns, not inside the pre-pivot aggregate
    types.foldLeft(agged) { (df, t) =>
      df.withColumn(s"${t}_value", coalesce(col(t), lit(0L)) / 100.0).drop(t)
    }
  }

  /** Exact interpolated quantiles per group (percentile = sort + linear
    * interpolation at p*(n-1), the same definition as SQL PERCENTILE_CONT).
    * For 100 TB dashboards swap in approx_percentile (t-digest sketch) —
    * see [[approxDistinct]] for the sketch-aggregate pattern. */
  def quantiles(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderpriority"))
      .agg(
        round2(expr("percentile(o_totalprice, 0.5)")).as("p50"),
        round2(expr("percentile(o_totalprice, 0.9)")).as("p90"),
        round2(expr("percentile(o_totalprice, 0.99)")).as("p99"),
      )

  /** HLL++ sketch count-distinct — constant memory per group at any scale,
    * spec-bounded within 5% of exact. */
  def approxDistinct(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderpriority"))
      .agg(approx_count_distinct(col("o_custkey"), rsd = 0.02).as("approx_customers"))

  /** Theta-sketch count-distinct per group (Spark's DataSketches
    * `theta_sketch_agg`) at an EXACT configuration (2^lg nominal entries
    * above every group's cardinality ⇒ θ = 1 ⇒ the sketch IS the
    * distinct set): the oracle-adjudicated twin of [[approxDistinct]]'s
    * HLL — which has no exact regime to pin — proving the mergeable
    * sketch path against plain COUNT(DISTINCT) SQL; production sizes lg
    * down (8 ⇒ ~6% rse) on the same plan. */
  def approxDistinctTheta(orders: DataFrame, lg: Int = 16): DataFrame =
    orders.groupBy(col("o_orderpriority"))
      .agg(theta_sketch_estimate(theta_sketch_agg(col("o_custkey"), lg))
        .as("approx_customers"))

  /** Sketch quantiles (Greenwald-Khanna): mergeable constant-ish memory per
    * group — the 100 TB path for [[quantiles]]; spec-bounded vs exact. */
  def approxQuantiles(orders: DataFrame, accuracy: Int = 10000): DataFrame =
    orders.groupBy(col("o_orderpriority"))
      .agg(
        percentile_approx(col("o_totalprice"), lit(0.5), lit(accuracy))
          .as("p50_approx"),
        percentile_approx(col("o_totalprice"), lit(0.9), lit(accuracy))
          .as("p90_approx"))
  // accuracy=1e7 pins the GK rank error under one rank at the driver's
  // group sizes (eps·n = n/1e7 < 1), so the sketch answers the EXACT
  // lower-rank order statistic — DuckDB's quantile_disc — and the approx
  // path gains an oracle at that configuration (the ann_pq_q pattern).

  /** t-digest sketch quantiles (graft.functions.TDigestAgg): a few KB per
    * group at any scale, mergeable on the map side, tail-accurate — the
    * 100 TB replacement for exact `percentile`. Spec-bounded vs the exact
    * quantiles; approximate by design → rows-only driver check.
    *
    * `compression` above π·N/2 (N = largest group) is the EXACT regime:
    * the k1 scale function's tightest capacity window (π/δ of q-space, at
    * the median) then holds less than two unit points, so no merge ever
    * fires, every centroid stays a singleton input value, and the midpoint
    * interpolation is a closed form over the sorted values — which SQL can
    * state exactly. That configuration is the oracle-adjudicated twin
    * (tdigest_quantiles_x); the default δ=100 is the production sketch. */
  def tdigestQuantiles(orders: DataFrame,
                       compression: Double = 100.0): DataFrame =
    orders.groupBy(col("o_orderpriority"))
      .agg(graft.functions.TDigestAgg
        .tdigestQuantiles(col("o_totalprice"), Seq(0.5, 0.9, 0.99),
          compression).as("qs"))
      .select(col("o_orderpriority"),
        round(element_at(col("qs"), 1), 2).as("p50_est"),
        round(element_at(col("qs"), 2), 2).as("p90_est"),
        round(element_at(col("qs"), 3), 2).as("p99_est"))

  /** Exact-regime twin of [[tdigestQuantiles]] with compression derived
    * from the DATA, not hard-coded: the all-singleton-centroid regime
    * needs δ > π·N/2 for every group, so δ = π·maxGroupCount + 1 (a 2×
    * margin over the bound) holds at ANY scale factor — a fixed δ would
    * silently leave the exact regime once the largest group outgrows it
    * (~76k rows at δ=120000) and the closed-form SQL oracle would
    * diverge mysteriously. Costs one extra count job at build time;
    * this is a verification query, not a hot-path one. Memory note: in
    * this regime the digest holds one centroid per row per group — the
    * POINT is adjudicating the sketch machinery against exact SQL, so
    * the regime is only sane at verification scales. */
  def tdigestQuantilesExact(orders: DataFrame): DataFrame = {
    val maxGroup = orders.groupBy(col("o_orderpriority")).count()
      .agg(max("count")).head.getLong(0)
    tdigestQuantiles(orders, compression = math.Pi * maxGroup + 1)
  }

  /** Calendar dimension extraction (the BigQuery EXTRACT() family).
    * dow normalized to 0=Sunday to match ANSI/DuckDB. */
  def dateParts(orders: DataFrame): DataFrame = {
    val d = col("o_orderdate")
    orders.select(
      col("o_orderkey"),
      year(d).as("y"), quarter(d).as("q"), month(d).as("m"),
      dayofmonth(d).as("d"),
      (dayofweek(d) - 1).as("dow"),
      weekofyear(d).as("week"),
    )
  }

  /** Customer lifetime-value mart: per-customer order aggregates + a
    * spend rank within market segment — the two-level agg→window pattern
    * every warehouse mart uses. Shuffles: one for the agg (by customer),
    * one for the segment window; the rank orders on exact cents. */
  def customerLtv(customer: DataFrame, orders: DataFrame): DataFrame = {
    val perCustomer = orders.groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("spend_cents"),
        min(col("o_orderdate").cast("date")).as("first_order"),
        max(col("o_orderdate").cast("date")).as("last_order"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("spend_cents").desc, col("c_custkey"))
    customer
      .join(perCustomer, col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("n_orders"), (col("spend_cents") / 100.0).as("total_spend"),
        col("first_order"), col("last_order"),
        datediff(col("last_order"), col("first_order")).as("tenure_days"),
        rank().over(w).cast("long").as("segment_spend_rank"))
  }

  /** Exact dedup via DISTINCT (one shuffle, map-side partial distinct). */
  def distinctStatusPriority(orders: DataFrame): DataFrame =
    orders.select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct()

  /** Cohort retention: customers grouped by first-order month, counted in
    * each subsequent month they re-order. The cohort month rides a window
    * min over the SAME customer partitioning the final distinct-count
    * needs, so the whole query is the customer shuffle + the (small)
    * cohort-cell aggregation — no self-join back to the fact. Month offset
    * is integer calendar arithmetic (no months_between floats). */
  def cohortRetention(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey")
    orders
      .select(col("o_custkey"),
        date_trunc("month", col("o_orderdate")).cast("date").as("order_month"),
        date_trunc("month", min(col("o_orderdate")).over(w)).cast("date").as("cohort_month"))
      .withColumn("month_offset",
        ((year(col("order_month")) - year(col("cohort_month"))) * 12 +
         (month(col("order_month")) - month(col("cohort_month")))).cast("long"))
      .groupBy("cohort_month", "month_offset")
      .agg(countDistinct(col("o_custkey")).as("n_customers"))
  }

  /** Fixed-width value histogram. Bucketing happens on exact integer cents
    * (`round(x*100)` is exact for 2-decimal money), so bucket boundaries
    * can't flip with engine float-division differences; one map-side-combined
    * shuffle to ≤ #buckets groups. */
  def histogram(orders: DataFrame, widthCents: Long = 5000000L): DataFrame =
    orders
      .select((cents(col("o_totalprice")) / widthCents)
        .cast("long").as("bucket"),
        col("o_totalprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
           centsSum(col("o_totalprice")).as("total_price"))
      .withColumn("bucket_lo", col("bucket") * (widthCents / 100.0))
      .select("bucket", "bucket_lo", "n_orders", "total_price")

  /** Join-key skew report — the diagnostic that decides whether a join
    * needs `Skew.saltedJoin` or AQE skew handling: the k heaviest keys
    * with their row share. Map-side partial counts per key, a broadcast
    * 1-row total, and a TakeOrderedAndProject top-k — no global sort, no
    * driver collection, at any key cardinality. */
  def skewReport(df: DataFrame, keyCol: String, k: Int = 10): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    // total = sum of the per-key counts — O(distinct keys), and the
    // per-key exchange is shared (ReusedExchange), so the fact scans ONCE;
    // a df.agg(count(*)) here would be a second full pass over the fact
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col(keyCol), col("cnt"),
        round4(col("cnt") / col("total")).as("share"))
      .orderBy(col("cnt").desc, col(keyCol))
      .limit(k)
  }

  /** Pearson correlation + covariance of quantity vs price per return
    * flag — the BI correlation staple. One map-side-combined shuffle (the
    * co-moment accumulators are algebraic); outputs round to fixed scale
    * because float co-moments are partition-order sensitive at the last
    * ulp. */
  def corrStats(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           round4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
           round2(covar_samp(col("l_quantity"), col("l_extendedprice"))).as("covar_qty_price"))

  /** Equal-frequency (quartile) bucketing WITHOUT a global sort. ntile(n)
    * needs one total ordering of the table — at 100 TB that
    * single-partition window is the bottleneck — so instead: percentile
    * cutpoints (one aggregate), broadcast the 3-value bounds row, assign
    * buckets with a comparison chain (scan-bound), aggregate per bucket.
    * `exact=true` (the oracle-matched default) uses exact `percentile`,
    * whose merge buffer is O(distinct values) on one task — fine at test
    * SFs, NOT at 100 TB; there pass `exact=false` for the mergeable
    * constant-memory GK sketch cutpoints (identical plan shape, cutpoints
    * within the sketch's rank error). Cutpoints round to cents so bucket
    * membership can't flip on engine float dust. */
  def quantileBucket(orders: DataFrame, exact: Boolean = true): DataFrame = {
    def pct(q: Double): Column =
      if (exact) expr(s"percentile(o_totalprice, $q)")
      else expr(s"approx_percentile(o_totalprice, $q, 10000)")
    val bounds = orders.agg(
      round2(pct(0.25)).as("q1"),
      round2(pct(0.5)).as("q2"),
      round2(pct(0.75)).as("q3"))
    orders.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col("o_totalprice") <= col("q1"), 1L)
          .when(col("o_totalprice") <= col("q2"), 2L)
          .when(col("o_totalprice") <= col("q3"), 3L)
          .otherwise(4L))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
           min(col("o_totalprice")).as("min_price"),
           max(col("o_totalprice")).as("max_price"))
  }

  /** Trailing-window z-score anomaly flags on an operational metric
    * (daily order count per priority class). The fact aggregates FIRST
    * (one map-side-combined shuffle to days × priorities cells); the
    * trailing 30-day avg/stddev window then runs on that tiny series —
    * time-series anomaly state never scales with the fact, only with the
    * calendar. z is computed from round4'd stats so flags can't flip on
    * float dust; the first 10 days per key are 'warmup', zero-variance
    * windows are 'na'. */
  /** Theta-sketch segment algebra — "how many distinct users are in
    * segment A, B, their union, their INTERSECTION" from one scan and two
    * sketches (Spark's DataSketches `theta_*` built-ins, 2^lg nominal
    * entries). HLL answers the first three; only a sampling sketch
    * composes under intersection. Exact ground truth rides beside the
    * estimates (one user-grouped aggregate) so the output is
    * self-auditing; at 100 TB you'd drop the exact half — that is the
    * half that shuffles one row per distinct user, while the sketch half
    * ships one sketch per partition. The union passes `lg` (without it
    * `theta_union` falls back to 12). Rows-only (estimates); the spec
    * bounds relative error at saturation and pins exact mode below 2^lg
    * + partition invariance. */
  def thetaSegments(events: DataFrame, lg: Int = 8): DataFrame = {
    val a = when(col("event_type") === "click", col("user_id"))
    val b = when(col("event_type") === "purchase", col("user_id"))
    def est(sk: Column) = theta_sketch_estimate(sk).cast("double")
    val sk = events.agg(theta_sketch_agg(a, lg).as("ska"),
        theta_sketch_agg(b, lg).as("skb"))
      .select(
        est(col("ska")).as("est_click"),
        est(col("skb")).as("est_purchase"),
        est(theta_union(col("ska"), col("skb"), lg)).as("est_union"),
        est(theta_intersection(col("ska"), col("skb"))).as("est_intersect"))
    val per = events.filter(col("event_type").isin("click", "purchase"))
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "click", 1).otherwise(0)).as("ha"),
           max(when(col("event_type") === "purchase", 1).otherwise(0)).as("hb"))
    val exact = per.agg(
      sum("ha").as("exact_click"), sum("hb").as("exact_purchase"),
      count(lit(1)).as("exact_union"),
      sum(col("ha") * col("hb")).as("exact_intersect"))
    sk.crossJoin(broadcast(exact))
  }

  /** Pre-aggregated sketch ROLLUP — the Druid/Pinot datasketches pattern
    * that makes distinct-count dashboards O(cells) instead of O(events):
    * stage 1 materializes a sketch TABLE at (day, event_type) grain (one
    * KB-scale theta sketch + exact event count per cell — the only pass
    * over the raw events); stage 2 answers "distinct users per type" by
    * MERGING the stored sketches (`theta_union_agg`) without rescanning a
    * single event row. Any slice (a day range, one type, all
    * types) is the same merge over fewer or more cells; theta sketches
    * compose under union AND intersection, which is why the stored grain
    * can be finer than every query it serves.
    *
    * At SparkEntry's scales every per-type user set is below 2^lg, so
    * the sketch path is EXACT by the theta contract (θ = 1 until
    * saturation) and the oracle is plain COUNT(DISTINCT) SQL — the
    * ann_pq_q adjudication pattern; production sizes lg down (12 ⇒ ~2%
    * error) and the merge cost doesn't change. */
  def sketchRollup(events: DataFrame, lg: Int = 14): DataFrame =
    sketchRollupFromCells(sketchCells(events, lg), lg)

  /** Stage 1: the STORED rollup table — one theta sketch + event count per
    * (day, event_type) cell. `sk` is DataSketches' binary compact theta
    * sketch, the format Druid and Pinot store, so any DataSketches
    * reader merges the cells. In production this is written once per
    * ingest period (a TxLogFormat table) and every rollup query reads
    * only it; [[sketchRollupFromCells]] is that query. */
  def sketchCells(events: DataFrame, lg: Int = 14): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(theta_sketch_agg(col("user_id"), lg).as("sk"),
        count(lit(1)).as("n_events"))

  /** Stage 2: merge-only — "distinct users per type" from the stored
    * cells, never touching an event row. Any slice (a day range, one
    * type, all types) is the same merge over fewer or more cells. The
    * union aggregate folds each cell into one sketch of 2^lg nominal
    * entries, map-side partials included, so a group's state does not
    * grow with its number of cells. */
  def sketchRollupFromCells(cells: DataFrame, lg: Int = 14): DataFrame =
    cells.groupBy("event_type")
      .agg(sum("n_events").as("n_events"),
        theta_sketch_estimate(theta_union_agg(col("sk"), lg))
          .as("distinct_users"))

  /** Time-series gap fill — regularize a sparse daily series onto a dense
    * per-key day spine: missing days materialize with count 0 and the last
    * observed metric carried forward (`last(..., ignoreNulls)` over the
    * same (key, day) window the series already shuffles on — no self-join,
    * no driver loop). The spine explodes from one #keys-row aggregate
    * (`sequence(min_day, max_day)`), so the only data-scale shuffle is the
    * daily aggregate itself; the spine join broadcasts the daily side's
    * keys... at 100 TB both sides hash-partition on (key, day) and the
    * spine is still map-side amplification of a tiny frame. */
  def gapFill(orders: DataFrame): DataFrame = {
    val day = col("o_orderdate").cast("date")
    val daily = orders.groupBy(col("o_orderpriority"), day.as("day"))
      .agg(count(lit(1)).as("n"), max("o_totalprice").as("mx"))
    val spine = daily.groupBy("o_orderpriority")
      .agg(min("day").as("lo"), max("day").as("hi"))
      .select(col("o_orderpriority"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy("o_orderpriority").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("o_orderpriority", "day"), "left")
      .select(col("o_orderpriority"), col("day"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        last(col("mx"), ignoreNulls = true).over(w).as("last_max_price"),
        col("n").isNull.as("was_gap"))
  }

  def metricAnomaly(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(col("o_orderpriority"),
               col("o_orderdate").cast("date").as("day"))
      .agg(count(lit(1)).as("n_orders"))
    val w = Window.partitionBy("o_orderpriority").orderBy("day")
    val trail = w.rowsBetween(-30, -1)
    daily
      .withColumn("n_prev", count(col("n_orders")).over(trail))
      .withColumn("avg30", round4(avg(col("n_orders")).over(trail)))
      .withColumn("sd30", round4(stddev_samp(col("n_orders")).over(trail)))
      .withColumn("z",
        when(col("n_prev") >= 10 && col("sd30") > 0,
          round4((col("n_orders") - col("avg30")) / col("sd30"))))
      .withColumn("flag",
        when(col("n_prev") < 10, "warmup")
          .when(col("sd30") <= 0 || col("sd30").isNull, "na")
          .when(abs(col("z")) > lit(2.0), "anomaly")
          .otherwise("ok"))
      .select("o_orderpriority", "day", "n_orders", "avg30", "sd30", "z", "flag")
  }

  /** Gap-and-islands: consecutive-active-day streaks per user. Distinct
    * activity days → island id = day − row_number (constant within a run
    * of consecutive days) → per-island lengths → per-user summary. All
    * four steps hash/partition on user_id, so after the first exchange the
    * rest co-locate (AQE reuses the partitioning); per-user state is the
    * day list, never the raw events. */
  def streaks(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), (col("ts_s") / 86400).cast("long").as("day"))
      .distinct()
    val islands = days
      .withColumn("island",
        col("day") - row_number().over(
          Window.partitionBy("user_id").orderBy("day")))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"))
    islands.groupBy("user_id")
      .agg(sum(col("len")).as("n_active_days"),
           count(lit(1)).as("n_streaks"),
           max(col("len")).as("longest_streak"))
  }
}
