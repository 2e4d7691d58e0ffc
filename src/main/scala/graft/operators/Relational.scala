package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** dbt-style staging/mart transformations.
  *
  * Reference semantics: models/staging/stg_example.sql (select + cast typing)
  * and models/marts/fct_example.sql (derived CASE bucket; partition_by /
  * cluster_by handled by [[Materialize]]).
  */
object Relational {

  /** Staging view over `orders`: rename to business names, type casts.
    * (stg_example.sql:1-9 — `cast(created_at as timestamp)` style typing.) */
  def stgOrders(orders: DataFrame): DataFrame =
    orders.select(
      col("o_orderkey").as("order_key"),
      col("o_custkey").as("customer_key"),
      col("o_orderstatus").as("order_status"),
      col("o_totalprice").as("total_price"),
      col("o_orderdate").cast("date").as("order_date"),
      col("o_orderpriority").as("order_priority"),
    )

  /** Staging view over `lineitem` with derived per-row price columns.
    * Per-row arithmetic on doubles is IEEE-deterministic (no accumulation),
    * so plain `round(...,2)` is oracle-safe. */
  def stgLineitem(lineitem: DataFrame): DataFrame = {
    import graft.util.Det.round2
    val net = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    lineitem.select(
      col("l_orderkey"),
      col("l_linenumber"),
      col("l_quantity"),
      round2(net).as("net_price"),
      round2(net * (lit(1.0) + col("l_tax"))).as("gross_price"),
      col("l_returnflag"),
      col("l_shipdate").cast("date").as("ship_date"),
    )
  }

  /** Mart with CASE bucketing (fct_example.sql:8-11:
    * `case when value > 100 then 'high' else 'regular' end as bucket`). */
  def fctBucket(orders: DataFrame, threshold: Double = 100.0): DataFrame =
    orders.select(
      col("o_orderkey").as("id"),
      col("o_totalprice").as("value"),
      col("o_orderdate").as("created_at_ts"),
      when(col("o_totalprice") > threshold, "high").otherwise("regular").as("bucket"),
    )
}
