package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.col

/** A typed view of an order row — the case-class Encoder path for
  * pipelines that want compile-time column safety. */
case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                    o_totalprice: Double)

/** Typed `Aggregator` computing (count, exact cent sum) per group — the
  * Dataset-typed counterpart of `Det.centsSum`. The buffer is two longs
  * (mergeable, commutative → partition-invariant, map-side combined like
  * any Catalyst aggregate: Aggregator lowers to a TypedAggregateExpression
  * with partial aggregation, NOT a mapGroups shuffle of raw rows). Cents
  * round HALF_UP on the shortest decimal repr — bit-identical to
  * `round(x*100)` in Spark SQL and to the DuckDB oracle's ROUND (see
  * Det.scala's integer-scale rounding argument). */
object OrderStatsAgg extends Aggregator[OrderRow, (Long, Long), (Long, Double)] {
  override def zero: (Long, Long) = (0L, 0L)
  override def reduce(b: (Long, Long), a: OrderRow): (Long, Long) =
    (b._1 + 1, b._2 + RoundHalfUp.toLong(a.o_totalprice * 100))
  override def merge(x: (Long, Long), y: (Long, Long)): (Long, Long) =
    (x._1 + y._1, x._2 + y._2)
  override def finish(r: (Long, Long)): (Long, Double) = (r._1, r._2 / 100.0)
  override def bufferEncoder: Encoder[(Long, Long)] = Encoders.product
  override def outputEncoder: Encoder[(Long, Double)] = Encoders.product
}

object TypedAggs {
  /** Per-status order stats through the fully TYPED path: Dataset[OrderRow]
    * → groupByKey → custom Aggregator. Same single-shuffle plan as the
    * untyped groupBy/agg (spec-pinned partial aggregation); the typed layer
    * costs only the row de/serialization at the boundary. */
  def typedOrderStats(spark: SparkSession, orders: DataFrame): DataFrame = {
    import spark.implicits._
    val ds: Dataset[OrderRow] = orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
              col("o_totalprice"))
      .as[OrderRow]
    ds.groupByKey(_.o_orderstatus)
      .agg(OrderStatsAgg.toColumn.name("stats"))
      .toDF("o_orderstatus", "stats")
      .select(col("o_orderstatus"),
        col("stats._1").as("n_orders"),
        col("stats._2").as("total_spend"))
  }
}
