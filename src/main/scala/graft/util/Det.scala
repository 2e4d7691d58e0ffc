package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.RoundHalfUp

/** Determinism helpers: make float-bearing aggregates bit-identical across
  * engines (Spark partial-agg order vs DuckDB's) by doing all accumulation in
  * integer cents. Source prices are exact 2-decimal values, so
  * `round(x*100)` is an exact integer and long-sums are associative/exact.
  * This also matters at 100 TB: results stop depending on partitioning.
  */
object Det {
  /** Scale-0 HALF_UP rounding of a double column, bit for bit Spark's
    * `round(x, 0)` without its per-row BigDecimal
    * ([[graft.functions.RoundHalfUp]]). The one engine-side scale-0 round:
    * every helper below, and every integer-cents or micro-unit column of
    * the operators, rounds through it. Double input only. */
  def halfUp(c: Column): Column = Bridge.column(RoundHalfUp(Bridge.expression(c)))

  /** A 2-decimal money column as exact integer cents. */
  def cents(c: Column): Column = halfUp(c * 100).cast("long")

  /** Exact sum of a 2-decimal money column, returned as double. */
  def centsSum(c: Column): Column = sum(cents(c)) / 100.0

  /** Exact windowed running money sum. */
  def centsSumOver(c: Column, w: WindowSpec): Column = sum(cents(c)).over(w) / 100.0

  /** Exact average of a 2-decimal money column (exact sum / exact count). */
  def centsAvg(c: Column): Column = sum(cents(c)) / 100.0 / count(lit(1))

  /** Exact sum of an integral-valued double column (e.g. quantities). */
  def intSum(c: Column): Column = sum(c.cast("long"))

  /** Cross-engine-safe per-row rounding. `round(x, d)` for d>0 differs
    * between engines at half-boundaries of the *decimal repr* (Spark) vs the
    * *binary value* (DuckDB's round(x*10^d)/10^d); rounding at integer scale
    * agrees everywhere because a double's shortest repr reads "n.5" only
    * when the value is exactly n.5. */
  def round2(c: Column): Column = halfUp(c * 100) / 100.0
  def round4(c: Column): Column = halfUp(c * 10000) / 10000.0
}
