package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Scale-0 HALF_UP rounding of a double, bit-identical to Spark's
  * `round(x, 0)` without its per-row `java.math.BigDecimal`: Spark rounds
  * the decimal string `Double.toString(x)`, and that string lies on the
  * same side of every n.5 as the binary value (it parses back to `x`,
  * and n.5 is itself a double below 2^52), so rounding the binary value
  * gives the same integer. NaN and ±Inf pass through, null stays null,
  * and a zero result is +0.0, as Spark's is. Double input only: any
  * other type fails analysis, so an integral or decimal column cannot
  * reach the kernel through an implicit cast. */
case class RoundHalfUp(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects double, got ${dt.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_round_half_up"

  override def nullSafeEval(v: Any): Any = RoundHalfUp.round(v.asInstanceOf[Double])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${classOf[RoundHalfUp].getName}.round($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RoundHalfUp {
  /** `f = floor(|x|)`, plus one when `|x| − f >= 0.5` (the subtraction is
    * exact), with the sign restored. At |x| >= 2^52 every double is
    * integral and comes back unchanged. */
  def round(x: Double): Double = {
    val ax = Math.abs(x)
    if (!(ax < Double.PositiveInfinity)) return x // NaN, ±Inf
    val f = Math.floor(ax)
    val r = if (ax - f >= 0.5) f + 1.0 else f
    if (r == 0.0) 0.0 else if (x < 0) -r else r
  }

  private val TwoTo63 = math.pow(2, 63) // -2^63 is Long.MinValue

  /** [[round]] as a long: the one per-row scalar HALF_UP for the integer
    * cents and micro-unit twins of the column rounds. NaN, ±Inf and
    * values outside the long range have no such integer and fail with an
    * `IllegalArgumentException` naming the value, never a silent 0 or a
    * wrapped long. */
  def toLong(x: Double): Long = {
    val r = round(x)
    if (!(r >= -TwoTo63 && r < TwoTo63)) // NaN, ±Inf, out of range
      throw new IllegalArgumentException(s"no half-up long for $x")
    r.toLong
  }
}
