package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{DataType, StructType}

/** Column ⇄ Expression bridge. `ExpressionUtils` is `private[sql]`, so this
  * one-liner lives under `org.apache.spark.sql` — the standard pattern for
  * Spark-native extension libraries shipping custom Catalyst expressions. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `DataType.equalsIgnoreNullability` is `private[sql]`: the same type
    * up to array containsNull, map valueContainsNull and nested field
    * nullable flags. */
  def equalsIgnoreNullability(a: DataType, b: DataType): Boolean =
    DataType.equalsIgnoreNullability(a, b)

  /** Of two types equal up to nullability, the more nullable form — every
    * nullability flag OR'd (`StructType.merge`, `private[sql]`). */
  def moreNullable(a: DataType, b: DataType): DataType = StructType.merge(a, b)

  /** Wrap a logical plan into a DataFrame (classic Dataset.ofRows). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `cloneSession()` is `private[sql]`: a child session that starts from a
    * COPY of the parent's state — runtime conf, temp views, functions and
    * listeners included — and owns its conf and query manager from then on. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Run an extensions installer and register its injected FUNCTIONS into
    * an existing session's registry. `SparkSessionExtensions` is normally
    * consumed only while a session is BUILT, which makes the injection
    * path untestable from a shared-session suite (builder.getOrCreate
    * returns the existing session and silently drops withExtensions);
    * this drives the same private[sql] registration hook the builder
    * uses. Functions only — planner strategies are exercised elsewhere. */
  def installFunctions(f: org.apache.spark.sql.SparkSessionExtensions => Unit,
                       session: org.apache.spark.sql.SparkSession): Unit = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    f(ext)
    ext.registerFunctions(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry)
  }
}
