package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The dbt_utils staples a user of the reference template gets for free —
  * reference packages.yml:2 pins `dbt-labs/dbt_utils 1.3.0`. Each macro is
  * re-expressed as a library function over Columns/DataFrames.
  */
object DbtUtils {

  /** `dbt_utils.generate_surrogate_key`: md5 over the '-'-joined, null-safe
    * string casts of the key columns. NULLs map to the sentinel
    * '_dbt_utils_surrogate_key_null_' (dbt_utils 1.x semantics) so
    * (NULL, 'a') and ('a', NULL) stay distinct and keys are stable across
    * engines. Pure codegen'd expression — no shuffle, safe in any hot path. */
  def surrogateKey(cols: Seq[Column]): Column =
    md5(concat_ws("-", cols.map(c =>
      coalesce(c.cast("string"), lit("_dbt_utils_surrogate_key_null_"))): _*))

  /** Driver wiring: surrogate key of the natural order attributes. */
  def surrogateKeyQuery(orders: DataFrame): DataFrame =
    orders.select(col("o_orderkey"),
        surrogateKey(Seq(col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"))).as("surrogate_key"))

  /** `dbt_utils.date_spine` at day grain over [start, endExclusive).
    * Distributed via `spark.range` (not a driver-side collection), so a
    * century-long spine is still a parallel scan; the calendar arithmetic
    * is a codegen'd date_add. */
  def dateSpine(spark: SparkSession, start: String, endExclusive: String): DataFrame = {
    val n = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(start), java.time.LocalDate.parse(endExclusive))
    require(n > 0, s"empty date spine [$start, $endExclusive)")
    spark.range(n)
      .select(date_add(lit(java.sql.Date.valueOf(start)), col("id").cast("int"))
        .as("date_day"))
  }

  /** `dbt_utils.star`: every column of `from` except `except`, each
    * optionally re-aliased with a prefix/suffix — the macro users reach for
    * to copy a relation minus its housekeeping columns. Pure projection
    * (column pruning reaches the scan; at 100 TB the excepted columns are
    * never read). */
  def star(from: DataFrame, except: Seq[String] = Nil,
           prefix: String = "", suffix: String = ""): Seq[Column] = {
    val drop = except.map(_.toLowerCase).toSet
    from.columns.filterNot(c => drop(c.toLowerCase))
      .map(c => col(c).as(prefix + c + suffix)).toSeq
  }

  /** `dbt_utils.unpivot`: melt `valueCols` into (field_name, field_value)
    * rows, values cast to string (the macro's common-type rule). Uses
    * Spark's native unpivot (Expand) — one map-side row-amplification, no
    * shuffle, no per-column scans. */
  def unpivot(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
              fieldName: String = "field_name",
              valueName: String = "field_value"): DataFrame =
    df.select((idCols.map(col) ++
        valueCols.map(c => col(c).cast("string").as(c))): _*)
      .unpivot(idCols.map(col).toArray, valueCols.map(col).toArray,
        fieldName, valueName)

  /** `dbt_utils.union_relations`: union frames with differing schemas by
    * NAME — the target schema is every column in first-seen order, missing
    * columns fill with typed NULLs, and `_dbt_source_relation` tags each
    * row's provenance (the macro's contract). Pure projections + unionAll:
    * no shuffle; each source keeps its own scan pruning. */
  def unionRelations(relations: Seq[(String, DataFrame)]): DataFrame = {
    require(relations.nonEmpty, "union_relations of nothing")
    val target = scala.collection.mutable.LinkedHashMap[String, org.apache.spark.sql.types.DataType]()
    relations.foreach { case (_, df) =>
      df.schema.fields.foreach(f => target.getOrElseUpdate(f.name, f.dataType))
    }
    relations.map { case (name, df) =>
      val have = df.columns.toSet
      df.select(target.toSeq.map { case (c, dt) =>
        if (have(c)) col(c).cast(dt).as(c) else lit(null).cast(dt).as(c)
      } :+ lit(name).as("_dbt_source_relation"): _*)
    }.reduce(_.unionAll(_))
  }

  /** dbt_utils generic tests as one violations suite (same shape as
    * Checks.testSuite): `equal_rowcount`, `at_least_one`, `not_constant`.
    * Each test is a distributed aggregate folded to a one-row summary. */
  def utilsTests(orders: DataFrame, customer: DataFrame): DataFrame = {
    def row(name: String, violations: DataFrame): DataFrame =
      violations.select(lit(name).as("test_name"), col("violations"))

    // equal_rowcount: violation count = |count(a) - count(b)|
    val equalSelf = row("equal_rowcount_orders_orders",
      orders.agg(count(lit(1)).as("na"))
        .crossJoin(orders.agg(count(lit(1)).as("nb")))
        .select(abs(col("na") - col("nb")).as("violations")))
    val equalCust = row("equal_rowcount_orders_customer",
      orders.agg(count(lit(1)).as("na"))
        .crossJoin(customer.agg(count(lit(1)).as("nb")))
        .select(abs(col("na") - col("nb")).as("violations")))
    // at_least_one: fails (1 violation) iff no non-null value exists
    val atLeastOne = row("at_least_one_o_totalprice",
      orders.agg(count(col("o_totalprice")).as("n"))
        .select(when(col("n") >= 1, 0L).otherwise(1L).as("violations")))
    // not_constant: fails iff the column has a single distinct value
    val notConstant = row("not_constant_o_totalprice",
      orders.agg(countDistinct(col("o_totalprice")).as("n"))
        .select(when(col("n") > 1, 0L).otherwise(1L).as("violations")))
    // unique_combination_of_columns: combos appearing more than once
    val uniqueCombo = row("unique_combination_o_custkey_o_orderdate",
      orders.groupBy("o_custkey", "o_orderdate").count()
        .filter(col("count") > 1)
        .agg(count(lit(1)).as("violations")))
    // accepted_range: rows outside [min, max]
    val acceptedRange = row("accepted_range_o_totalprice",
      orders.filter(col("o_totalprice") < 0 || col("o_totalprice") > 1000000)
        .agg(count(lit(1)).as("violations")))

    equalSelf.unionAll(equalCust).unionAll(atLeastOne).unionAll(notConstant)
      .unionAll(uniqueCombo).unionAll(acceptedRange)
  }
}
