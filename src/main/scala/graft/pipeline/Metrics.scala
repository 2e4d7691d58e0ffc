package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One metric of the dbt semantic layer (dbt 1.6 / MetricFlow): an
  * aggregate DEFINED ONCE against a model, queryable only along its
  * declared dimensions. `agg` is a SQL aggregate expression over the
  * model's columns; `filter` is the metric's own WHERE (always applied —
  * consumers cannot forget it); `dimensions` are the only columns a query
  * may group or filter by; `timeDimension` enables grain rollups. */
final case class Metric(name: String, model: String, agg: String,
                        dimensions: Seq[String] = Nil,
                        timeDimension: Option[String] = None,
                        filter: Option[String] = None,
                        description: String = "")

/** Metric-query compiler. The semantic layer's value is governance: every
  * consumer of a metric computes the SAME number because the definition
  * (aggregate, base filter, legal slicings) lives in one place and the
  * query surface only accepts declared dimensions. Compilation is fully
  * declarative — one groupBy plan per query, so Catalyst/AQE treat a
  * metric query exactly like any hand-written aggregate (partial
  * aggregation, pushdown, one shuffle at any scale). */
object Metrics {

  private def refuseUndeclared(m: Metric, cols: Iterable[String],
                               what: String): Unit = {
    val allowed = m.dimensions.toSet ++ m.timeDimension
    val bad = cols.filterNot(allowed)
    require(bad.isEmpty,
      s"metric '${m.name}': $what references undeclared column(s) " +
        s"${bad.mkString(", ")} (declared: ${allowed.mkString(", ")})")
  }

  /** Compile one metric query: slice by `dims` (⊆ declared), optionally
    * roll up the time dimension to `grain` (emitted as
    * `<timeDim>_<grain>`, a formatted date string — engine-portable), and
    * AND an ad-hoc `where` that may only reference declared dimensions. */
  def query(frame: DataFrame, m: Metric, dims: Seq[String],
            grain: Option[String] = None,
            where: Option[String] = None): DataFrame = {
    refuseUndeclared(m, dims, "query")
    require(grain.isEmpty || m.timeDimension.nonEmpty,
      s"metric '${m.name}' declares no time dimension; cannot roll up to " +
        grain.getOrElse(""))
    where.foreach { w =>
      val parsed = frame.sparkSession.sessionState.sqlParser.parseExpression(w)
      // Expression.collect does NOT descend into a subquery's inner plan,
      // so `exists(select ... where undeclared > 0)` would sail past the
      // attribute check below — refuse subqueries outright (r7 advice): a
      // governed slice filter is a predicate over declared dimensions, not
      // an escape hatch into arbitrary relations.
      val subs = parsed.collect {
        case s: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] => s }
      require(subs.isEmpty,
        s"metric '${m.name}': filter may not contain subqueries " +
          s"(governance: only declared dimensions are queryable): $w")
      val refs = parsed
        .collect { case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name }
      refuseUndeclared(m, refs, "filter")
    }
    val base0 = m.filter.fold(frame)(f => frame.filter(expr(f)))
    val base = where.fold(base0)(w => base0.filter(expr(w)))
    val grainName = grain.map(g => s"${m.timeDimension.get}_$g")
    val grainCol = grain.map(g => date_format(
      date_trunc(g, col(m.timeDimension.get).cast("timestamp")),
      "yyyy-MM-dd").as(grainName.get))
    val keys = dims.map(col) ++ grainCol.toSeq
    if (keys.isEmpty) base.agg(expr(m.agg).as(m.name))
    else base.groupBy(keys: _*).agg(expr(m.agg).as(m.name))
  }

  /** Aggregate functions `queryAll` can push a metric filter into (the
    * SQL `FILTER (WHERE ...)` clause attaches per aggregate call). Metrics
    * whose aggregates fall outside this set still work through [[query]]. */
  private val filterableAggs = Set("sum", "count", "avg", "mean", "min",
    "max", "first", "last", "any_value", "count_if", "median", "mode",
    "stddev", "stddev_samp", "stddev_pop", "variance", "var_samp", "var_pop",
    "corr", "covar_samp", "covar_pop", "approx_count_distinct",
    "percentile", "percentile_approx", "collect_list", "collect_set")

  /** Several metrics of ONE model in one pass: each metric's filter is
    * attached to its aggregate calls as a `FILTER (WHERE ...)` clause
    * (conditional aggregation), so the scan and the shuffle are paid once
    * no matter how many metrics ride along. */
  def queryAll(frame: DataFrame, ms: Seq[Metric],
               dims: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.Expression
    require(ms.nonEmpty, "queryAll needs at least one metric")
    require(ms.map(_.model).distinct.size == 1,
      s"queryAll spans models ${ms.map(_.model).distinct.mkString(", ")} — " +
        "metrics merge only within one model")
    ms.foreach(m => refuseUndeclared(m, dims, "query"))
    val parser = frame.sparkSession.sessionState.sqlParser
    val aggs = ms.map { m =>
      val parsed = parser.parseExpression(m.agg)
      val withFilter = m.filter.fold(parsed) { f =>
        val fe = parser.parseExpression(f)
        def attach(e: Expression): Expression = e match {
          case uf: UnresolvedFunction
              if filterableAggs(uf.nameParts.last.toLowerCase) &&
                uf.filter.isEmpty =>
            uf.copy(filter = Some(fe))
          case other => other.mapChildren(attach)
        }
        val attached = attach(parsed)
        require(attached != parsed || m.filter.isEmpty,
          s"metric '${m.name}': cannot push its filter into '${m.agg}' — " +
            "no recognizable aggregate call; query it via Metrics.query")
        attached
      }
      org.apache.spark.sql.graftbridge.Bridge.column(withFilter).as(m.name)
    }
    if (dims.isEmpty) frame.agg(aggs.head, aggs.tail: _*)
    else frame.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
