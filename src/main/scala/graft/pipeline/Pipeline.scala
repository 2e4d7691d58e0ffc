package graft.pipeline

import graft.sources.Parquet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** How a model persists — the Spark re-expression of dbt materializations
  * (dbt_project.yml: staging=view, marts=table; plus ephemeral and
  * incremental from dbt-core).
  */
sealed trait Materialization
/** Registered as a temp view — computed on demand, never persisted. */
case object ViewMat extends Materialization
/** Written to parquet (optionally partitioned+clustered) and read back. */
final case class TableMat(partitionBy: Option[String] = None,
                          clusterBy: Seq[String] = Nil) extends Materialization
/** Inlined into downstream plans (pure logical-plan composition). */
case object EphemeralMat extends Materialization
/** Merged into the existing table by unique key: delta rows win.
  * `onSchemaChange` is dbt's incremental schema-change policy (reference
  * dbt_project.yml configures append_new_columns; ignore / sync_all_columns
  * / fail are the other dbt-core modes). */
/** `predicates` = dbt `incremental_predicates`: extra conditions limiting
  * which EXISTING rows the merge may touch — base rows outside them pass
  * through untouched and are never compared, which at scale turns the merge
  * target scan into a partition-pruned slice. Exactly dbt's contract: a
  * perf fence, not a correctness guard — a delta row whose match sits
  * outside the fence INSERTS (duplicate key), same as dbt-bigquery. */
final case class IncrementalMat(
    uniqueKey: String,
    onSchemaChange: graft.operators.OnSchemaChange =
      graft.operators.OnSchemaChange.AppendNewColumns,
    predicates: Seq[String] = Nil) extends Materialization
/** dbt-bigquery's second incremental strategy, `insert_overwrite`: the
  * delta's PARTITIONS replace the table's matching partitions wholesale —
  * no row merge, no unique key — and untouched partitions stay. The
  * 100 TB-friendly incremental: a day's rebuild rewrites one partition,
  * never row-merges the full table. */
final case class InsertOverwriteMat(partitionBy: String) extends Materialization
/** dbt 1.9's `microbatch` strategy: rows carry `eventTime`; each run's
  * delta splits into `granularity` periods (year/month/week/day) and each
  * period REPLACES the table's matching partition wholesale — no unique
  * key, no row merge. Physically a `_period` partition column (formatted
  * date — filesystem-safe) + dynamic partition overwrite, so a backfill of
  * one day rewrites one directory. The returned frame drops `_period`
  * (derived data — downstream models see the model's own schema). */
final case class MicrobatchMat(eventTime: String,
                               granularity: String = "month") extends Materialization

/** dbt 1.5 model contract (`contract: {enforced: true}` + `columns:` with
  * `data_type` and `constraints:`): a public-model API freeze. At
  * materialization the model's OUTPUT schema must carry exactly the
  * declared columns with exactly the declared Spark types (extra, missing,
  * or retyped columns fail the model — order-insensitive, like dbt), and
  * the row-level constraints are enforced INSIDE the materializing job via
  * [[graft.util.RowGuard]] (not_null ≡ dbt's `constraints: [not_null]`;
  * `checks` ≡ `check:` expressions — NULL passes, SQL CHECK semantics).
  * A violation throws before anything persists, so in [[Pipeline.build]] /
  * [[Pipeline.runTolerant]] it gates the downstream closure exactly like
  * a build error. Contract identity is manifest-visible, so editing one
  * trips `state:modified` selection — the dbt behavior that forces CI on
  * contract changes. */
final case class Contract(columns: Seq[(String, String)],
                          notNull: Seq[String] = Nil,
                          checks: Map[String, String] = Map.empty)

/** dbt test severity config (`config: {severity: warn, warn_if: ">10",
  * error_if: ">100"}`). Conditions are dbt's count-comparison strings
  * evaluated against the violation count. dbt semantics exactly:
  * severity=error checks `error_if` first (→ fail), else `warn_if`
  * (→ warn); severity=warn only ever warns (`warn_if`). Defaults mirror
  * dbt-core: both conditions `!= 0`. */
final case class TestConfig(severity: String = "error",
                            warnIf: String = "!= 0",
                            errorIf: String = "!= 0",
                            storeFailures: Boolean = false) {
  require(Seq("error", "warn").contains(severity),
    s"test severity must be error|warn, got '$severity'")
  /** Outcome for a violation count: "pass" | "warn" | "fail". */
  def outcome(violations: Long): String =
    if (severity == "error" && TestConfig.eval(errorIf, violations)) "fail"
    else if (TestConfig.eval(warnIf, violations)) "warn"
    else "pass"

  /** Smallest scan cap under which [[outcome]] is EXACT: a comparison
    * against threshold k only needs the count resolved up to k (above
    * that, every operator's truth value is fixed), so capping at
    * max-threshold + 1 is lossless — `error_if: "> 2000"` still fires
    * at 2001 capped rows, and `warn_if: "< 5000"` can't fire spuriously
    * when the true count exceeds an arbitrary cap. Floor 1001 keeps the
    * default `!= 0` configs as cheap as before (and their "1000+"
    * display). Clamped to Int range for `limit`. */
  def countCap: Int = {
    val maxThr = math.max(TestConfig.threshold(warnIf), TestConfig.threshold(errorIf))
    math.min(math.max(1001L, maxThr + 1), Int.MaxValue.toLong).toInt
  }
}
object TestConfig {
  private val Cond = """\s*(!=|>=|<=|>|<|=)\s*(\d+)\s*""".r
  /** The numeric threshold in a condition string (0 if unparseable —
    * [[eval]] will refuse loudly later; sizing must not throw first). */
  private[pipeline] def threshold(cond: String): Long = cond match {
    case Cond(_, v) => v.toLong
    case _ => 0L
  }
  /** Evaluate a dbt condition string ("!= 0", ">10", ">= 5") against a
    * count. Malformed conditions refuse loudly — a test whose threshold
    * silently never fires is worse than no test. */
  def eval(cond: String, n: Long): Boolean = cond match {
    case Cond(op, v) =>
      val k = v.toLong
      op match {
        case "!=" => n != k
        case ">=" => n >= k
        case "<=" => n <= k
        case ">" => n > k
        case "<" => n < k
        case "=" => n == k
      }
    case other => throw new IllegalArgumentException(
      s"unparseable test condition '$other' (want e.g. '!= 0', '> 10')")
  }
}

/** One model: name, upstream refs, materialization, and the transformation
  * from resolved upstream frames to this model's frame — `build` is the
  * model's SELECT; `deps` are its `ref()`/`source()` calls.
  *
  * `description` is dbt `persist_docs` metadata (flows into the manifest).
  * `checksum` is the state-comparison fingerprint — dbt hashes the model
  * file; a Scala build function is opaque, so callers version it here (bump
  * on logic change) and `state:modified` detection picks it up alongside
  * the manifest-visible properties (deps, config, schema).
  *
  * `alias` / `schemaOverride` are dbt's `alias:` and custom `schema:`
  * configs: they relocate the materialized relation
  * (`<target>/[schema/]<alias|name>`) without renaming the node, so CI can
  * detect relation MOVEMENT between two manifests (reference
  * scripts/pr_schema_diff.sh movement detection).
  *
  * `testConfig` carries per-test severity/thresholds keyed by test name;
  * tests absent from the map default to dbt's error-at-any-violation. */
final case class Model(name: String, deps: Seq[String],
                       materialization: Materialization,
                       build: Map[String, DataFrame] => DataFrame,
                       description: String = "",
                       checksum: String = "",
                       tags: Seq[String] = Nil,
                       columnDocs: Map[String, String] = Map.empty,
                       tests: Seq[(String, DataFrame => DataFrame)] = Nil,
                       contract: Option[Contract] = None,
                       group: Option[String] = None,
                       access: String = "protected",
                       alias: Option[String] = None,
                       schemaOverride: Option[String] = None,
                       testConfig: Map[String, TestConfig] = Map.empty) {
  /** Relation identity relative to a target's warehouse root:
    * `[schema/]identifier` — dbt's database.schema.identifier with the
    * warehouse path playing the database. */
  def relationId: String =
    schemaOverride.fold("")(_ + "/") + alias.getOrElse(name)
}

/** A dbt exposure — reference models/exposures.yml: a downstream artifact
  * (dashboard, report, ML application) whose lineage hangs off models.
  * Pure manifest metadata, no compute. */
final case class Exposure(name: String, exposureType: String, owner: String,
                          dependsOn: Seq[String], description: String = "")

/** Run hooks — reference hooks/pre_run.py + hooks/post_run.py
  * (dbt on-run-start / on-run-end), plus per-model callbacks (dbt
  * pre-hook/post-hook). Callbacks run on the driver, in DAG order; the
  * post-model hook sees the materialized frame so it can stamp audit rows
  * or freshness metadata without re-reading the table. */
final case class RunHooks(
    onRunStart: Seq[Model] => Unit = _ => (),
    onRunEnd: Map[String, DataFrame] => Unit = _ => (),
    beforeModel: Model => Unit = _ => (),
    afterModel: (Model, DataFrame) => Unit = (_, _) => ())
object RunHooks { val none: RunHooks = RunHooks() }

/** dbt unit-test semantics (dbt-core 1.8 `unit_tests:`): run one model's
  * transformation against mocked inputs and diff against expected rows —
  * no warehouse state involved. */
object ModelTest {
  /** Returns None on success, or a diff description on failure. */
  def run(model: Model, mocked: Map[String, DataFrame],
          expected: DataFrame): Option[String] = {
    val actual = model.build(mocked)
    val extra = actual.exceptAll(expected)
    val missing = expected.exceptAll(actual)
    val (nExtra, nMissing) = (extra.count(), missing.count())
    if (nExtra == 0 && nMissing == 0) None
    else Some(s"model '${model.name}': $nExtra unexpected row(s), " +
      s"$nMissing missing row(s)")
  }
}

/** A dbt target/profile — reference profiles/profiles.yml:2-40: the same
  * project runs against dev / ci / prod datasets chosen by `DBT_TARGET`,
  * each with its own dataset (here: warehouse path), thread count
  * (dev `threads: 4`, prod `threads: 8`) and engine knobs. A Target is
  * pure config: `warehousePath` isolates every materialization the way a
  * per-target BigQuery dataset does, `threads` feeds [[Pipeline.run]]'s
  * DAG parallelism, and `sparkConf` holds per-target session overrides
  * (e.g. prod-sized `spark.sql.shuffle.partitions`). */
final case class Target(name: String, warehousePath: String,
                        threads: Int = 1,
                        sparkConf: Map[String, String] = Map.empty)

object Target {
  /** dbt's `target:` selection — `env` names the active target (the
    * `DBT_TARGET` convention); unknown names fail loudly like dbt's
    * "could not find profile" instead of silently running against dev. */
  def resolve(targets: Seq[Target], name: String): Target =
    targets.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown target '$name' (have: ${targets.map(_.name).mkString(", ")})"))
}

/** A dbt-core-style DAG runner on Spark.
  *
  * Resolves models in topological order (cycle/missing-ref detection),
  * applies each materialization, and returns every model's frame. Sources
  * are the input tables (dbt `source()`); `ref()` is just a deps entry.
  * Everything stays a logical plan until a TableMat forces persistence, so
  * Catalyst optimizes across view/ephemeral boundaries exactly as dbt
  * compiles CTEs into one query.
  */
final class Pipeline(models: Seq[Model], exposures: Seq[Exposure] = Nil,
                     format: graft.sources.TableFormat =
                       graft.sources.ParquetDirFormat,
                     metrics: Seq[Metric] = Nil) {
  require(models.map(_.name).distinct.size == models.size, "duplicate model names")
  exposures.flatMap(_.dependsOn).foreach(d =>
    require(models.exists(_.name == d), s"exposure depends on unknown model '$d'"))
  require(metrics.map(_.name).distinct.size == metrics.size,
    "duplicate metric names")
  metrics.foreach(m => require(models.exists(_.name == m.model),
    s"metric '${m.name}' is defined on unknown model '${m.model}'"))
  // dbt 1.5 groups + access: a PRIVATE model is ref-able only from its
  // own group — the governance wall that lets a platform team refactor
  // internals without breaking unknown consumers. Enforced at
  // construction (dbt: parse time), so an illegal ref never runs.
  models.foreach { m =>
    require(Seq("private", "protected", "public").contains(m.access),
      s"model '${m.name}': unknown access '${m.access}'")
    // private access only means something relative to a group: two
    // ungrouped models would satisfy dep.group == m.group (None == None)
    // and the governance wall would silently enforce nothing — refuse at
    // construction, like dbt ties private access to group membership
    require(m.access != "private" || m.group.isDefined,
      s"model '${m.name}': access=private requires a group — an ungrouped " +
        "private model would be ref-able by every other ungrouped model")
    m.deps.flatMap(d => models.find(_.name == d)).foreach { dep =>
      require(dep.access != "private" || dep.group == m.group,
        s"model '${m.name}'${m.group.fold("")(g => s" (group $g)")} refs " +
          s"private model '${dep.name}'" +
          s"${dep.group.fold("")(g => s" of group $g")} — private models " +
          "are only ref-able within their own group")
    }
  }

  /** Semantic-layer query surface: resolve the metric by name and compile
    * it over the model's frame from a finished run ([[Metrics.query]]). */
  def queryMetric(resolved: Map[String, DataFrame], name: String,
                  dims: Seq[String], grain: Option[String] = None,
                  where: Option[String] = None): DataFrame = {
    val m = metrics.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown metric '$name' " +
        s"(have: ${metrics.map(_.name).mkString(", ")})"))
    Metrics.query(resolved(m.model), m, dims, grain, where)
  }

  /** Topological order with cycle detection (DFS, deterministic by
    * declaration order). */
  def topoOrder(sources: Set[String]): Seq[Model] = {
    val byName = models.map(m => m.name -> m).toMap
    val visiting = scala.collection.mutable.LinkedHashSet[String]()
    val done = scala.collection.mutable.LinkedHashSet[String]()
    val order = Seq.newBuilder[Model]
    def visit(name: String): Unit = {
      if (done.contains(name) || sources.contains(name)) return
      val m = byName.getOrElse(name,
        throw new IllegalArgumentException(s"unresolved ref '$name'"))
      if (!visiting.add(name))
        throw new IllegalArgumentException(
          s"cycle: ${visiting.mkString(" -> ")} -> $name")
      m.deps.foreach(visit)
      visiting.remove(name)
      done.add(name)
      order += m
    }
    models.foreach(m => visit(m.name))
    order.result()
  }

  /** Lineage edges (model, dependency) — the data behind `dbt docs`' DAG. */
  def lineage: Seq[(String, String)] =
    models.flatMap(m => m.deps.map(d => m.name -> d))

  // --- dbt docs artifacts -------------------------------------------------
  // Reference docs-viewer/app.py:1-35 serves target/manifest.json +
  // target/catalog.json produced by `dbt docs generate`; these emit the
  // same two documents for a completed run. Metadata-only (driver-side by
  // definition — no data scan beyond the already-resolved schemas).

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def matName(m: Materialization): String = m match {
    case ViewMat => "view"
    case _: TableMat => "table"
    case EphemeralMat => "ephemeral"
    case _: IncrementalMat => "incremental"
    case _: InsertOverwriteMat => "incremental"
    case _: MicrobatchMat => "incremental"
  }

  private def nodeId(name: String): String = {
    val isModel = models.exists(_.name == name)
    (if (isModel) "model.graft." else "source.graft.") + name
  }

  /** manifest.json-shaped document: every model with its resource type,
    * materialization config, dependency edges (model./source.-qualified,
    * dbt `depends_on.nodes` style), and resolved column schemas. */
  def manifestJson(resolved: Map[String, DataFrame]): String = {
    val nodes = models.map { m =>
      val deps = m.deps.map(d => jstr(nodeId(d))).mkString("[", ",", "]")
      val cols = resolved.get(m.name).map(_.schema.fields.map(f =>
        s"${jstr(f.name)}:{" + s""""name":${jstr(f.name)},"data_type":${jstr(f.dataType.simpleString)},""" +
          s""""description":${jstr(m.columnDocs.getOrElse(f.name, ""))}}""")
        .mkString(",")).getOrElse("")
      val config = (s""""materialized":${jstr(matName(m.materialization))}""" +
        (m.materialization match {
          // physical layout is manifest-visible (reference
          // pr_schema_diff.sh diffs partitioning_field/clustering_fields):
          // a changed layout trips state:modified and shows in relationDiff.
          // Keys are emitted only when set, so layout-less models keep a
          // stable manifest identity across this change.
          case TableMat(part, cluster) =>
            part.fold("")(p => s""","partition_by":${jstr(p)}""") +
              (if (cluster.isEmpty) ""
               else s""","cluster_by":${cluster.map(jstr).mkString("[", ",", "]")}""")
          case IncrementalMat(key, policy, preds) =>
            s""","unique_key":${jstr(key)},"incremental_strategy":"merge","on_schema_change":${jstr(
              policy.toString.replaceAll("([a-z])([A-Z])", "$1_$2").toLowerCase)}""" +
              (if (preds.isEmpty) ""
               else s""","incremental_predicates":${preds.map(jstr).mkString("[", ",", "]")}""")
          case InsertOverwriteMat(part) =>
            s""","incremental_strategy":"insert_overwrite","partition_by":${jstr(part)}"""
          case MicrobatchMat(eventTime, gran) =>
            s""","incremental_strategy":"microbatch","event_time":${jstr(eventTime)},"batch_size":${jstr(gran)}"""
          case _ => ""
        }) +
        // contract identity is manifest-visible: editing a contract trips
        // state:modified selection, the dbt CI behavior for public models
        m.contract.fold("") { c =>
          s""","contract":{"enforced":true,"columns":[${
            c.columns.map { case (n, t) => s"[${jstr(n)},${jstr(t)}]" }.mkString(",")
          }],"not_null":[${c.notNull.map(jstr).mkString(",")}],"checks":{${
            c.checks.toSeq.sortBy(_._1)
              .map { case (n, e) => s"${jstr(n)}:${jstr(e)}" }.mkString(",")
          }}}"""
        })
      // relation identity (dbt schema/alias) is emitted only when
      // overridden: movement detection reads it, and default-located
      // models keep a stable manifest identity
      val relation =
        m.schemaOverride.fold("")(s => s""""schema":${jstr(s)},""") +
          m.alias.fold("")(a => s""""alias":${jstr(a)},""")
      s"${jstr(nodeId(m.name))}:{" +
        s""""name":${jstr(m.name)},"resource_type":"model",""" +
        s""""description":${jstr(m.description)},""" +
        s""""checksum":${jstr(m.checksum)},""" +
        s""""access":${jstr(m.access)},""" +
        s""""group":${jstr(m.group.getOrElse(""))},""" + relation +
        s""""depends_on":{"nodes":$deps},"config":{$config},"columns":{$cols}}"""
    }.mkString(",")
    val sources = models.flatMap(_.deps).distinct
      .filterNot(d => models.exists(_.name == d)).map { s =>
        s"${jstr(nodeId(s))}:{" +
          s""""name":${jstr(s)},"resource_type":"source"}"""
      }.mkString(",")
    val parentMap = models.map(m =>
      s"${jstr(nodeId(m.name))}:${m.deps.map(d => jstr(nodeId(d))).mkString("[", ",", "]")}")
      .mkString(",")
    val exps = exposures.map { e =>
      s"${jstr("exposure.graft." + e.name)}:{" +
        s""""name":${jstr(e.name)},"resource_type":"exposure","type":${jstr(e.exposureType)},""" +
        s""""owner":${jstr(e.owner)},"description":${jstr(e.description)},""" +
        s""""depends_on":{"nodes":${e.dependsOn.map(d => jstr(nodeId(d))).mkString("[", ",", "]")}}}"""
    }.mkString(",")
    val mets = metrics.map { m =>
      s"${jstr("metric.graft." + m.name)}:{" +
        s""""name":${jstr(m.name)},"resource_type":"metric",""" +
        s""""model":${jstr(m.model)},"expression":${jstr(m.agg)},""" +
        s""""dimensions":${m.dimensions.map(jstr).mkString("[", ",", "]")},""" +
        s""""time_dimension":${m.timeDimension.fold("null")(jstr)},""" +
        s""""filter":${m.filter.fold("null")(jstr)},""" +
        s""""description":${jstr(m.description)}}"""
    }.mkString(",")
    s"""{"metadata":{"project_name":"graft","schema_version":"graft-manifest-v1"},""" +
      s""""nodes":{$nodes},"sources":{$sources},"exposures":{$exps},""" +
      s""""metrics":{$mets},"parent_map":{$parentMap}}"""
  }

  /** catalog.json-shaped document: per model, the materialized column
    * listing (name, type, ordinal) from the resolved frames. */
  def catalogJson(resolved: Map[String, DataFrame]): String = {
    val nodes = models.flatMap(m => resolved.get(m.name).map { df =>
      val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
        s"${jstr(f.name)}:{" +
          s""""name":${jstr(f.name)},"type":${jstr(f.dataType.simpleString)},"index":$i}"""
      }.mkString(",")
      s"${jstr(nodeId(m.name))}:{" +
        s""""metadata":{"name":${jstr(m.name)},"materialized":${jstr(matName(m.materialization))}},""" +
        s""""columns":{$cols}}"""
    }).mkString(",")
    s"""{"metadata":{"schema_version":"graft-catalog-v1"},"nodes":{$nodes}}"""
  }

  /** `dbt docs generate`: write manifest.json + catalog.json to
    * `targetDir` (the reference's docs-viewer serves exactly these two). */
  def writeDocs(targetDir: String, resolved: Map[String, DataFrame]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(targetDir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$targetDir/manifest.json"),
      manifestJson(resolved).getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$targetDir/catalog.json"),
      catalogJson(resolved).getBytes("UTF-8"))
  }

  /** COLUMN-level lineage (the dbt-Cloud feature, derived here from the
    * Catalyst analyzed plans): for every model, each output column → the
    * dep columns (`dep.col`) it derives from — expression inputs traced
    * through Project/Aggregate/Window/Generate/Expand/Union, with
    * Filter/Join/Sort passing attributes through untouched. Lineage is
    * reported at the DEP level (one model hop); chains compose across the
    * returned maps. Each model analyzes against EMPTY placeholder frames
    * of its deps' schemas (built in topo order from `sources`' schemas),
    * so no data is read and the trace costs milliseconds per model.
    * Best-effort on plans whose analysis re-aliases a dep's leaf
    * attributes (a SQL self-join of one dep): unresolvable leaves fall
    * back to schema matching, and a column with no traceable input maps
    * to the empty set rather than a wrong guess. */
  def columnLineage(spark: SparkSession, sources: Map[String, DataFrame])
      : Map[String, Map[String, Seq[String]]] = {
    import org.apache.spark.sql.catalyst.plans.logical
    import org.apache.spark.sql.catalyst.expressions.Expression
    def placeholder(schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val frames = scala.collection.mutable.Map[String, DataFrame]()
    sources.foreach { case (n, df) => frames(n) = placeholder(df.schema) }
    val out = scala.collection.mutable.LinkedHashMap[String, Map[String, Seq[String]]]()
    topoOrder(sources.keySet).foreach { m =>
      val inputs = m.deps.map(d => d -> frames(d)).toMap
      val df = m.build(inputs)
      val memo = scala.collection.mutable.Map[Long, Set[String]]()
      inputs.foreach { case (d, in) =>
        in.queryExecution.analyzed.output.foreach(a =>
          memo(a.exprId.id) = Set(s"$d.${a.name}"))
      }
      val plan = df.queryExecution.analyzed
      // realiased leaves (view resolution may re-instance a dep's
      // relation): attribute by schema match, first dep wins
      plan.foreach {
        case lr: logical.LeafNode
            if !lr.output.forall(a => memo.contains(a.exprId.id)) =>
          inputs.find(_._2.schema == org.apache.spark.sql.types.StructType(
            lr.output.map(a => org.apache.spark.sql.types.StructField(
              a.name, a.dataType, a.nullable)))).foreach { case (d, _) =>
            lr.output.foreach(a =>
              memo.getOrElseUpdate(a.exprId.id, Set(s"$d.${a.name}")))
          }
        case _ => ()
      }
      def refs(e: Expression): Set[String] =
        e.references.toSeq.flatMap(a =>
          memo.getOrElse(a.exprId.id, Set.empty[String])).toSet
      plan.foreachUp {
        case p: logical.Project =>
          p.projectList.foreach(ne => memo(ne.exprId.id) = refs(ne))
        case a: logical.Aggregate =>
          a.aggregateExpressions.foreach(ne => memo(ne.exprId.id) = refs(ne))
        case w: logical.Window =>
          w.windowExpressions.foreach(ne => memo(ne.exprId.id) = refs(ne))
        case g: logical.Generate =>
          g.generatorOutput.foreach(attr =>
            memo(attr.exprId.id) = refs(g.generator))
        case e: logical.Expand =>
          e.output.zipWithIndex.foreach { case (attr, i) =>
            memo(attr.exprId.id) =
              e.projections.flatMap(row => refs(row(i))).toSet }
        case u: logical.Union =>
          u.output.zipWithIndex.foreach { case (attr, i) =>
            memo(attr.exprId.id) = u.children.flatMap(c =>
              memo.getOrElse(c.output(i).exprId.id, Set.empty[String])).toSet }
        case _ => () // Filter/Join/Sort/alias nodes pass attributes through
      }
      out(m.name) = plan.output.map(a =>
        a.name -> memo.getOrElse(a.exprId.id, Set.empty[String]).toSeq.sorted)
        .toMap
      frames(m.name) = placeholder(df.schema)
    }
    out.toMap
  }

  /** run_results.json-shaped document (dbt's per-invocation artifact —
    * the third of the trio next to manifest/catalog): one result row per
    * attempted model in dbt's status vocabulary. Our status strings map
    * as `success` → success, `fail: …` (a gating test) → fail, `error:
    * …` → error, `skipped` → skipped; the raw string rides in `message`.
    * Feed it [[build]]/[[runTolerant]]'s status map; `elapsedSec` is
    * optional per-model timing. */
  def runResultsJson(status: Map[String, String],
                     elapsedSec: Map[String, Double] = Map.empty): String = {
    val results = models.flatMap(m => status.get(m.name).map { st =>
      val s =
        if (st == "success") "success"
        else if (st.startsWith("warn")) "warn" // dbt: warned, not gating
        else if (st.startsWith("fail")) "fail"
        else if (st.startsWith("error")) "error"
        else "skipped"
      s"""{"unique_id":${jstr(nodeId(m.name))},"status":${jstr(s)},""" +
        s""""execution_time":${elapsedSec.getOrElse(m.name, 0.0)},""" +
        s""""message":${jstr(if (s == "success") "" else st)}}"""
    })
    s"""{"metadata":{"schema_version":"graft-run-results-v1"},""" +
      s""""results":${results.mkString("[", ",", "]")}}"""
  }

  /** dbt `state:modified+` — the slim-CI selection the reference's
    * scripts/pr_data_diff.sh:40 drives (`dbt ls --select "state:modified+"
    * --state prod_state`): diff this pipeline against a PRIOR manifest.json
    * and return the models whose manifest-visible identity changed — new
    * models, changed deps, changed materialization config, changed resolved
    * schema, or a bumped [[Model.checksum]] — plus every transitive
    * DOWNSTREAM model (the `+` suffix), in declaration-stable topological
    * order. Feed the result to [[runSubset]] (which adds the upstream
    * closure needed to build them) for a state-based CI build. */
  def selectModifiedPlus(oldManifestJson: String,
                         resolved: Map[String, DataFrame]): Seq[String] =
    inTopoOrder(downstreamClosure(modifiedSet(oldManifestJson, resolved)))

  /** The raw `state:modified` set (no graph closure): models whose
    * manifest-visible identity differs from `oldManifestJson`. */
  def modifiedSet(oldManifestJson: String,
                  resolved: Map[String, DataFrame]): Set[String] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val oldNodes = om.readTree(oldManifestJson).get("nodes")
    val curNodes = om.readTree(manifestJson(resolved)).get("nodes")
    models.map(_.name).filter { n =>
      val o = if (oldNodes == null) null else oldNodes.get("model.graft." + n)
      o == null || o != curNodes.get("model.graft." + n) // structural compare
    }.toSet
  }

  private def downstreamClosure(seed: Set[String]): Set[String] = {
    val children = lineage.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val keep = scala.collection.mutable.LinkedHashSet[String]()
    def visit(n: String): Unit =
      if (keep.add(n)) children.getOrElse(n, Nil).foreach(visit)
    seed.foreach(visit)
    keep.toSet
  }

  private def upstreamClosure(seed: Set[String]): Set[String] = {
    val byName = models.map(m => m.name -> m).toMap
    val keep = scala.collection.mutable.LinkedHashSet[String]()
    def visit(n: String): Unit = byName.get(n).foreach { m =>
      if (keep.add(n)) m.deps.foreach(visit)
    }
    seed.foreach(visit)
    keep.toSet
  }

  private def inTopoOrder(names: Set[String]): Seq[String] =
    topoOrder(Set.empty ++ models.flatMap(_.deps)
        .filterNot(d => models.exists(_.name == d)))
      .map(_.name).filter(names.contains)

  /** dbt `selectors.yml` evaluation: a selector DEFINITION (the YAML tree
    * [[ProjectYaml.loadSelectors]] parses, or an equivalent literal) →
    * selected model names in topological order. Supported criteria —
    * exactly dbt's semantics, refusing loudly on anything else:
    *
    *  - shorthand strings: `"m"` (fqn), `"tag:t"`, `"state:modified"`,
    *    with `+` prefix (upstream closure) / suffix (downstream closure);
    *  - method maps: `{method: fqn|tag|state, value: v}` with optional
    *    `parents: true` / `children: true` closure flags;
    *  - composition: `{union: [...]}` / `{intersection: [...]}`, where a
    *    `{exclude: [...]}` entry inside either subtracts its union from
    *    the enclosing result (dbt's exclude placement);
    *  - `fqn` values support a trailing `*` glob (`stg_*`).
    *
    * `state:modified` needs the prior manifest + resolved frames —
    * evaluating it without them refuses (a CI selector silently matching
    * nothing would skip the very models it exists to build). */
  def evalSelector(definition: Any,
                   stateManifest: Option[String] = None,
                   resolved: Map[String, DataFrame] = Map.empty): Seq[String] = {
    def method(meth: String, value: String,
               parents: Boolean, children: Boolean): Set[String] = {
      val base: Set[String] = meth match {
        case "fqn" | "" =>
          if (value.endsWith("*"))
            models.map(_.name).filter(_.startsWith(value.dropRight(1))).toSet
          else models.map(_.name).filter(_ == value).toSet
        case "tag" => models.filter(_.tags.contains(value)).map(_.name).toSet
        case "state" =>
          require(value == "modified",
            s"selector: unsupported state value '$value' (only modified)")
          modifiedSet(stateManifest.getOrElse(throw new IllegalArgumentException(
            "selector: state:modified needs a prior manifest (--state)")),
            resolved)
        case other => throw new IllegalArgumentException(
          s"selector: unsupported method '$other' (fqn, tag, state)")
      }
      (if (parents) upstreamClosure(base) else base) |
        (if (children) downstreamClosure(base) else base)
    }
    def shorthand(s0: String): Set[String] = {
      val parents = s0.startsWith("+")
      val children = s0.endsWith("+")
      val s = s0.stripPrefix("+").stripSuffix("+")
      val (meth, value) = s.split(":", 2) match {
        case Array(m0, v) => (m0, v)
        case _ => ("fqn", s)
      }
      method(meth, value, parents, children)
    }
    def union(nodes: Seq[Any]): Set[String] = combine(nodes, _ | _)
    def intersect(nodes: Seq[Any]): Set[String] = combine(nodes, _ & _)
    def combine(nodes: Seq[Any],
                op: (Set[String], Set[String]) => Set[String]): Set[String] = {
      val (excludes, includes) = nodes.partition {
        case mm: Map[_, _] =>
          mm.asInstanceOf[Map[String, Any]].contains("exclude")
        case _ => false
      }
      require(includes.nonEmpty, "selector: empty criteria list")
      val in = includes.map(eval).reduce(op)
      val out = excludes.flatMap { e =>
        e.asInstanceOf[Map[String, Any]]("exclude") match {
          case s: Seq[_] => s.map(eval)
          case one => Seq(eval(one))
        }
      }
      out.foldLeft(in)(_ -- _)
    }
    def eval(node: Any): Set[String] = node match {
      case s: String => shorthand(s)
      case mm: Map[_, _] =>
        val mp = mm.asInstanceOf[Map[String, Any]]
        if (mp.contains("union")) union(mp("union").asInstanceOf[Seq[Any]])
        else if (mp.contains("intersection"))
          intersect(mp("intersection").asInstanceOf[Seq[Any]])
        else if (mp.contains("method"))
          method(mp("method").toString,
            mp.getOrElse("value", "").toString,
            mp.get("parents").contains(true),
            mp.get("children").contains(true))
        else throw new IllegalArgumentException(
          s"selector: unrecognized criteria keys ${mp.keys.mkString(", ")}")
      case other => throw new IllegalArgumentException(
        s"selector: unrecognized criteria node '$other'")
    }
    inTopoOrder(eval(definition))
  }

  /** dbt `--select tag:<tag>` semantics: names of the models carrying the
    * tag, in topological order — feed to [[runSubset]], which adds the
    * upstream closure they need to build. */
  def selectByTag(tag: String): Seq[String] = {
    val tagged = models.filter(_.tags.contains(tag)).map(_.name).toSet
    topoOrder(Set.empty ++ models.flatMap(_.deps)
        .filterNot(d => models.exists(_.name == d)))
      .map(_.name).filter(tagged.contains)
  }

  /** dbt `--select model` semantics: the named models plus their transitive
    * upstream closure, in topological order. */
  def selectUpstream(select: Seq[String]): Seq[String] = {
    val byName = models.map(m => m.name -> m).toMap
    val keep = scala.collection.mutable.LinkedHashSet[String]()
    def visit(n: String): Unit = byName.get(n).foreach { m =>
      if (keep.add(n)) m.deps.foreach(visit)
    }
    select.foreach(visit)
    topoOrder(Set.empty ++ models.flatMap(_.deps).filterNot(byName.contains))
      .map(_.name).filter(keep.contains)
  }

  /** dbt `run --selector <name>` (or the default selector when `name` is
    * None): resolve the named definition from `selectors`, evaluate it
    * against the DAG, and run the selection through [[runSubset]] (which
    * adds the upstream closure the selected models need to build). */
  def runSelector(spark: SparkSession, sources: Map[String, DataFrame],
                  targetDir: String,
                  selectors: Seq[ProjectYaml.SelectorDef],
                  name: Option[String] = None,
                  hooks: RunHooks = RunHooks.none,
                  fullRefresh: Boolean = false): Map[String, DataFrame] = {
    val sel = name match {
      case Some(n) => selectors.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"unknown selector '$n' " +
          s"(have: ${selectors.map(_.name).mkString(", ")})"))
      case None => selectors.find(_.isDefault).getOrElse(
        throw new IllegalArgumentException(
          "no selector named and none marked default: true"))
    }
    runSubset(spark, sources, targetDir, evalSelector(sel.definition),
      hooks, fullRefresh)
  }

  /** Runs only the selected models (+ transitive upstreams). */
  def runSubset(spark: SparkSession, sources: Map[String, DataFrame],
                targetDir: String, select: Seq[String],
                hooks: RunHooks = RunHooks.none,
                fullRefresh: Boolean = false): Map[String, DataFrame] = {
    val wanted = selectUpstream(select).toSet
    new Pipeline(models.filter(m => wanted.contains(m.name)))
      .run(spark, sources, targetDir, hooks, fullRefresh)
  }

  /** dbt-style run results: per-model `success` / `error: <msg>` /
    * `skipped` (an upstream failed). The input to [[retry]]. */
  type RunResults = Map[String, String]

  /** Failure-tolerant run — dbt's default behavior: a model that throws
    * marks `error`, its downstream closure marks `skipped`, siblings keep
    * building. Returns the resolved frames of successful models plus the
    * status map [[retry]] resumes from. `threads` parallelizes independent
    * models exactly as in [[run]] (dbt `threads`). It is [[build]] with
    * no tests: without a test no `warn` arises, so build's skip rule is
    * this one. */
  def runTolerant(spark: SparkSession, sources: Map[String, DataFrame],
                  targetDir: String, hooks: RunHooks = RunHooks.none,
                  fullRefresh: Boolean = false,
                  threads: Int = 1): (Map[String, DataFrame], RunResults) =
    new Pipeline(models.map(_.copy(tests = Nil)), format = format)
      .build(spark, sources, targetDir, hooks, fullRefresh, threads)

  /** dbt `build`: run + test interleaved in DAG order — each model's
    * attached tests (a function returning VIOLATION rows, the dbt test
    * convention) execute right after it materializes, and a failing test
    * gates the downstream closure exactly like a build error would: bad
    * data never propagates into children. Statuses: `success`,
    * `error: ...`, `fail: test <name> (<k> violations)`,
    * `warn: test <name> (<k> violations)`, `skipped`.
    *
    * Test severity ([[Model.testConfig]], dbt `severity`/`warn_if`/
    * `error_if`): a warn-level outcome lands in the run results but does
    * NOT gate the downstream closure — children of a warned model still
    * build, exactly dbt's behavior for `severity: warn` tests. The FIRST
    * fail-level test gates (dbt stops at the model's worst outcome);
    * warns accumulate across all tests on the model.
    * [[retry]] resumes a failed build the same way it resumes a run.
    * `threads` parallelizes independent models exactly as in [[run]];
    * hooks fire as in [[run]]: start and end once per call, before/after
    * once per materialized model. */
  def build(spark: SparkSession, sources: Map[String, DataFrame],
            targetDir: String, hooks: RunHooks = RunHooks.none,
            fullRefresh: Boolean = false,
            threads: Int = 1): (Map[String, DataFrame], RunResults) = {
    val status = scala.collection.concurrent.TrieMap[String, String]()
    val good = scala.collection.concurrent.TrieMap[String, DataFrame]() ++ sources
    val ordered = topoOrder(sources.keySet)
    hooks.onRunStart(ordered)
    def execOne(m: Model): Unit = {
      if (!m.deps.forall(d => sources.contains(d) ||
          status.get(d).exists(s => s == "success" || s.startsWith("warn"))))
        status(m.name) = "skipped"
      else try {
        hooks.beforeModel(m)
        val out = materializeModel(spark, m, m.build(good.toMap), targetDir, fullRefresh)
        hooks.afterModel(m, out)
        // cap the count scan at the config-derived limit (default 1001;
        // larger when a threshold needs it — TestConfig.countCap proves
        // the capped count evaluates every condition exactly) and report
        // "N+" rather than silently understating larger violation sets
        var firstFail: Option[String] = None
        val warns = Seq.newBuilder[String]
        m.tests.iterator.takeWhile(_ => firstFail.isEmpty).foreach {
          case (tn, t) =>
            val cfg = m.testConfig.getOrElse(tn, TestConfig())
            val cap = cfg.countCap
            def shownOf(k: Long) = if (k >= cap) s"${cap - 1}+" else k.toString
            val k =
              if (!cfg.storeFailures) t(out).limit(cap).count()
              else {
                // dbt `store_failures`: persist the full violation set as
                // an auditable table (dbt's dbt_test__audit schema) — ONE
                // job writes and counts; the later count() reads the
                // tiny materialized table, not the test query again.
                // Namespaced by MODEL: two models may share a test name,
                // and under threads > 1 they would otherwise overwrite
                // the same directory concurrently.
                val dir = s"$targetDir/dbt_test__audit/${m.name}/$tn"
                t(out).write.mode("overwrite").parquet(dir)
                Parquet.read(spark, dir).count()
              }
            // outcome evaluates at EVERY count, including 0: dbt's
            // zero-matching conditions (`error_if: "= 0"` — the
            // assert-rows-exist pattern, `warn_if: "< 10"`) must fire on
            // an empty result; the defaults ("!= 0") still pass at k=0
            val shown = if (cfg.storeFailures) k.toString else shownOf(k)
            cfg.outcome(k) match {
              case "fail" =>
                firstFail = Some(s"fail: test $tn ($shown violations)")
              case "warn" =>
                warns += s"test $tn ($shown violations)"
              case _ => ()
            }
        }
        firstFail match {
          case Some(f) => status(m.name) = f
          case None =>
            good(m.name) = out
            val ws = warns.result()
            status(m.name) =
              if (ws.isEmpty) "success" else s"warn: ${ws.mkString("; ")}"
        }
      } catch { case e: Exception =>
        status(m.name) = s"error: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}"
      }
    }
    if (threads <= 1) ordered.foreach(execOne)
    else scheduleDag(ordered, sources.keySet, threads)(execOne).foreach(t => throw t)
    hooks.onRunEnd(good.toMap)
    ((good -- sources.keys).toMap, status.toMap)
  }

  /** dbt `retry`: re-run ONLY the models the previous invocation did not
    * complete (`error` + `skipped`), resolving successful parents from
    * their artifacts in `targetDir` — table-family materializations read
    * back; view/ephemeral successes (no physical artifact) recompute,
    * they are lazy plans. A clean previous run retries nothing. */
  def retry(spark: SparkSession, sources: Map[String, DataFrame],
            targetDir: String, prev: RunResults,
            hooks: RunHooks = RunHooks.none,
            fullRefresh: Boolean = false): (Map[String, DataFrame], RunResults) = {
    // warn-level outcomes completed their materialization — dbt retry
    // only re-runs error/fail/skipped nodes
    val failed = prev.collect {
      case (n, s) if s != "success" && !s.startsWith("warn") => n }.toSet
    val byName = models.map(m => m.name -> m).toMap
    // views/ephemerals have no artifact to read back, so any one in a
    // failed model's UPSTREAM closure must re-resolve — but a successful
    // view with no failed descendant stays out of the rerun (and its
    // attached tests don't re-execute): a clean previous run retries
    // nothing, as the docstring promises.
    val needed = scala.collection.mutable.Set[String]()
    def visitUp(n: String): Unit = byName.get(n).foreach { m =>
      if (needed.add(n)) m.deps.foreach(visitUp)
    }
    failed.foreach(visitUp)
    val rerun = models.filter { m =>
      failed.contains(m.name) ||
        (needed.contains(m.name) && (m.materialization match {
          case ViewMat | EphemeralMat => true // lazy, free to re-resolve
          case _ => false
        }))
    }
    val rerunNames = rerun.map(_.name).toSet
    val artifactDeps = rerun.flatMap(_.deps).distinct
      .filterNot(d => rerunNames.contains(d) || sources.contains(d))
      .map { d =>
        val path = s"$targetDir/${byName.get(d).fold(d)(_.relationId)}"
        require(new java.io.File(path).exists(),
          s"retry: successful parent '$d' has no artifact in $targetDir")
        // read through the pipeline's FORMAT: on a txlog table a raw
        // parquet scan would also read dead files from old versions
        d -> format.read(spark, path)
      }.toMap
    // retry re-runs with BUILD semantics: attached tests re-execute on the
    // retried models (dbt retry of a `build` re-tests); models without
    // tests degenerate to plain runs. The format carries over — retried
    // models must re-materialize in the SAME table format.
    val (out, st) = new Pipeline(rerun, format = format)
      .build(spark, sources ++ artifactDeps, targetDir, hooks, fullRefresh)
    (out, prev.filter { case (n, s) =>
      (s == "success" || s.startsWith("warn")) && !rerunNames.contains(n) } ++ st)
  }

  /** dbt `--defer --state <prod>`: build ONLY the selected models; any
    * dependency that is neither selected nor a source resolves from the
    * deferred state's ARTIFACTS (`deferDir/<name>` parquet) instead of
    * being rebuilt. This is the slim-CI companion to
    * [[selectModifiedPlus]]: CI builds the modified closure against prod's
    * unmodified parents — at 100 TB that is the difference between
    * rebuilding a handful of marts and replaying the whole warehouse.
    * Like dbt, a deferred parent must be materialized in the state dir
    * (views/ephemerals have no artifact to defer to). */
  def runDeferred(spark: SparkSession, sources: Map[String, DataFrame],
                  targetDir: String, select: Seq[String], deferDir: String,
                  hooks: RunHooks = RunHooks.none,
                  fullRefresh: Boolean = false): Map[String, DataFrame] = {
    val selected = select.toSet
    val chosen = models.filter(m => selected.contains(m.name))
    val deferredDeps = chosen.flatMap(_.deps).distinct
      .filterNot(d => selected.contains(d) || sources.contains(d))
    val byName = models.map(m => m.name -> m).toMap
    val deferred = deferredDeps.map { d =>
      val path = s"$deferDir/${byName.get(d).fold(d)(_.relationId)}"
      require(new java.io.File(path).exists(),
        s"--defer: no artifact for unselected parent '$d' in $deferDir " +
          "(deferred parents must be materialized in the state dir)")
      // format-aware read: a txlog state dir raw-scanned as parquet would
      // also surface dead files from old versions
      d -> format.read(spark, path)
    }.toMap
    new Pipeline(chosen, format = format)
      .run(spark, sources ++ deferred, targetDir, hooks, fullRefresh)
  }

  /** The reference's scripts/pr_data_diff.sh:40-74 as one API: select
    * `state:modified+` against the prod manifest, then emit ONE report
    * frame carrying, per selected model, the script's SUMMARY row counts
    * and the EXCEPT-DISTINCT diff counts of macros/compare_dev_prod.sql
    * (capped at `limit`, its DIFF_LIMIT). Lazy and scale-safe: every
    * number is a Spark aggregate, diff branches cap at `limit` rows
    * before counting, nothing collects to the driver — at 100 TB the cap
    * bounds the EXCEPT's output (the EXCEPT itself is the same shuffle a
    * full diff would pay, which is why state selection runs it only on
    * changed models). A model whose dev/prod schemas disagree reports
    * `schema_mismatch` (count of changed columns — rows would not align);
    * a model new in dev reports `new_model`. */
  def prDataDiff(oldManifestJson: String,
                 dev: Map[String, DataFrame], prod: Map[String, DataFrame],
                 limit: Int = 100): DataFrame = {
    val changed = selectModifiedPlus(oldManifestJson, dev)
    def row(m: String, tpe: String, n: Column, src: DataFrame): DataFrame =
      src.agg(n.as("n")).select(lit(m).as("model"),
        lit(tpe).as("diff_type"), col("n").cast("long").as("n"))
    val frames = changed.flatMap { m =>
      val d = dev(m)
      val devRows = row(m, "summary_dev_rows", count(lit(1)), d)
      prod.get(m) match {
        case None => Seq(devRows, row(m, "new_model", lit(1), d.limit(1)))
        case Some(p) =>
          val sameSchema =
            d.schema.map(f => f.name -> f.dataType).sortBy(_._1) ==
            p.schema.map(f => f.name -> f.dataType).sortBy(_._1)
          if (!sameSchema)
            Seq(devRows, row(m, "summary_prod_rows", count(lit(1)), p),
              row(m, "schema_mismatch", count(lit(1)),
                graft.operators.Diff.schemaDiff(d, p)))
          else {
            val pAligned = p.select(d.columns.map(col).toSeq: _*)
            Seq(devRows, row(m, "summary_prod_rows", count(lit(1)), p),
              row(m, "in_dev_not_in_prod", count(lit(1)),
                d.except(pAligned).limit(limit)),
              row(m, "in_prod_not_in_dev", count(lit(1)),
                pAligned.except(d).limit(limit)))
          }
      }
    }
    frames.reduceOption(_ unionAll _)
      .getOrElse(dev.values.head.sparkSession.emptyDataFrame
        .select(lit("").as("model"), lit("").as("diff_type"), lit(0L).as("n"))
        .limit(0))
  }

  /** Runs the DAG. `targetDir` holds table/incremental materializations.
    * `fullRefresh` = dbt `--full-refresh`: incremental models rebuild from
    * scratch instead of merging into their existing table.
    * `threads` = dbt's `threads` profile setting (reference
    * profiles.yml:10 dev=4, :38 prod=8): with threads > 1, independent
    * models materialize CONCURRENTLY — each model starts the moment its
    * last dependency lands (ready-queue, not level barriers), bounded by a
    * fixed pool. Spark's scheduler is thread-safe; concurrent actions from
    * worker threads simply become concurrent Spark jobs, which is exactly
    * what keeps a 1000-executor cluster busy while one model's write
    * stalls on a slow stage. Hooks fire on worker threads when
    * threads > 1; a model failure stops new submissions and rethrows
    * after in-flight models finish. */
  def run(spark: SparkSession, sources: Map[String, DataFrame],
          targetDir: String, hooks: RunHooks = RunHooks.none,
          fullRefresh: Boolean = false, threads: Int = 1): Map[String, DataFrame] = {
    val resolved = scala.collection.concurrent.TrieMap[String, DataFrame]() ++ sources
    val ordered = topoOrder(sources.keySet)
    hooks.onRunStart(ordered)
    def runOne(m: Model): DataFrame = {
      hooks.beforeModel(m)
      val inputs = (m.deps ++ sources.keys).distinct
        .map(d => d -> resolved(d)).toMap
      val out = materializeModel(spark, m, m.build(inputs), targetDir, fullRefresh)
      hooks.afterModel(m, out)
      out
    }
    if (threads <= 1)
      ordered.foreach(m => resolved(m.name) = runOne(m))
    else
      scheduleDag(ordered, sources.keySet, threads) { m =>
        resolved(m.name) = runOne(m)
      }.foreach(t => throw t)
    val result = resolved.toMap
    hooks.onRunEnd(result)
    result
  }

  /** [[run]] against a [[Target]]: materializations land under the
    * target's warehouse path (dataset isolation — dev/ci/prod never share
    * tables), DAG parallelism = the target's `threads`, and the target's
    * sparkConf entries apply to the run only (a CI run must not leak
    * prod-sized shuffle settings into the caller's session). */
  def runTarget(spark: SparkSession, sources: Map[String, DataFrame],
                target: Target, hooks: RunHooks = RunHooks.none,
                fullRefresh: Boolean = false): Map[String, DataFrame] =
    onTarget(spark, target, sources) { (s, srcs) =>
      run(s, srcs, target.warehousePath, hooks, fullRefresh, target.threads)
    }

  /** `dbt clone` (dbt 1.6): materialize the selected models (default:
    * every table-family model) into `targetDir` as CLONES of their
    * artifacts under `fromDir` — NO model compute runs, which is the whole
    * point: a dev/CI environment springs from prod state in O(metadata).
    * Storage goes through [[graft.sources.TableFormat.cloneTable]] — on
    * [[graft.sources.TxLogFormat]] a zero-copy hard-link clone (dbt on a
    * zero-copy-clone warehouse), on the parquet-dir format a file copy
    * (dbt's fallback for adapters without native clone). View/ephemeral
    * models have no artifact and are skipped, like dbt (views re-derive);
    * a missing source artifact fails loudly, like `--defer`'s missing
    * state. Returns the cloned models' frames read from the TARGET. */
  def cloneFrom(spark: SparkSession, fromDir: String, targetDir: String,
                select: Seq[String] = Nil): Map[String, DataFrame] = {
    val wanted = if (select.isEmpty) models.map(_.name) else select
    wanted.flatMap { n =>
      val m = models.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"clone: unknown model '$n'"))
      m.materialization match {
        case ViewMat | EphemeralMat => None
        case _ =>
          val src = s"$fromDir/${m.relationId}"
          require(new java.io.File(src).exists(),
            s"clone: no artifact for model '$n' at $src — " +
              "build the source target first")
          format.cloneTable(spark, src, s"$targetDir/${m.relationId}")
          Some(n -> format.read(spark, s"$targetDir/${m.relationId}"))
      }
    }.toMap
  }

  /** dbt slim-CI across targets: `--defer --state <prod>` where both sides
    * are [[Target]]s — build `select` into `target`, resolving unselected
    * parents from the DEFER target's warehouse (reference
    * profiles.yml: ci builds against prod's datasets). */
  def runDeferredTarget(spark: SparkSession, sources: Map[String, DataFrame],
                        target: Target, select: Seq[String], deferTo: Target,
                        hooks: RunHooks = RunHooks.none,
                        fullRefresh: Boolean = false): Map[String, DataFrame] =
    onTarget(spark, target, sources) { (s, srcs) =>
      runDeferred(s, srcs, target.warehousePath, select,
        deferTo.warehousePath, hooks, fullRefresh)
    }

  /** Runs `body` on a [[graft.util.Scoped]] session carrying the target's
    * sparkConf, with the sources rebound onto it; the returned frames are
    * rebound to the caller's session, so later reads use the caller's
    * conf. */
  private def onTarget(spark: SparkSession, target: Target,
      sources: Map[String, DataFrame])(
      body: (SparkSession, Map[String, DataFrame]) => Map[String, DataFrame])
      : Map[String, DataFrame] = {
    import graft.util.Scoped
    val s = Scoped.session(spark, target.sparkConf.toSeq: _*)
    body(s, sources.map { case (k, df) => k -> Scoped.rebind(df, s) })
      .map { case (k, df) => k -> Scoped.rebind(df, spark) }
  }

  /** Ready-queue DAG scheduler: runs `exec` for every model over a fixed
    * pool of `threads` workers; a model is submitted the instant all its
    * in-DAG dependencies have executed (`exec` itself decides what a
    * failed dependency means — run throws, build/tolerant record a skip).
    * The first throw stops new submissions; returned after in-flight work
    * drains. */
  private def scheduleDag(ordered: Seq[Model], sourceNames: Set[String],
                          threads: Int)(
                          exec: Model => Unit): Option[Throwable] = {
    val byName = ordered.map(m => m.name -> m).toMap
    val modelDeps = ordered.map(m =>
      m.name -> m.deps.filter(byName.contains)).toMap
    val children = ordered.flatMap(m => modelDeps(m.name).map(_ -> m.name))
      .groupBy(_._1).map { case (p, cs) => p -> cs.map(_._2) }
    val depsLeft = scala.collection.mutable.Map[String, Int]() ++
      modelDeps.view.mapValues(_.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val lock = new Object
    var remaining = ordered.size
    var inFlight = 0
    var failure: Option[Throwable] = None
    def submit(m: Model): Unit = {
      inFlight += 1 // callers hold `lock`
      pool.execute { () =>
        // a fatal error (OOM, stack overflow, interrupt) is not a model
        // failure: it leaves the pool thread uncaught, and the finally
        // still stops the DAG, so the caller fails instead of waiting
        var res: Option[Either[Throwable, Unit]] = None
        try res = Some(try Right(exec(m)) catch {
          case scala.util.control.NonFatal(t) => Left(t) })
        finally lock.synchronized {
          inFlight -= 1
          res.getOrElse(Left(new IllegalStateException(
            s"model ${m.name} died of a fatal error on the DAG pool"))) match {
            case Right(_) =>
              remaining -= 1
              if (failure.isEmpty)
                children.getOrElse(m.name, Nil).foreach { c =>
                  depsLeft(c) -= 1
                  if (depsLeft(c) == 0) submit(byName(c))
                }
            case Left(t) => if (failure.isEmpty) failure = Some(t)
          }
          lock.notifyAll()
        }
      }
    }
    lock.synchronized {
      ordered.filter(m => modelDeps(m.name).isEmpty).foreach(submit)
      while (failure.isEmpty && remaining > 0) lock.wait()
      while (inFlight > 0) lock.wait() // drain before reporting
    }
    pool.shutdown()
    failure
  }

  /** Contract gate ([[Contract]]): schema freeze checked driver-side
    * before anything runs; row constraints fuse into the frame so they
    * enforce inside the materializing job (for a ViewMat, inside the first
    * downstream job that computes the view — dbt's view contracts behave
    * the same way: the check lives in the object, not a separate scan). */
  private def enforceContract(m: Model, df: DataFrame): DataFrame =
    m.contract.fold(df) { c =>
      val actual = df.schema.fields.map(f => f.name -> f.dataType.simpleString)
      val actualMap = actual.toMap
      val declared = c.columns.toMap
      val missing = c.columns.collect {
        case (n, _) if !actualMap.contains(n) => n }
      val extra = actual.collect { case (n, _) if !declared.contains(n) => n }
      val retyped = c.columns.collect {
        case (n, t) if actualMap.get(n).exists(_ != t) =>
          s"$n: declared $t, got ${actualMap(n)}" }
      require(missing.isEmpty && extra.isEmpty && retyped.isEmpty,
        s"model '${m.name}' violates its contract: " +
          (missing.map(n => s"missing column $n") ++
           extra.map(n => s"undeclared column $n") ++ retyped).mkString("; "))
      val checks = c.notNull.map(n => s"${n}_not_null" -> s"$n IS NOT NULL") ++
        c.checks.toSeq.sortBy(_._1)
      graft.util.RowGuard(df, checks, s"in model '${m.name}' contract")
    }

  /** Materializes one built model frame — the physical half of [[run]].
    * All table-family materializations route through the [[
    * graft.sources.TableFormat]] seam, so swapping parquet-dir storage for
    * Delta/Iceberg is a constructor argument, not an operator rewrite. */
  private def materializeModel(spark: SparkSession, m: Model, df0: DataFrame,
                               targetDir: String,
                               fullRefresh: Boolean): DataFrame = {
    val df = enforceContract(m, df0)
    m.materialization match {
      case ViewMat =>
        df.createOrReplaceTempView(m.name); df
      case EphemeralMat => df
      case TableMat(part, cluster) =>
        val path = s"$targetDir/${m.relationId}"
        format.write(df, path, part, cluster)
        format.read(spark, path)
      case InsertOverwriteMat(part) =>
        val path = s"$targetDir/${m.relationId}"
        val exists = new java.io.File(path).exists() && !fullRefresh
        if (!exists) format.write(df, path, Some(part))
        else format.overwritePartitions(df, path, part)
        format.read(spark, path)
      case MicrobatchMat(eventTime, gran) =>
        val path = s"$targetDir/${m.relationId}"
        val exists = new java.io.File(path).exists() && !fullRefresh
        val withPeriod = df.withColumn("_period",
          date_format(date_trunc(gran, col(eventTime).cast("timestamp")),
            "yyyy-MM-dd"))
        if (!exists) format.write(withPeriod, path, Some("_period"))
        else format.overwritePartitions(withPeriod, path, "_period")
        format.read(spark, path).drop("_period")
      case IncrementalMat(key, policy, predicates) =>
        val path = s"$targetDir/${m.relationId}"
        // --full-refresh: ignore (and replace) the existing table
        val exists = new java.io.File(path).exists() && !fullRefresh
        val merged = if (!exists) df else {
          val (b0, d0) = graft.operators.OnSchemaChange.align(
            format.read(spark, path), df, policy)
          // incremental_predicates: base rows outside the fence never
          // enter the merge window — they pass through untouched (and on
          // a partitioned table the filter is partition pruning)
          val fence = predicates.map(expr).reduceOption(_ && _)
          val (baseIn, baseOut) = fence match {
            case None => (b0, None)
            case Some(p) =>
              (b0.filter(coalesce(p, lit(false))),
               Some(b0.filter(!coalesce(p, lit(false)))))
          }
          val base = baseIn.withColumn("_src", lit(0))
          val delta = d0.withColumn("_src", lit(1))
          val w = Window.partitionBy(key).orderBy(col("_src").desc)
          val core = base.unionByName(delta)
            .withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).drop("_src", "_rn")
          baseOut.fold(core)(core.unionByName(_))
        }
        // on ParquetDirFormat this is the staged-dir swap; on an ACID
        // format it becomes MERGE INTO and the swap disappears
        format.replace(spark, merged, path)
        format.read(spark, path)
    }
  }
}
