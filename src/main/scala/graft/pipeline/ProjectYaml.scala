package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Loads the dbt project-file surface onto the engine's case classes:
  *
  *  - `dbt_project.yml` (reference dbt_project.yml:1-40): project name,
  *    profile, the `models:` config tree (`+materialized` per folder,
  *    `+on_schema_change`, ...);
  *  - `profiles/profiles.yml` (reference profiles/profiles.yml:2-40):
  *    outputs → [[Target]]s (threads, dataset → warehouse path), with
  *    dbt's `{{ env_var('X', default) }}` jinja forms resolved;
  *  - model `.sql` files: `{{ ref('m') }}` / `{{ source('s','t') }}`
  *    become DAG deps, the `{{ config(...) }}` header overrides the
  *    project-tree config, and the remaining SELECT runs through
  *    `spark.sql` with deps registered as temp views — so the reference's
  *    actual model files execute unchanged (BigQuery SQL the ANSI subset
  *    of which Spark parses: casts, CASE WHEN, CTEs);
  *  - model `.yml` schema files: `unique` / `not_null` /
  *    `accepted_values` tests → violation-row [[Model.tests]];
  *  - `exposures.yml` → [[Exposure]]s.
  *
  * What deliberately does NOT map: BigQuery connection fields (project,
  * location, OAuth method, billing caps) — engine-irrelevant; dbt's
  * packages/macros (the engine's operators are the macro library).
  */
object ProjectYaml {

  private def str(v: Any): String = v match {
    case null => ""
    case s: String => s
    case other => other.toString
  }
  private def m(v: Any): Map[String, Any] = v match {
    case mm: Map[_, _] => mm.asInstanceOf[Map[String, Any]]
    case _ => Map.empty
  }
  private def seq(v: Any): Seq[Any] = v match {
    case s: Seq[_] => s.asInstanceOf[Seq[Any]]
    case _ => Nil
  }

  /** A YAML document through Spark's bundled SnakeYAML (YAML 1.1, as
    * dbt's PyYAML reads it: anchors, merge keys, flow collections,
    * escapes; `yes`/`on` are booleans) with safe types only, as
    * `Map[String, Any]` / `Seq[Any]` / Long / Double / Boolean / String
    * / null. A timestamp-tagged scalar keeps its text, so `2024-01-01`
    * stays a string. An empty or all-comment document is an empty map. */
  private def parse(yaml: String): Any = {
    import org.yaml.snakeyaml.{LoaderOptions, Yaml}
    import org.yaml.snakeyaml.constructor.SafeConstructor
    import org.yaml.snakeyaml.nodes.Tag
    import scala.jdk.CollectionConverters._
    def toScala(v: Any): Any = v match {
      case mm: java.util.Map[_, _] =>
        mm.asScala.iterator.map { case (k, x) => str(toScala(k)) -> toScala(x) }.toMap
      case l: java.util.List[_] => l.asScala.iterator.map(toScala).toList
      case i: java.lang.Integer => i.longValue
      case b: java.math.BigInteger => b.toString
      case other => other
    }
    val loader = new Yaml(new SafeConstructor(new LoaderOptions) {
      yamlConstructors.put(Tag.TIMESTAMP, new ConstructYamlStr)
    })
    Option(loader.load[Any](yaml)).map(toScala).getOrElse(Map.empty[String, Any])
  }

  /** Split on `sep` at paren/bracket/quote depth 0: the Jinja and Python
    * argument lists of `env_var(...)` and `config(...)`. */
  private def splitTop(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0; var inS = false; var inD = false
    s.foreach { c =>
      if (c == '\'' && !inD) { inS = !inS; cur += c }
      else if (c == '"' && !inS) { inD = !inD; cur += c }
      else if (!inS && !inD && "([{".contains(c)) { depth += 1; cur += c }
      else if (!inS && !inD && ")]}".contains(c)) { depth -= 1; cur += c }
      else if (!inS && !inD && depth == 0 && c == sep) {
        out += cur.toString; cur.clear()
      } else cur += c
    }
    if (cur.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  // ---- jinja env_var resolution (the profiles.yml surface) ----

  /** Resolve a dbt profile string: `{{ env_var('A') }}`,
    * `{{ env_var('A', 'default') }}`, string concat with `~`, nested
    * env_var in the default position. Returns None when a template uses
    * anything beyond that (filters, conditionals) or names an env var
    * with no default and no binding — the caller decides the fallback. */
  def renderJinja(s: String, env: Map[String, String]): Option[String] = {
    if (!s.contains("{{")) return Some(s)
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val open = s.indexOf("{{", i)
      if (open < 0) { out ++= s.substring(i); i = s.length }
      else {
        out ++= s.substring(i, open)
        val close = s.indexOf("}}", open)
        if (close < 0) return None
        evalExpr(s.substring(open + 2, close).trim, env) match {
          case Some(v) => out ++= v
          case None => return None
        }
        i = close + 2
      }
    }
    Some(out.toString)
  }

  /** literal | env_var(expr[, expr]) | expr ~ expr */
  private def evalExpr(e: String, env: Map[String, String]): Option[String] = {
    val parts = splitTop(e, '~')
    if (parts.length > 1) {
      val vals = parts.map(p => evalExpr(p.trim, env))
      if (vals.forall(_.isDefined)) Some(vals.flatten.mkString) else None
    } else {
      val t = e.trim
      if (t.length >= 2 && ((t.head == '\'' && t.last == '\'') ||
                            (t.head == '"' && t.last == '"')))
        Some(t.substring(1, t.length - 1))
      else if (t.startsWith("env_var(") && t.endsWith(")")) {
        val args = splitTop(t.substring(8, t.length - 1), ',')
          .map(a => evalExpr(a.trim, env))
        if (args.isEmpty || args.head.isEmpty) None
        else env.get(args.head.get)
          .orElse(if (args.length > 1) args(1) else None)
      } else None
    }
  }

  // ---- profiles.yml → Targets ----

  /** All outputs of `profileName` as [[Target]]s: `threads` maps direct,
    * the resolved `dataset` becomes `<warehouseBase>/<dataset>` (the
    * engine's per-target isolation, exactly what the per-target BigQuery
    * dataset buys). Also returns the profile's default target name. */
  def loadProfiles(yaml: String, profileName: String, warehouseBase: String,
                   env: Map[String, String] = Map.empty)
      : (Seq[Target], String) = {
    val root = m(parse(yaml))
    val prof = m(root.getOrElse(profileName, throw new IllegalArgumentException(
      s"profiles.yml: no profile '$profileName' (have: ${root.keys.mkString(", ")})")))
    val defaultTarget = renderJinja(str(prof.getOrElse("target", "dev")), env)
      .getOrElse("dev")
    val outputs = m(prof.getOrElse("outputs", Map.empty))
    val targets = outputs.toSeq.map { case (name, conf) =>
      val c = m(conf)
      val threads = c.get("threads").collect { case l: Long => l.toInt }
        .getOrElse(1)
      val dataset = c.get("dataset").map(str).flatMap(renderJinja(_, env))
        .filter(_.nonEmpty).getOrElse(name)
      Target(name, s"$warehouseBase/$dataset", threads)
    }
    (targets, defaultTarget)
  }

  // ---- dbt_project.yml → config tree ----

  final case class ProjectConfig(name: String, profile: String,
                                 modelPaths: Seq[String],
                                 seedPaths: Seq[String],
                                 snapshotPaths: Seq[String],
                                 modelsTree: Map[String, Any],
                                 vars: Map[String, String] = Map.empty,
                                 seedsTree: Map[String, Any] = Map.empty)

  def loadProject(yaml: String): ProjectConfig = {
    val root = m(parse(yaml))
    ProjectConfig(
      name = str(root.getOrElse("name", "project")),
      profile = str(root.getOrElse("profile", "")),
      modelPaths = seq(root.getOrElse("model-paths", Seq("models"))).map(str),
      seedPaths = seq(root.getOrElse("seed-paths", Seq("seeds"))).map(str),
      snapshotPaths =
        seq(root.getOrElse("snapshot-paths", Seq("snapshots"))).map(str),
      modelsTree = m(root.getOrElse("models", Map.empty)),
      vars = m(root.getOrElse("vars", Map.empty))
        .map { case (k, v) => k -> str(v) },
      seedsTree = m(root.getOrElse("seeds", Map.empty)))
  }

  private val VarPat =
    ("\\{\\{\\s*var\\s*\\(\\s*'([^']+)'\\s*" +
      "(?:,\\s*'([^']*)'\\s*)?\\)\\s*\\}\\}").r

  /** dbt `{{ var('name'[, 'default']) }}` substitution: project `vars:`
    * (their own jinja resolved against `env` first) win, then the call's
    * inline default; an undefined var with no default refuses loudly
    * (dbt's behavior). */
  def substituteVars(sql: String, vars: Map[String, String],
                     env: Map[String, String] = Map.empty): String = {
    val resolved = vars.map { case (k, v) =>
      k -> renderJinja(v, env).getOrElse(v) }
    VarPat.replaceAllIn(sql, mm =>
      java.util.regex.Matcher.quoteReplacement(
        resolved.getOrElse(mm.group(1),
          Option(mm.group(2)).getOrElse(throw new IllegalArgumentException(
            s"undefined var '${mm.group(1)}' with no default")))))
  }

  /** Folder-scoped config for a model at models/<path...>/<file>: walk the
    * `models:` tree collecting `+key` entries — root, then the project
    * name scope, then each folder segment (deeper wins, dbt's rule). */
  def folderConfig(tree: Map[String, Any], project: String,
                   path: Seq[String]): Map[String, Any] = {
    def plusOf(node: Map[String, Any]): Map[String, Any] =
      node.collect { case (k, v) if k.startsWith("+") => k.drop(1) -> v }
    var conf = plusOf(tree)
    var node = m(tree.getOrElse(project, Map.empty))
    conf ++= plusOf(node)
    path.foreach { seg =>
      node = m(node.getOrElse(seg, Map.empty))
      conf ++= plusOf(node)
    }
    conf
  }

  // ---- model .sql files: config() header, refs, executable body ----

  /** Extract `{{ config(...) }}` kwargs (python-literal subset: strings,
    * booleans, flow lists, flow dicts) and return (kwargs, sql without the
    * config block). */
  def parseConfigHeader(sql: String): (Map[String, Any], String) = {
    val cfg = "\\{\\{\\s*config\\s*\\(".r.findFirstMatchIn(sql) match {
      case None => return (Map.empty, sql)
      case Some(mm) => mm
    }
    var depth = 1 // inside config(
    var i = cfg.end
    var inS = false; var inD = false
    while (i < sql.length && depth > 0) {
      val c = sql.charAt(i)
      if (c == '\'' && !inD) inS = !inS
      else if (c == '"' && !inS) inD = !inD
      else if (!inS && !inD && "([{".contains(c)) depth += 1
      else if (!inS && !inD && ")]}".contains(c)) depth -= 1
      i += 1
    }
    val argsEnd = i - 1
    val close = sql.indexOf("}}", argsEnd)
    require(close >= 0, "model sql: unterminated {{ config(...) }}")
    val args = sql.substring(cfg.end, argsEnd)
    val body = sql.substring(0, cfg.start) + sql.substring(close + 2)
    val kwargs = splitTop(args, ',').flatMap { kv =>
      splitTop(kv, '=') match {
        case Seq(k, v) => Some(k.trim -> pyLiteral(v.trim))
        case _ => None
      }
    }.toMap
    (kwargs, body)
  }

  private def pyLiteral(v: String): Any =
    if (v == "true" || v == "True") true
    else if (v == "false" || v == "False") false
    else if (v.length >= 2 && ((v.head == '\'' && v.last == '\'') ||
                               (v.head == '"' && v.last == '"')))
      v.substring(1, v.length - 1)
    else if (v.startsWith("[") && v.endsWith("]"))
      splitTop(v.substring(1, v.length - 1), ',').map(pyLiteral)
    else if (v.startsWith("{") && v.endsWith("}"))
      splitTop(v.substring(1, v.length - 1), ',').flatMap { kv =>
        splitTop(kv, ':') match {
          case Seq(k, vv) => Some(str(pyLiteral(k.trim)) -> pyLiteral(vv.trim))
          case _ => None
        }
      }.toMap
    else if (v.matches("-?\\d+")) v.toLong
    else v

  private val RefPat = "\\{\\{\\s*ref\\s*\\(\\s*'([^']+)'\\s*\\)\\s*\\}\\}".r
  private val SourcePat =
    "\\{\\{\\s*source\\s*\\(\\s*'([^']+)'\\s*,\\s*'([^']+)'\\s*\\)\\s*\\}\\}".r
  private val SnapshotPat =
    ("(?s)\\{%\\s*snapshot\\s+(\\w+)\\s*%\\}(.*?)\\{%\\s*endsnapshot\\s*%\\}").r

  /** deps of a model body: ref('m') → "m", source('s','t') → "s.t" (the
    * input-map key convention for [[Pipeline.run]] sources). */
  def depsOf(sql: String): Seq[String] =
    (RefPat.findAllMatchIn(sql).map(_.group(1)) ++
     SourcePat.findAllMatchIn(sql).map(mm => s"${mm.group(1)}.${mm.group(2)}"))
      .toSeq.distinct

  /** The executable build function: register each dep as a temp view,
    * substitute the jinja calls with the view names, run `spark.sql`. */
  private def sqlBuild(name: String, body: String)
      : Map[String, DataFrame] => DataFrame = { in =>
    val spark = in.values.headOption
      .map(_.sparkSession)
      .getOrElse(throw new IllegalStateException(s"model $name: no inputs"))
    def viewName(dep: String): String =
      s"graft_yaml_${name}_${dep}".replaceAll("[^A-Za-z0-9_]", "_")
    var sql = RefPat.replaceAllIn(body,
      mm => viewName(mm.group(1)))
    sql = SourcePat.replaceAllIn(sql,
      mm => viewName(s"${mm.group(1)}.${mm.group(2)}"))
    in.foreach { case (dep, df) => df.createOrReplaceTempView(viewName(dep)) }
    spark.sql(sql)
  }

  private def materializationOf(conf: Map[String, Any]): Materialization =
    str(conf.getOrElse("materialized", "view")) match {
      case "view" => ViewMat
      case "ephemeral" => EphemeralMat
      case "table" =>
        val part = conf.get("partition_by").map {
          case d: Map[_, _] => str(d.asInstanceOf[Map[String, Any]]("field"))
          case other => str(other)
        }
        val cluster = seq(conf.getOrElse("cluster_by", Nil)).map(str)
        TableMat(part, cluster)
      case "incremental" =>
        IncrementalMat(str(conf.getOrElse("unique_key",
          throw new IllegalArgumentException("incremental model needs unique_key"))),
          onSchemaChange = str(conf.getOrElse("on_schema_change",
              "append_new_columns")) match {
            case "ignore" => graft.operators.OnSchemaChange.Ignore
            case "sync_all_columns" => graft.operators.OnSchemaChange.SyncAllColumns
            case "fail" => graft.operators.OnSchemaChange.Fail
            case _ => graft.operators.OnSchemaChange.AppendNewColumns
          })
      case other =>
        throw new IllegalArgumentException(s"unsupported materialization '$other'")
    }

  // ---- model .yml schema files → tests ----

  /** Schema-test declarations → violation-row test functions, dbt's
    * generic-test semantics. Both dbt layouts load: model-level
    * `tests: - unique: {column_name: c}` (the reference's form) and the
    * more common column-nested form
    * `columns: - name: c / tests: [- unique, - not_null, ...]` where the
    * enclosing column block names the column and a bare test kind needs
    * no args. */
  def loadModelTests(yaml: String)
      : Map[String, Seq[(String, DataFrame => DataFrame)]] = {
    import org.apache.spark.sql.functions._
    val root = m(parse(yaml))
    seq(root.getOrElse("models", Nil)).map(m(_)).flatMap { mod =>
      val name = str(mod.getOrElse("name", ""))
      // model-level: seq of one-key maps carrying column_name args;
      // column-level: bare kinds (scalars) or one-key maps under a column
      val modelLevel = seq(mod.getOrElse("tests", Nil)).map(m(_)).flatMap { t =>
        t.toSeq.map { case (kind, args) =>
          (kind, m(args), str(m(args).getOrElse("column_name", "id")))
        }
      }
      val columnLevel = seq(mod.getOrElse("columns", Nil)).map(m(_)).flatMap { c =>
        val column = str(c.getOrElse("name", ""))
        seq(c.getOrElse("tests", Nil)).flatMap {
          case kind: String => Some((kind, Map.empty[String, Any], column))
          case mm: Map[_, _] =>
            mm.asInstanceOf[Map[String, Any]].headOption.map { case (k, v) =>
              (k, m(v), column) }
          case _ => None
        }
      }
      if (name.isEmpty) None else Some(name ->
        (modelLevel ++ columnLevel).map { case (kind, a, column) =>
          locally {
            kind match {
              case "unique" => (s"unique_${name}_$column",
                (df: DataFrame) => df.groupBy(column)
                  .agg(count(lit(1)).as("n")).filter(col("n") > 1))
              case "not_null" => (s"not_null_${name}_$column",
                (df: DataFrame) => df.filter(col(column).isNull))
              case "accepted_values" =>
                val vals = seq(a.getOrElse("values", Nil)).map(str)
                (s"accepted_values_${name}_$column",
                  (df: DataFrame) => df.filter(!col(column).isin(vals: _*)))
              case other =>
                // refusing beats a silent no-op that would report "tests
                // pass" for a test that never ran (relationships needs a
                // second model's frame — wire it via Model.tests directly)
                throw new IllegalArgumentException(
                  s"model $name: unsupported schema test '$other' " +
                    "(loadable: unique, not_null, accepted_values)")
            }
          }
        })
    }.toMap
  }

  /** Per-test severity configs (`config: {severity: warn, warn_if: ">10",
    * error_if: ">100"}`, dbt-core standard; `severity:` directly in the
    * test args also accepted, dbt's pre-1.0 spelling). Test names follow
    * [[loadModelTests]]'s `<kind>_<model>_<column>` convention so the two
    * maps key-align on [[Model.tests]] / [[Model.testConfig]]. Only tests
    * that SET something appear — absent keys default to error-at-any-
    * violation in [[TestConfig]]. */
  def loadTestConfigs(yaml: String): Map[String, Map[String, TestConfig]] = {
    val root = m(parse(yaml))
    def cfgOf(args: Map[String, Any]): Option[TestConfig] = {
      val c = m(args.getOrElse("config", Map.empty[String, Any]))
      val sev = c.get("severity").orElse(args.get("severity")).map(str)
      val warnIf = c.get("warn_if").map(str)
      val errorIf = c.get("error_if").map(str)
      val store = c.get("store_failures").collect { case b: Boolean => b }
      if (sev.isEmpty && warnIf.isEmpty && errorIf.isEmpty && store.isEmpty) None
      else Some(TestConfig(sev.getOrElse("error"),
        warnIf.getOrElse("!= 0"), errorIf.getOrElse("!= 0"),
        store.getOrElse(false)))
    }
    seq(root.getOrElse("models", Nil)).map(m(_)).flatMap { mod =>
      val name = str(mod.getOrElse("name", ""))
      val modelLevel = seq(mod.getOrElse("tests", Nil)).map(m(_)).flatMap {
        _.toSeq.flatMap { case (kind, args) =>
          val a = m(args)
          cfgOf(a).map(c =>
            s"${kind}_${name}_${str(a.getOrElse("column_name", "id"))}" -> c)
        }
      }
      val columnLevel = seq(mod.getOrElse("columns", Nil)).map(m(_)).flatMap { c =>
        val column = str(c.getOrElse("name", ""))
        seq(c.getOrElse("tests", Nil)).flatMap {
          case mm: Map[_, _] =>
            mm.asInstanceOf[Map[String, Any]].headOption.flatMap {
              case (k, v) => cfgOf(m(v)).map(s"${k}_${name}_$column" -> _)
            }
          case _ => None // bare kinds carry no config
        }
      }
      val all = (modelLevel ++ columnLevel).toMap
      if (name.isEmpty || all.isEmpty) None else Some(name -> all)
    }.toMap
  }

  /** Model + column `description:` fields → the docs the manifest/catalog
    * export persists (dbt `persist_docs`). */
  def loadModelDocs(yaml: String)
      : Map[String, (String, Map[String, String])] = {
    val root = m(parse(yaml))
    seq(root.getOrElse("models", Nil)).map(m(_)).flatMap { mod =>
      val name = str(mod.getOrElse("name", ""))
      if (name.isEmpty) None else Some(name -> (
        str(mod.getOrElse("description", "")),
        seq(mod.getOrElse("columns", Nil)).map(m(_)).flatMap { c =>
          val cn = str(c.getOrElse("name", ""))
          val d = str(c.getOrElse("description", ""))
          if (cn.isEmpty || d.isEmpty) None else Some(cn -> d)
        }.toMap))
    }.toMap
  }

  // ---- unit_tests: blocks (dbt-core 1.8) ----

  /** One declared unit test: mocked input rows per dep, expected output
    * rows (possibly a column subset — dbt compares only the columns the
    * expectation names). `given` keys are dep names exactly as
    * [[depsOf]] produces them (`ref('x')` → `x`,
    * `source('a','b')` → `a.b`). */
  final case class UnitTestDef(name: String, model: String,
                               given: Map[String, Seq[Map[String, Any]]],
                               expect: Seq[Map[String, Any]])

  private val InputRefPat = "ref\\s*\\(\\s*'([^']+)'\\s*\\)".r
  private val InputSourcePat =
    "source\\s*\\(\\s*'([^']+)'\\s*,\\s*'([^']+)'\\s*\\)".r

  /** `unit_tests:` blocks (dbt 1.8) → [[UnitTestDef]]s. Row sets use the
    * dict form (`rows: - {a: 1, b: x}` or block maps); other fixture
    * formats (csv/sql) refuse loudly rather than silently passing. */
  def loadUnitTests(yaml: String): Seq[UnitTestDef] = {
    val root = m(parse(yaml))
    def rowsOf(node: Map[String, Any], what: String): Seq[Map[String, Any]] = {
      node.get("format").map(str).foreach(f => require(f == "dict",
        s"unit test $what: only format: dict fixtures load (got '$f')"))
      seq(node.getOrElse("rows", Nil)).map(m(_))
    }
    seq(root.getOrElse("unit_tests", Nil)).map(m(_)).map { ut =>
      val name = str(ut.getOrElse("name",
        throw new IllegalArgumentException("unit test without a name")))
      val model = str(ut.getOrElse("model",
        throw new IllegalArgumentException(s"unit test $name: model required")))
      val given = seq(ut.getOrElse("given", Nil)).map(m(_)).map { g =>
        val raw = str(g.getOrElse("input",
          throw new IllegalArgumentException(
            s"unit test $name: given entry without input")))
        val dep = InputRefPat.findFirstMatchIn(raw).map(_.group(1))
          .orElse(InputSourcePat.findFirstMatchIn(raw).map(mm =>
            s"${mm.group(1)}.${mm.group(2)}"))
          .getOrElse(raw.trim)
        dep -> rowsOf(g, name)
      }.toMap
      UnitTestDef(name, model, given,
        rowsOf(m(ut.getOrElse("expect", Map.empty[String, Any])), name))
    }
  }

  /** YAML row maps → a typed DataFrame: per-column type from the first
    * non-null value (long / double / boolean / string), integer cells
    * widening to double where the column is double. */
  private def rowsToDf(spark: org.apache.spark.sql.SparkSession,
                       rows: Seq[Map[String, Any]]): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val cols: Seq[String] = rows.flatMap(_.keys).distinct
    require(cols.nonEmpty, "unit test fixture needs at least one column")
    def typeOf(v: Any): DataType = v match {
      case _: Long => LongType
      case _: Double => DoubleType
      case _: Boolean => BooleanType
      case _ => StringType
    }
    val colType: Map[String, DataType] = cols.map { c =>
      val vs = rows.flatMap(_.get(c)).filter(_ != null)
      val t0 = vs.headOption.map(typeOf).getOrElse(StringType)
      // a mixed int/float column is a double column
      c -> (if (t0 == LongType && vs.exists(_.isInstanceOf[Double])) DoubleType
            else t0)
    }.toMap
    val data: Seq[Row] = rows.map { r =>
      Row(cols.map { c =>
        (r.get(c).orNull, colType(c)) match {
          case (null, _) => null
          case (v: Long, DoubleType) => v.toDouble
          case (v, StringType) => v.toString
          case (v, _) => v
        }
      }: _*)
    }
    spark.createDataFrame(data.asJava,
      StructType(cols.map(c => StructField(c, colType(c), nullable = true))))
  }

  /** Run declared unit tests against loaded models (dbt `dbt test
    * --select test_type:unit`): each test builds its model from the
    * mocked inputs ONLY (no warehouse state — every dep must be mocked),
    * projects the result onto the expectation's columns, casts the
    * expected literals to the model's own output types (dbt's input
    * coercion), and multiset-diffs. Returns (test, None) on pass or
    * (test, Some(diff description)). */
  def runUnitTests(spark: org.apache.spark.sql.SparkSession,
                   models: Seq[Model], tests: Seq[UnitTestDef])
      : Seq[(String, Option[String])] = tests.map { ut =>
    val outcome: Option[String] = models.find(_.name == ut.model) match {
      case None => Some(s"unknown model '${ut.model}'")
      case Some(model) =>
        val missing = model.deps.filterNot(ut.given.contains)
        if (missing.nonEmpty)
          Some(s"input(s) not mocked: ${missing.mkString(", ")}")
        else {
          val mocked = model.deps.map(d =>
            d -> rowsToDf(spark, ut.given(d))).toMap
          val actual = model.build(mocked)
          val expectCols = ut.expect.flatMap(_.keys).distinct
          val unknown = expectCols.filterNot(actual.columns.contains)
          if (unknown.nonEmpty)
            Some(s"expected column(s) not in model output: " +
              unknown.mkString(", "))
          else {
            val proj = actual.select(expectCols.map(
              org.apache.spark.sql.functions.col): _*)
            val expected = rowsToDf(spark, ut.expect)
              .select(expectCols.map(org.apache.spark.sql.functions.col): _*)
            val coerced = expected.select(expectCols.map(c =>
              org.apache.spark.sql.functions.col(c)
                .cast(proj.schema(c).dataType).as(c)): _*)
            val nExtra = proj.exceptAll(coerced).count()
            val nMissing = coerced.exceptAll(proj).count()
            if (nExtra == 0 && nMissing == 0) None
            else Some(s"$nExtra unexpected row(s), $nMissing missing row(s)")
          }
        }
    }
    ut.name -> outcome
  }

  /** The text of every `.yml` file under the project's model paths. */
  private def modelYmls(projectDir: String): Seq[String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(projectDir)
    val project = loadProject(Files.readString(root.resolve("dbt_project.yml")))
    project.modelPaths.map(root.resolve).filter(Files.isDirectory(_))
      .flatMap { d =>
        val s = Files.walk(d)
        try s.iterator().asScala.filter(f =>
          Files.isRegularFile(f) && f.toString.endsWith(".yml")).toVector
        finally s.close()
      }.map(Files.readString(_))
  }

  /** Every `unit_tests:` declaration under the project's model paths. */
  def loadProjectUnitTests(projectDir: String): Seq[UnitTestDef] =
    modelYmls(projectDir).flatMap(loadUnitTests)

  // ---- metrics: blocks (dbt 1.6 semantic layer) ----

  /** `metrics:` blocks (the dbt 1.6 metrics spec) → [[Metric]]s:
    * `calculation_method` + `expression` compile to the aggregate SQL,
    * `model: ref('m')` resolves to the DAG name, `dimensions` /
    * `timestamp` / `filters` map onto the governance surface
    * [[Metrics.query]] enforces. `derived` metrics (expressions over
    * other metrics) refuse loudly — out of the compiled-aggregate
    * contract. */
  def loadMetrics(yaml: String): Seq[Metric] = {
    seq(m(parse(yaml)).getOrElse("metrics", Nil)).map(m(_)).map { mt =>
      val name = str(mt.getOrElse("name",
        throw new IllegalArgumentException("metric without a name")))
      val modelRaw = str(mt.getOrElse("model",
        throw new IllegalArgumentException(s"metric $name: model required")))
      val model = InputRefPat.findFirstMatchIn(modelRaw).map(_.group(1))
        .getOrElse(modelRaw.trim)
      val method = str(mt.getOrElse("calculation_method",
        throw new IllegalArgumentException(
          s"metric $name: calculation_method required")))
      val exprS = str(mt.getOrElse("expression", "*"))
      val agg = method match {
        case "count" => s"count($exprS)"
        case "count_distinct" => s"count(DISTINCT $exprS)"
        case "sum" | "min" | "max" => s"$method($exprS)"
        case "average" => s"avg($exprS)"
        case other => throw new IllegalArgumentException(
          s"metric $name: unsupported calculation_method '$other' " +
            "(count, count_distinct, sum, average, min, max)")
      }
      val filters = seq(mt.getOrElse("filters", Nil)).map(m(_)).map { f =>
        s"${str(f("field"))} ${str(f("operator"))} ${str(f("value"))}"
      }
      Metric(name, model, agg,
        dimensions = seq(mt.getOrElse("dimensions", Nil)).map(str),
        timeDimension = mt.get("timestamp").map(str),
        filter = if (filters.isEmpty) None
                 else Some(filters.mkString("(", ") AND (", ")")),
        description = str(mt.getOrElse("description", "")))
    }
  }

  /** Every `metrics:` declaration under the project's model paths. */
  def loadProjectMetrics(projectDir: String): Seq[Metric] =
    modelYmls(projectDir).flatMap(loadMetrics)

  // ---- selectors.yml (dbt named selectors) ----

  /** One named selector: `definition` is the raw YAML criteria tree,
    * evaluated against a DAG by [[Pipeline.evalSelector]]. */
  final case class SelectorDef(name: String, description: String,
                               isDefault: Boolean, definition: Any)

  /** `selectors.yml` (project root): named, reusable selection criteria
    * (`dbt run --selector nightly`). At most one may be `default: true`
    * (dbt refuses ambiguous defaults; so does this). */
  def loadSelectors(yaml: String): Seq[SelectorDef] = {
    val defs = seq(m(parse(yaml)).getOrElse("selectors", Nil))
      .map(m(_)).map { s =>
        SelectorDef(
          str(s.getOrElse("name", throw new IllegalArgumentException(
            "selector without a name"))),
          str(s.getOrElse("description", "")),
          s.get("default").contains(true),
          s.getOrElse("definition", throw new IllegalArgumentException(
            s"selector '${str(s.getOrElse("name", "?"))}' without a definition")))
      }
    require(defs.map(_.name).distinct.size == defs.size,
      "duplicate selector names")
    require(defs.count(_.isDefault) <= 1,
      s"multiple default selectors: ${defs.filter(_.isDefault).map(_.name)}")
    defs
  }

  /** The project's `selectors.yml`, if present. */
  def loadProjectSelectors(projectDir: String): Seq[SelectorDef] = {
    val f = java.nio.file.Paths.get(projectDir, "selectors.yml")
    if (java.nio.file.Files.isRegularFile(f))
      loadSelectors(java.nio.file.Files.readString(f))
    else Nil
  }

  // ---- sources .yml (src_example.yml shape) ----

  /** One declared source table's freshness contract (reference
    * models/staging/src_example.yml: `loaded_at_field` +
    * warn_after/error_after periods). `warnAfterSec`/`errorAfterSec` are
    * the thresholds in seconds — feed them with a max(loaded_at) (or a
    * txlog `lastCommitEpoch`) to [[graft.operators.Freshness]]. */
  final case class SourceTable(source: String, table: String,
                               loadedAtField: Option[String],
                               warnAfterSec: Option[Long],
                               errorAfterSec: Option[Long]) {
    /** The [[Pipeline.run]] input-map key this source resolves to. */
    def inputKey: String = s"$source.$table"
  }

  def loadSources(yaml: String): Seq[SourceTable] = {
    def periodSec(v: Any): Option[Long] = {
      val c = m(v)
      val count = c.get("count").collect { case l: Long => l }
      val unit = str(c.getOrElse("period", "hour")) match {
        case "minute" => 60L
        case "day" => 86400L
        case _ => 3600L // hour, dbt's default period
      }
      count.map(_ * unit)
    }
    val root = m(parse(yaml))
    seq(root.getOrElse("sources", Nil)).map(m(_)).flatMap { src =>
      val sname = str(src.getOrElse("name", ""))
      seq(src.getOrElse("tables", Nil)).map(m(_)).map { t =>
        // dbt 1.7 nests freshness/loaded_at_field under `config:`; both
        // the flat (pre-1.7) and nested forms load
        val conf = m(t.getOrElse("config", Map.empty))
        val fresh = m(conf.getOrElse("freshness",
          t.getOrElse("freshness", Map.empty)))
        SourceTable(
          source = sname,
          table = str(t.getOrElse("name", "")),
          loadedAtField = conf.get("loaded_at_field")
            .orElse(t.get("loaded_at_field")).map(str),
          warnAfterSec = fresh.get("warn_after").flatMap(periodSec),
          errorAfterSec = fresh.get("error_after").flatMap(periodSec))
      }
    }
  }

  /** `dbt source freshness` over the declared contracts: for each source
    * table with a `loaded_at_field`, ONE max() aggregate over its input
    * frame (metadata-cheap at any size — no row leaves the executor but
    * a 1-row max), statused against the declared warn/error periods on
    * exact seconds (dbt semantics). Sources without a freshness block
    * report `none`. */
  def sourceFreshnessReport(srcs: Seq[SourceTable],
                            inputs: Map[String, DataFrame],
                            anchorEpoch: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val withField = srcs.filter(_.loadedAtField.isDefined)
    require(withField.nonEmpty, "no source declares a loaded_at_field")
    withField.map { st =>
      val df = inputs.getOrElse(st.inputKey, throw new IllegalArgumentException(
        s"source freshness: no input for '${st.inputKey}' " +
          s"(have: ${inputs.keys.mkString(", ")})"))
      val age = lit(anchorEpoch) -
        col(st.loadedAtField.get).cast("timestamp").cast("long")
      // dbt freshness = age of the NEWEST row: anchor − max(loaded_at)
      // ≡ min(age). An EMPTY source has no newest row — that is maximal
      // staleness, not "ok" (the null would otherwise sail through every
      // threshold comparison as not-true).
      df.agg(coalesce(min(age), lit(Long.MaxValue)).as("age_s"))
        .select(
          lit(st.source).as("source"), lit(st.table).as("table"),
          (lit(anchorEpoch) - col("age_s")).as("loaded_at_s"),
          floor(col("age_s") / 3600L).cast("long").as("age_hours"),
          (st.warnAfterSec, st.errorAfterSec) match {
            case (None, None) => lit("none").as("status")
            case (w, e) =>
              when(col("age_s") > e.map(lit(_)).getOrElse(lit(Long.MaxValue)), "error")
                .when(col("age_s") > w.map(lit(_)).getOrElse(lit(Long.MaxValue)), "warn")
                .otherwise("ok").as("status")
          })
    }.reduce(_.unionByName(_))
  }

  // ---- exposures.yml ----

  def loadExposures(yaml: String): Seq[Exposure] = {
    val root = m(parse(yaml))
    seq(root.getOrElse("exposures", Nil)).map(m(_)).map { e =>
      Exposure(
        name = str(e.getOrElse("name", "")),
        exposureType = str(e.getOrElse("type", "")),
        owner = str(m(e.getOrElse("owner", Map.empty)).getOrElse("name", "")),
        dependsOn = seq(e.getOrElse("depends_on", Nil)).map(str).map { d =>
          RefPat.findFirstMatchIn(d).map(_.group(1))
            .orElse("ref\\('([^']+)'\\)".r.findFirstMatchIn(d).map(_.group(1)))
            .getOrElse(d)
        },
        // a `|` block keeps its line break (YAML clip chomping); the
        // exposure's description is the text without it
        description = str(e.getOrElse("description", "")).stripLineEnd)
    }
  }

  // ---- the whole project directory → Pipeline ----

  /** Build a [[Pipeline]] from a dbt project directory: every .sql file
    * under the model paths becomes a [[Model]] (deps from its jinja refs,
    * materialization from the project tree + its config header, tests
    * from the sibling .yml), exposures from models/exposures.yml.
    *
    * `includeDisabled` loads models whose config says `enabled=false`
    * (the reference project templates ship disabled — loading them is how
    * the spec proves the loader walks the real files). */
  def load(projectDir: String,
           includeDisabled: Boolean = false,
           format: graft.sources.TableFormat = graft.sources.ParquetDirFormat,
           env: Map[String, String] = Map.empty)
      : Pipeline = {
    val (models, exposures) = loadModels(projectDir, includeDisabled, env)
    // metrics on a model that exists but is DISABLED drop (dbt skips the
    // metric with the model); a metric naming a model the project never
    // declared is a typo and still refuses at Pipeline construction
    val allNames = (if (includeDisabled) models
      else loadModels(projectDir, includeDisabled = true, env)._1)
      .map(_.name).toSet
    val loaded = models.map(_.name).toSet
    val metrics = loadProjectMetrics(projectDir).filter(mt =>
      loaded.contains(mt.model) || !allNames.contains(mt.model))
    new Pipeline(models, exposures = exposures, format = format,
      metrics = metrics)
  }

  /** The parsed [[Model]]s + [[Exposure]]s of a project directory —
    * [[load]] without the Pipeline wrapper, for callers (and specs) that
    * inspect deps/materializations/tests directly. */
  def loadModels(projectDir: String, includeDisabled: Boolean = false,
                 env: Map[String, String] = Map.empty)
      : (Seq[Model], Seq[Exposure]) = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(projectDir)
    val project = loadProject(Files.readString(root.resolve("dbt_project.yml")))
    val modelsDirs = project.modelPaths.map(root.resolve)
    val sqlFiles = modelsDirs.filter(Files.isDirectory(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(f =>
        Files.isRegularFile(f) && f.toString.endsWith(".sql")).toVector
      finally s.close()
    }
    val ymlFiles = modelsDirs.filter(Files.isDirectory(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(f =>
        Files.isRegularFile(f) && f.toString.endsWith(".yml")).toVector
      finally s.close()
    }
    val tests = ymlFiles.map(f => loadModelTests(Files.readString(f)))
      .foldLeft(Map.empty[String, Seq[(String, DataFrame => DataFrame)]])(_ ++ _)
    val testCfgs = ymlFiles.map(f => loadTestConfigs(Files.readString(f)))
      .foldLeft(Map.empty[String, Map[String, TestConfig]])(_ ++ _)
    val docs = ymlFiles.map(f => loadModelDocs(Files.readString(f)))
      .foldLeft(Map.empty[String, (String, Map[String, String])])(_ ++ _)
    val exposures = ymlFiles.filter(_.getFileName.toString == "exposures.yml")
      .flatMap(f => loadExposures(Files.readString(f)))
    val models = sqlFiles.flatMap { f =>
      val name = f.getFileName.toString.stripSuffix(".sql")
      val raw = Files.readString(f)
      val (cfg, body0) = parseConfigHeader(raw)
      val body = substituteVars(body0, project.vars, env)
      val enabled = cfg.get("enabled") match {
        case Some(b: Boolean) => b
        case _ => true
      }
      if (!enabled && !includeDisabled) None
      else {
        val folder = modelsDirs.find(f.startsWith(_)).map(d =>
          d.relativize(f.getParent)).map(_.toString).getOrElse("")
        val path = folder.split("/").toSeq.filter(_.nonEmpty)
        val conf = folderConfig(project.modelsTree, project.name, path) ++ cfg
        Some(Model(name, depsOf(body), materializationOf(conf),
          sqlBuild(name, body),
          description = docs.get(name).map(_._1).getOrElse(""),
          checksum = Integer.toHexString(raw.hashCode),
          columnDocs = docs.get(name).map(_._2).getOrElse(Map.empty),
          tests = tests.getOrElse(name, Nil),
          group = conf.get("group").map(str),
          access = str(conf.getOrElse("access", "protected")),
          alias = conf.get("alias").map(str),
          schemaOverride = conf.get("schema").map(str),
          testConfig = testCfgs.getOrElse(name, Map.empty)))
      }
    }
    // seeds: each CSV under seed-paths is a dependency-less table model
    // (dbt `dbt seed` — reference seeds/example_seed.csv)
    // dbt `seeds:` config tree — `+column_types` overrides inference with
    // declared SQL types (dbt's contract: inference is a convenience, a
    // zip-code column must not become an int). Warehouse-dialect names
    // (the reference's BigQuery types) translate to Spark's.
    def sparkTypeOf(t: String): String = t.trim.toLowerCase match {
      case "varchar" | "text" | "string" => "string"
      case "int64" | "integer" => "bigint"
      case "float64" => "double"
      case "bool" => "boolean"
      case "numeric" => "decimal(38,9)"
      case other => other // already a Spark SQL type
    }
    val seeds = project.seedPaths.map(root.resolve)
      .filter(Files.isDirectory(_)).flatMap { d =>
        val s = Files.list(d)
        val csvs = try s.iterator().asScala
          .filter(_.toString.endsWith(".csv")).toVector finally s.close()
        csvs.map { f =>
          val name = f.getFileName.toString.stripSuffix(".csv")
          val path = f.toString
          // dbt's canonical per-seed nesting (`seeds: proj: <name>:
          // +column_types:`) wins over a project-level blanket — same
          // deeper-wins walk the models tree uses
          val seedColTypes = m(folderConfig(project.seedsTree, project.name,
            Seq(name)).getOrElse("column_types", Map.empty))
            .map { case (c, t) => c -> sparkTypeOf(str(t)) }
          Model(name, Nil, TableMat(),
            _ => {
              import org.apache.spark.sql.functions.col
              val spark = org.apache.spark.sql.SparkSession.active
              if (seedColTypes.isEmpty)
                spark.read.option("header", "true")
                  .option("inferSchema", "true").csv(path)
              else {
                // declared columns bypass inference ENTIRELY (dbt's
                // contract): cast from the raw string cells, so a
                // varchar-declared zip keeps its leading zeros instead of
                // round-tripping through an inferred int. The inference
                // pass only runs when some column is UNdeclared.
                val raw = spark.read.option("header", "true").csv(path)
                lazy val inferred = spark.read.option("header", "true")
                  .option("inferSchema", "true").csv(path).schema
                raw.select(raw.columns.toSeq.map { c =>
                  val t = seedColTypes.get(c)
                    .getOrElse(inferred(c).dataType.simpleString)
                  col(c).cast(t).as(c)
                }: _*)
              }
            },
            checksum = Integer.toHexString(
              Files.readString(f).hashCode),
            tests = tests.getOrElse(name, Nil))
        }
      }
    // snapshots: `{% snapshot name %} config + select {% endsnapshot %}`
    // blocks (reference snapshots/example_snapshot.sql) — timestamp
    // strategy maps onto the generic SCD-2 operator over the block's SELECT
    val snapshots = project.snapshotPaths.map(root.resolve)
      .filter(Files.isDirectory(_)).flatMap { d =>
        val s = Files.walk(d)
        val files = try s.iterator().asScala.filter(f =>
          Files.isRegularFile(f) && f.toString.endsWith(".sql")).toVector
        finally s.close()
        files.flatMap { f =>
          val raw = Files.readString(f)
          SnapshotPat.findAllMatchIn(raw).flatMap { blk =>
            val name = blk.group(1)
            val (cfg, body0) = parseConfigHeader(blk.group(2))
            val body = substituteVars(body0, project.vars, env)
            val enabled = cfg.get("enabled") match {
              case Some(b: Boolean) => b
              case _ => true
            }
            if (!enabled && !includeDisabled) None
            else {
              val strategy = str(cfg.getOrElse("strategy", "timestamp"))
              val key = str(cfg.getOrElse("unique_key",
                throw new IllegalArgumentException(
                  s"snapshot $name: unique_key is required")))
              val updatedAt = str(cfg.getOrElse("updated_at",
                throw new IllegalArgumentException(
                  s"snapshot $name: updated_at is required " +
                    "(strategy='check' uses it as the observation order " +
                    "a single-pass build needs in place of run cadence)")))
              val build = sqlBuild(name, body)
              val snap: Map[String, DataFrame] => DataFrame = strategy match {
                case "timestamp" =>
                  in => graft.operators.Snapshot.scd2Timestamp(
                    build(in), key, updatedAt)
                case "check" =>
                  val declared = cfg.getOrElse("check_cols",
                    throw new IllegalArgumentException(
                      s"snapshot $name: strategy='check' needs check_cols " +
                        "(a column list, or 'all')"))
                  in => {
                    val frame = build(in)
                    val cols = declared match {
                      case "all" => frame.columns.toSeq
                        .filterNot(c => c == key || c == updatedAt)
                      case s: Seq[_] => s.map(str)
                      case one => Seq(str(one))
                    }
                    graft.operators.Snapshot.scd2CheckCols(
                      frame, key, updatedAt, cols)
                  }
                case other => throw new IllegalArgumentException(
                  s"snapshot $name: unsupported strategy '$other' " +
                    "(timestamp, check)")
              }
              Some(Model(name, depsOf(body), TableMat(), snap,
                checksum = Integer.toHexString(raw.hashCode)))
            }
          }.toVector
        }
      }
    (models ++ seeds ++ snapshots, exposures)
  }
}
