package graft

import org.apache.spark.sql.functions._
import graft.pipeline._

/** Config-as-files parity: the loader builds the REFERENCE project's DAG
  * from its actual YAML + SQL files (r7 verdict "what's missing" #1) —
  * dbt_project.yml's config tree, profiles.yml's targets, the model
  * files' jinja refs/config headers, and the schema .yml tests all land
  * on the existing case classes, and the reference's own model SQL runs
  * through spark.sql unchanged. */
class ProjectYamlSpec extends SparkSpec {

  private val refDir = "/root/reference"

  /** A file of the reference checkout; cancels the test (naming the file)
    * where the checkout is absent. */
  private def refFile(rel: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(refDir, rel)
    assume(java.nio.file.Files.isRegularFile(p),
      s"reference checkout absent: $p")
    p
  }

  test("reference dbt_project.yml: name, profile, folder config tree") {
    val p = ProjectYaml.loadProject(
      java.nio.file.Files.readString(
        refFile("dbt_project.yml")))
    assert(p.name == "dbt_gcloud" && p.profile == "dbt_gcloud")
    assert(p.modelPaths == Seq("models"))
    val staging = ProjectYaml.folderConfig(p.modelsTree, p.name, Seq("staging"))
    val marts = ProjectYaml.folderConfig(p.modelsTree, p.name, Seq("marts"))
    assert(staging("materialized") == "view", staging.toString)
    assert(marts("materialized") == "table", marts.toString)
    // root-level +config inherits into every folder
    assert(staging("on_schema_change") == "append_new_columns")
  }

  test("reference profiles.yml: targets resolve with env_var defaults") {
    val yml = java.nio.file.Files.readString(
      refFile("profiles/profiles.yml"))
    val (targets, default) =
      ProjectYaml.loadProfiles(yml, "dbt_cloud", "/tmp/wh")
    assert(default == "dev") // env_var('DBT_TARGET', 'dev') default
    assert(targets.map(_.name).toSet == Set("dev", "ci", "prod"))
    val byName = targets.map(t => t.name -> t).toMap
    assert(byName("dev").threads == 4 && byName("prod").threads == 8)
    // dev dataset: env_var('DBT_BQ_DATASET', 'analytics_' ~
    // env_var('DBT_USER', 'local')) → nested default + concat
    assert(byName("dev").warehousePath == "/tmp/wh/analytics_local",
      byName("dev").warehousePath)
    // env bindings win over defaults
    val (t2, d2) = ProjectYaml.loadProfiles(yml, "dbt_cloud", "/tmp/wh",
      Map("DBT_TARGET" -> "prod", "DBT_USER" -> "alice"))
    assert(d2 == "prod")
    assert(t2.find(_.name == "dev").get.warehousePath ==
      "/tmp/wh/analytics_alice")
    // Target.resolve honors the profile's default selection
    assert(Target.resolve(targets, default).name == "dev")
  }

  test("reference model SQL: config headers, refs, tests load onto Model") {
    refFile("dbt_project.yml")
    val (models, _) = ProjectYaml.loadModels(refDir, includeDisabled = true)
    assert(models.map(_.name).toSet ==
      Set("stg_example", "fct_example", "example_seed", "example_snapshot"))
    val stg = models.find(_.name == "stg_example").get
    val fct = models.find(_.name == "fct_example").get
    // deps from jinja: source('raw','example') and ref('stg_example')
    assert(stg.deps == Seq("raw.example"))
    assert(fct.deps == Seq("stg_example"))
    // staging folder → view; fct's config() header wins over the folder:
    // materialized='table', partition_by created_at_ts, cluster_by id
    assert(stg.materialization == ViewMat)
    assert(fct.materialization == TableMat(Some("created_at_ts"), Seq("id")))
    // schema .yml tests: stg unique+not_null on id, fct not_null on id
    assert(stg.tests.map(_._1).toSet ==
      Set("unique_stg_example_id", "not_null_stg_example_id"))
    assert(fct.tests.map(_._1) == Seq("not_null_fct_example_id"))
    // snapshot block: deps from its ref, timestamp-strategy config parsed
    val snap = models.find(_.name == "example_snapshot").get
    assert(snap.deps == Seq("fct_example"))
    // the reference model/snapshot templates ship `enabled=false` — only
    // the seed (no enabled flag) loads without the override
    assert(ProjectYaml.loadModels(refDir)._1.map(_.name) == Seq("example_seed"))
  }

  test("the reference project RUNS: its own SQL executes through " +
       "spark.sql, bucket semantics match fct_example.sql") {
    refFile("dbt_project.yml")
    import spark.implicits._
    val dag = ProjectYaml.load(refDir, includeDisabled = true)
    val raw = Seq(
      (1L, "2024-01-01 10:00:00", 50.0),
      (2L, "2024-01-02 11:00:00", 150.0),
      (3L, "2024-01-03 12:00:00", 100.0),
    ).toDF("id", "created_at", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_yaml").toString
    // build interleaves the .yml tests with materialization, dbt-style
    val (out, status) = dag.build(spark, Map("raw.example" -> raw), dir)
    assert(status.values.forall(_ == "success"), status.toString)
    // the seed CSV loads as a table model
    assert(out("example_seed").orderBy("id").collect().map(_.getString(1))
      .toSeq == Seq("Alice", "Bob"))
    // the snapshot runs over fct_example: unique ids → one open version each
    val snap = out("example_snapshot")
    assert(snap.count() == 3 &&
      snap.filter(col("dbt_is_current")).count() == 3)
    val stg = out("stg_example")
    assert(stg.schema("created_at_ts").dataType ==
      org.apache.spark.sql.types.TimestampType) // the cast in stg_example.sql
    val fct = out("fct_example").orderBy("id").collect()
    assert(fct.map(_.getAs[String]("bucket")).toSeq ==
      Seq("regular", "high", "regular")) // > 100, not >=
    // a duplicate id now violates stg's unique test and gates downstream
    val dup = raw.unionAll(Seq((1L, "2024-01-04 09:00:00", 1.0))
      .toDF("id", "created_at", "value"))
    val (out2, st2) = dag.build(spark, Map("raw.example" -> dup),
      java.nio.file.Files.createTempDirectory("graft_yaml2").toString)
    assert(st2("stg_example").startsWith("fail: test unique_stg_example_id"),
      st2.toString)
    assert(st2("fct_example") == "skipped" && !out2.contains("fct_example"))
  }

  test("unit_tests: blocks run the reference model against mocked inputs " +
       "(dbt 1.8 unit tests); wrong expectations and unmocked deps fail") {
    refFile("dbt_project.yml")
    val (models, _) = ProjectYaml.loadModels(refDir, includeDisabled = true)
    val yaml =
      """unit_tests:
        |  - name: fct_bucket_boundary
        |    model: fct_example
        |    given:
        |      - input: ref('stg_example')
        |        rows:
        |          - {id: 1, created_at_ts: "2024-01-01 10:00:00", value: 100.0}
        |          - {id: 2, created_at_ts: "2024-01-02 11:00:00", value: 100.5}
        |          - {id: 3, created_at_ts: "2024-01-03 12:00:00", value: null}
        |    expect:
        |      rows:
        |        - {id: 1, bucket: regular}
        |        - {id: 2, bucket: high}
        |        - {id: 3, bucket: regular}
        |  - name: fct_bucket_wrong
        |    model: fct_example
        |    given:
        |      - input: ref('stg_example')
        |        rows:
        |          - {id: 1, created_at_ts: "2024-01-01 10:00:00", value: 42.0}
        |    expect:
        |      rows:
        |        - {id: 1, bucket: high}
        |  - name: fct_unmocked
        |    model: fct_example
        |    expect:
        |      rows:
        |        - {id: 1}
        |""".stripMargin
    val tests = ProjectYaml.loadUnitTests(yaml)
    assert(tests.map(_.name) ==
      Seq("fct_bucket_boundary", "fct_bucket_wrong", "fct_unmocked"))
    // mixed long/double fixture column types coerce; expected columns are
    // a SUBSET of the model output (dbt compares only named columns)
    val res = ProjectYaml.runUnitTests(spark, models, tests).toMap
    assert(res("fct_bucket_boundary").isEmpty, res.toString)
    assert(res("fct_bucket_wrong").exists(_.contains("unexpected")))
    assert(res("fct_unmocked").exists(_.contains("not mocked")))
    // an expectation naming a column the model lacks refuses loudly
    val bad = tests.head.copy(expect = Seq(Map("nope" -> 1L)))
    assert(ProjectYaml.runUnitTests(spark, models, Seq(bad))
      .head._2.exists(_.contains("not in model output")))
  }

  test("check-strategy snapshots and metrics: blocks load from project " +
       "files and run (dbt strategy='check' + the 1.6 metrics spec)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_yaml_cm")
    def write(p: String, s: String): Unit = {
      val f = root.resolve(p)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.writeString(f, s)
    }
    write("dbt_project.yml", "name: proj\nprofile: p\n")
    write("models/m1.sql", "select * from {{ source('raw', 't') }}")
    write("models/metrics.yml",
      """metrics:
        |  - name: total_value
        |    model: ref('m1')
        |    calculation_method: sum
        |    expression: value
        |    dimensions: [status]
        |    filters:
        |      - field: value
        |        operator: '>'
        |        value: '0'
        |""".stripMargin)
    write("snapshots/snap.sql",
      "{% snapshot snap_check %}\n" +
        "{{ config(strategy='check', unique_key='id', updated_at='at', " +
        "check_cols=['status']) }}\n" +
        "select * from {{ ref('m1') }}\n{% endsnapshot %}\n")
    val dag = ProjectYaml.load(root.toString)
    val src = Seq((1L, "a", 1L, 10.0), (1L, "a", 2L, 20.0),
      (1L, "b", 3L, -5.0), (2L, "a", 1L, 7.0))
      .toDF("id", "status", "at", "value")
    val out = dag.run(spark, Map("raw.t" -> src),
      java.nio.file.Files.createTempDirectory("graft_yaml_cm_t").toString)
    // id 1: versions open at 1 (a) and 3 (b) — the at=2 same-status
    // observation collapses; id 2: one open version
    val snap = out("snap_check")
      .select("id", "status", "dbt_valid_from", "dbt_valid_to", "dbt_is_current")
      .orderBy("id", "dbt_valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))).toSeq
    assert(snap == Seq(
      (1L, "a", 1L, 3L, false),
      (1L, "b", 3L, -1L, true),
      (2L, "a", 1L, -1L, true)))
    // the metric compiles with its own filter fused (value > 0 drops -5)
    val got = dag.queryMetric(out, "total_value", Seq("status")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got == Map("a" -> 37.0))
    // unsupported calculation methods refuse at load
    assert(intercept[IllegalArgumentException](ProjectYaml.loadMetrics(
      "metrics:\n  - name: x\n    model: m1\n    calculation_method: derived\n"))
      .getMessage.contains("unsupported calculation_method"))
  }

  test("column-level lineage traces through the reference's SQL-built " +
       "models (temp-view resolution)") {
    refFile("dbt_project.yml")
    import spark.implicits._
    val dag = ProjectYaml.load(refDir, includeDisabled = true)
    val raw = Seq((1L, "2024-01-01 10:00:00", 50.0))
      .toDF("id", "created_at", "value")
    val lin = dag.columnLineage(spark, Map("raw.example" -> raw))
    assert(lin("stg_example")("created_at_ts") ==
      Seq("raw.example.created_at"))
    assert(lin("fct_example")("bucket") == Seq("stg_example.value"))
    assert(lin("fct_example")("id") == Seq("stg_example.id"))
  }

  test("seed +column_types bypass inference (leading zeros survive); " +
       "run_results.json records dbt statuses") {
    val root = java.nio.file.Files.createTempDirectory("graft_yaml_seed")
    def write(p: String, s: String): Unit = {
      val f = root.resolve(p)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.writeString(f, s)
    }
    write("dbt_project.yml",
      """name: proj
        |profile: p
        |seeds:
        |  proj:
        |    z:
        |      +column_types:
        |        zip: varchar
        |""".stripMargin)
    write("models/m1.sql", "select zip, amount from {{ ref('z') }}")
    write("models/m1.yml",
      "models:\n  - name: m1\n    columns:\n      - name: amount\n" +
        "        tests:\n          - not_null\n")
    write("seeds/z.csv", "zip,amount\n01234,1.5\n99999,\n")
    val dag = ProjectYaml.load(root.toString)
    val (out, status) = dag.build(spark, Map.empty,
      java.nio.file.Files.createTempDirectory("graft_yaml_seed_t").toString)
    // zip declared varchar: "01234" survives; amount stays inferred double
    val z = out("z").orderBy("zip").collect()
    assert(z.map(_.getString(0)).toSeq == Seq("01234", "99999"))
    assert(out("z").schema("amount").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // the null amount violates m1's not_null test → fail status
    assert(status("z") == "success" &&
      status("m1").startsWith("fail: test not_null_m1_amount"))
    val rr = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(dag.runResultsJson(status))
    val byId = (0 until rr.get("results").size()).map(rr.get("results").get)
      .map(n => n.get("unique_id").asText() -> n.get("status").asText()).toMap
    assert(byId("model.graft.z") == "success" &&
      byId("model.graft.m1") == "fail")
  }

  test("a synthetic project with vars + incremental model loads and runs " +
       "(the loader generalizes beyond the reference files)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_proj")
    def write(rel: String, text: String): Unit = {
      val p = dir.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, text)
    }
    write("dbt_project.yml",
      """name: synth
        |profile: synth
        |vars:
        |  min_value: "{{ env_var('SYNTH_MIN', '10') }}"
        |models:
        |  synth:
        |    +materialized: view
        |""".stripMargin)
    write("models/filtered.sql",
      """select id, v from {{ source('src', 't') }}
        |where v >= {{ var('min_value') }}
        |  and id != {{ var('missing_ok', '-1') }}
        |""".stripMargin)
    write("models/doubled.sql",
      """{{ config(materialized='table') }}
        |select id, v * 2 as v2 from {{ ref('filtered') }}
        |""".stripMargin)
    val raw = Seq((1L, 5L), (2L, 10L), (3L, 50L)).toDF("id", "v")
    // default var: min_value=10
    val out = ProjectYaml.load(dir.toString)
      .run(spark, Map("src.t" -> raw),
        java.nio.file.Files.createTempDirectory("graft_projw").toString)
    assert(out("doubled").orderBy("id").collect().map(_.getLong(1)).toSeq ==
      Seq(20L, 100L))
    // env overrides the project var's env_var default
    val out2 = ProjectYaml.load(dir.toString, env = Map("SYNTH_MIN" -> "50"))
      .run(spark, Map("src.t" -> raw),
        java.nio.file.Files.createTempDirectory("graft_projw2").toString)
    assert(out2("doubled").collect().map(_.getLong(1)).toSeq == Seq(100L))
    // column-nested tests (the common dbt layout) + descriptions → docs
    write("models/filtered.yml",
      """version: 2
        |models:
        |  - name: filtered
        |    description: rows above the configured floor
        |    columns:
        |      - name: id
        |        description: business key
        |        tests:
        |          - unique
        |          - not_null
        |      - name: v
        |        tests:
        |          - accepted_values:
        |              values: [10, 50]
        |""".stripMargin)
    val filtered = ProjectYaml.loadModels(dir.toString)._1
      .find(_.name == "filtered").get
    assert(filtered.tests.map(_._1).toSet == Set("unique_filtered_id",
      "not_null_filtered_id", "accepted_values_filtered_v"))
    assert(filtered.description == "rows above the configured floor")
    assert(filtered.columnDocs == Map("id" -> "business key"))
    // and the column-nested tests actually execute through build
    val (_, stT) = ProjectYaml.load(dir.toString)
      .build(spark, Map("src.t" -> raw),
        java.nio.file.Files.createTempDirectory("graft_projt").toString)
    assert(stT("filtered") == "success", stT.toString)
    java.nio.file.Files.delete(dir.resolve("models/filtered.yml"))
    // incremental materialization maps from the config header
    write("models/inc.sql",
      """{{ config(materialized='incremental', unique_key='id',
        |          on_schema_change='sync_all_columns') }}
        |select id, v from {{ source('src', 't') }}
        |""".stripMargin)
    val inc = ProjectYaml.loadModels(dir.toString)._1.find(_.name == "inc").get
    assert(inc.materialization == IncrementalMat("id",
      onSchemaChange = graft.operators.OnSchemaChange.SyncAllColumns))
    java.nio.file.Files.delete(dir.resolve("models/inc.sql"))
    // an undefined var with no default refuses loudly
    write("models/bad.sql", "select {{ var('nope') }} as x from {{ ref('filtered') }}")
    val e = intercept[IllegalArgumentException] {
      ProjectYaml.load(dir.toString)
    }
    assert(e.getMessage.contains("undefined var 'nope'"), e.getMessage)
  }

  test("sources yml: freshness config loads (uncommented src_example form)") {
    val srcYml =
      """version: 2
        |sources:
        |  - name: raw
        |    schema: "{{ env_var('DBT_RAW_DATASET', 'raw') }}"
        |    tables:
        |      - name: example
        |        config:
        |          freshness:
        |            warn_after: {count: 24, period: hour}
        |            error_after: {count: 72, period: hour}
        |          loaded_at_field: created_at
        |""".stripMargin
    val srcs = ProjectYaml.loadSources(srcYml)
    assert(srcs == Seq(ProjectYaml.SourceTable("raw", "example",
      Some("created_at"), Some(24L * 3600), Some(72L * 3600))))
    assert(srcs.head.inputKey == "raw.example") // the Pipeline input key
    // `dbt source freshness` over the declared contract: age of the
    // NEWEST row vs the warn/error periods, on exact seconds
    import spark.implicits._
    val anchor = 1706745600L // 2024-02-01 UTC
    def at(hoursAgo: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(anchor - hoursAgo * 3600))
    val fresh = Seq((1L, at(50)), (2L, at(2))).toDF("id", "created_at")
    val ok = ProjectYaml.sourceFreshnessReport(srcs,
      Map("raw.example" -> fresh), anchor).collect()
    // newest row is 2h old → ok, even though another row is 50h old
    assert(ok.map(r => (r.getString(0), r.getString(1), r.getLong(3),
      r.getString(4))).toSeq == Seq(("raw", "example", 2L, "ok")))
    val stale = Seq((1L, at(30))).toDF("id", "created_at")
    assert(ProjectYaml.sourceFreshnessReport(srcs,
      Map("raw.example" -> stale), anchor).collect()(0).getString(4) == "warn")
    val dead = Seq((1L, at(100))).toDF("id", "created_at")
    assert(ProjectYaml.sourceFreshnessReport(srcs,
      Map("raw.example" -> dead), anchor).collect()(0).getString(4) == "error")
    // an EMPTY source is maximally stale, never "ok"
    val empty = fresh.limit(0)
    assert(ProjectYaml.sourceFreshnessReport(srcs,
      Map("raw.example" -> empty), anchor).collect()(0).getString(4) == "error")
  }

  test("exposures + sources yml shapes parse (uncommented reference form)") {
    // the commented reference block's exact shape, incl. the `|` block
    // scalar description (exposures.yml:12-13)
    val expYml =
      """version: 2
        |exposures:
        |  - name: example_dashboard
        |    type: dashboard
        |    maturity: low
        |    owner:
        |      name: Data Team
        |      email: data@example.com
        |    depends_on:
        |      - ref('fct_example')
        |    description: |
        |      Example dashboard exposure depending on fct_example.
        |    tags: [example, docs]
        |""".stripMargin
    val exps = ProjectYaml.loadExposures(expYml)
    assert(exps == Seq(Exposure("example_dashboard", "dashboard",
      "Data Team", Seq("fct_example"),
      "Example dashboard exposure depending on fct_example.")))
  }

  test("YAML 1.1 as dbt reads it: an anchor + merge key, double-quoted " +
       "escapes, a multi-line flow list, date-like strings, yes/on booleans") {
    import spark.implicits._
    // dbt schema files share a column's config through an anchor and a
    // `<<:` merge key; the merged column overrides only its name
    val schema =
      """version: 2
        |models:
        |  - name: m
        |    description: "tab\there, a \"quote\""
        |    columns:
        |      - &key_col
        |        name: id
        |        description: shared key docs
        |        tests:
        |          - unique
        |          - not_null:
        |              config: {severity: warn, store_failures: yes}
        |      - <<: *key_col
        |        name: id2
        |      - name: day
        |        tests:
        |          - accepted_values:
        |              values: [
        |                2024-01-01,
        |                2024-01-02
        |              ]
        |""".stripMargin
    val tests = ProjectYaml.loadModelTests(schema)("m")
    assert(tests.map(_._1).toSet == Set("unique_m_id", "not_null_m_id",
      "unique_m_id2", "not_null_m_id2", "accepted_values_m_day"))
    val warnStored = TestConfig("warn", storeFailures = true)
    assert(ProjectYaml.loadTestConfigs(schema)("m") ==
      Map("not_null_m_id" -> warnStored, "not_null_m_id2" -> warnStored))
    assert(ProjectYaml.loadModelDocs(schema)("m") == ("tab\there, a \"quote\"",
      Map("id" -> "shared key docs", "id2" -> "shared key docs")))
    // the dates load as the strings they spell, so only the third day
    // violates accepted_values
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03").toDF("day")
    val bad = tests.find(_._1 == "accepted_values_m_day").get._2(days)
    assert(bad.collect().map(_.getString(0)).toSeq == Seq("2024-01-03"))
    assert(ProjectYaml.loadProject("name: p\nprofile: p\nvars:\n  start: 2024-01-01\n")
      .vars == Map("start" -> "2024-01-01"))
    assert(ProjectYaml.loadSelectors(
      "selectors:\n  - name: s\n    default: on\n    definition: a\n").head.isDefault)
  }

  test("reference src_example.yml ships fully commented: loads no sources") {
    val real = java.nio.file.Files.readString(
      refFile("models/staging/src_example.yml"))
    assert(ProjectYaml.loadSources(real).isEmpty)
  }

  test("reference exposures.yml ships fully commented: loads no exposures") {
    val real = java.nio.file.Files.readString(
      refFile("models/exposures.yml"))
    assert(ProjectYaml.loadExposures(real).isEmpty)
  }

  test("project-level loaders read unit_tests: and selectors.yml from a " +
       "project directory; a project without selectors.yml has none") {
    val dir = java.nio.file.Files.createTempDirectory("graft_proj_files")
    def write(rel: String, text: String): Unit = {
      val p = dir.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, text)
    }
    write("dbt_project.yml", "name: files\nprofile: files\n")
    write("models/doubled.sql",
      "select id, v * 2 as v2 from {{ source('src', 't') }}\n")
    write("models/staging/schema.yml",
      """unit_tests:
        |  - name: doubles_v
        |    model: doubled
        |    given:
        |      - input: source('src', 't')
        |        rows:
        |          - {id: 1, v: 3}
        |    expect:
        |      rows:
        |        - {id: 1, v2: 6}
        |""".stripMargin)
    assert(ProjectYaml.loadProjectSelectors(dir.toString).isEmpty)
    write("selectors.yml",
      """selectors:
        |  - name: nightly
        |    default: true
        |    definition: doubled+
        |""".stripMargin)
    val tests = ProjectYaml.loadProjectUnitTests(dir.toString)
    assert(tests.map(t => (t.name, t.model, t.given.keySet)) ==
      Seq(("doubles_v", "doubled", Set("src.t"))))
    val (models, _) = ProjectYaml.loadModels(dir.toString)
    assert(ProjectYaml.runUnitTests(spark, models, tests) ==
      Seq("doubles_v" -> None))
    val sel = ProjectYaml.loadProjectSelectors(dir.toString)
    assert(sel.map(s => (s.name, s.isDefault, s.definition)) ==
      Seq(("nightly", true, "doubled+")))
  }
}
