package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.pipeline.{Model, RunHooks}
import graft.sources.Tables
import graft.util.BenchHarness.CpuMeter

/** One benchmark run of one workload, as cycles of set-up (a fresh
  * SparkContext, every input table read once) and one closed-loop pass over
  * the workload's ops in their fixed order. A fresh SparkContext has a new
  * applicationId, so every pass starts with empty `SparkEntry` memos: every
  * pass is cold.
  *
  * The first cycle is the warm-up. Its set-up counts from process start,
  * so `setup_s` covers JVM start, class loading, the first SparkContext
  * and the first table reads. Its pass writes every op's output for the
  * oracle check, and its pass times are not reported.
  * Timed cycles follow until `--seconds` have passed, at least three. A
  * traced run has at least four and traces them in the order untraced,
  * traced, traced, untraced, so a drift over the run does not bias the
  * tracing overhead. The other end-to-end metrics are medians over the
  * untraced passes.
  * Then, untimed: ops whose executor cpu moved more than 2x against the
  * committed baseline are re-timed alone. Results go to `--out` as JSON.
  *
  * Args (all `--key value`): workload, data, work, seconds, trace (0|1),
  * ops (comma list, in run order), tables (the workload's input tables),
  * cores, out, baseline (op=cpu_s,...).
  */
object PerfBench {
  val DagOp = "dbt_dag"

  final case class Pass(traced: Boolean, setupS: Double, sessionS: Double,
                        tableLoadS: Double, wallS: Double, cpuS: Double,
                        procCpuS: Double, rssMb: Double,
                        opWall: Map[String, Double], opCpu: Map[String, Double],
                        errors: Map[String, String], layers: Map[String, Double],
                        streamPhases: Map[String, Map[String, Long]])

  private def procCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }
  /** Reset the process's peak-RSS mark, so VmHWM covers one pass. */
  private def resetPeakRss(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: Exception => () }
  private def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
  }
  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = kv("data")
    val work = kv("work")
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val ops = kv("ops").split(",").toSeq.filter(_.nonEmpty)
    val tables = kv("tables").split(",").toSeq.filter(_.nonEmpty)
    val cores = kv("cores").toInt
    val baseline: Map[String, Double] = kv.getOrElse("baseline", "").split(",")
      .collect { case s if s.contains("=") =>
        val Array(k, v) = s.split("="); k -> v.toDouble }.toMap
    val unknown = ops.filterNot(o => o == DagOp || SparkEntry.queries.contains(o))
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")

    def session(traced: Boolean): SparkSession = {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val b = SparkSession.builder().master(s"local[$cores]")
        .appName("graft-perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
      val s = (if (traced) b.config("spark.sql.streaming.streamingQueryListeners",
        classOf[StreamProgress].getName) else b).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // per-model wall time of the benchmark DAG, filled by its RunHooks
    val modelS = mutable.LinkedHashMap.empty[String, Double]
    var dagRunS = 0.0
    val hooks = {
      val started = mutable.Map.empty[String, Long]
      RunHooks(
        beforeModel = (m: Model) => started(m.name) = System.nanoTime(),
        afterModel = (m: Model, _: DataFrame) =>
          modelS(m.name) = secs(started(m.name)))
    }
    var dagSeq = 0
    def runDag(s: SparkSession): Map[String, DataFrame] = {
      dagSeq += 1
      val t0 = System.nanoTime()
      val out = DbtDag.run(s, data, s"$work/dag/$dagSeq", hooks)
      dagRunS = secs(t0)
      out
    }
    var spark: SparkSession = null
    var meter: CpuMeter = null
    // A set-up starts a fresh SparkContext and reads every input table of
    // the workload once. The warm-up cycle's set-up counts from process
    // start. Returns (set-up, context start, table loads) in seconds.
    def setUp(first: Boolean, traced: Boolean): (Double, Double, Double) = {
      val sinceStart = if (first) (System.currentTimeMillis() - jvmStartMs) / 1e3 else 0.0
      val t0 = System.nanoTime()
      Trace.active = None
      spark = session(traced)
      meter = new CpuMeter(spark.sparkContext)
      val sessionS = secs(t0)
      val l0 = System.nanoTime()
      tables.foreach(t =>
        (if (t == "events") Tables.events(spark, data) else Tables.table(spark, data, t))
          .write.format("noop").mode("overwrite").save())
      (sinceStart + secs(t0), sessionS, secs(l0))
    }

    // ---- output sinks ----
    // Timed passes materialize each op into Spark's noop sink. The warm-up
    // pass writes every output (the DAG's: every model) as parquet for the
    // oracle check, and records which oracle each output is checked against.
    val outDir = s"$work/out"
    val oracle = mutable.LinkedHashMap.empty[String, String]
    def dump(name: String, df: DataFrame, oracleOf: String): Unit = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      SparkEntry.oracleSql.get(oracleOf).foreach(sql => oracle(name) = sql)
    }
    def runOp(op: String, check: Boolean): Unit =
      if (op == DagOp) {
        val models = runDag(spark)
        if (check) models.foreach { case (m, df) => dump(s"$DagOp.$m", df, DbtDag.mirrors(m)) }
      } else {
        val df = SparkEntry.queries(op)(spark, data)
        if (check) dump(op, df, op)
        else df.write.format("noop").mode("overwrite").save()
      }
    val checkNames = ops.flatMap(op =>
      if (op == DagOp) DbtDag.mirrors.keys.toSeq.sorted.map(m => s"$DagOp.$m") else Seq(op))

    def pass(traced: Boolean, check: Boolean, setupS: Double, sessionS: Double,
             loadS: Double): Pass = {
      val tr = if (traced) Some(new Trace(spark)) else None
      modelS.clear(); dagRunS = 0.0
      val opWall = mutable.LinkedHashMap.empty[String, Double]
      val opCpu = mutable.LinkedHashMap.empty[String, Double]
      val errors = mutable.LinkedHashMap.empty[String, String]
      resetPeakRss()
      val gc0 = gcMs(); val pc0 = procCpuNs(); val c0 = meter.snapshot()
      val t0 = System.nanoTime(); val t0Ms = System.currentTimeMillis()
      ops.foreach { op =>
        tr.foreach(_.op(op))
        val oc = meter.snapshot(); val o0 = System.nanoTime()
        try runOp(op, check)
        catch { case e: Throwable =>
          errors(op) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
        opWall(op) = secs(o0)
        opCpu(op) = (meter.snapshot() - oc) / 1e9
      }
      val wall = secs(t0); val t1Ms = System.currentTimeMillis()
      val cpu = (meter.snapshot() - c0) / 1e9
      val procCpu = (procCpuNs() - pc0) / 1e9
      val rss = peakRssMb()
      val gcS = (gcMs() - gc0) / 1e3
      val layers = tr.map { t =>
        val m = modelS.values.sum
        t.summary(t0Ms, t1Ms, cores, gcS) ++ t.streaming(opWall.toMap) ++
          opWall.map { case (op, w) => s"operators.$op.wall_s" -> w } ++ Map(
            "pipeline.run_s" -> dagRunS, "pipeline.model_s" -> m,
            "pipeline.dag_overhead_s" -> (if (dagRunS > 0) dagRunS - m else 0.0),
            "pipeline.models" -> modelS.size.toDouble,
            "sources.table_load_s" -> loadS, "engine.session_start_s" -> sessionS)
      }.getOrElse(Map.empty)
      val phases = tr.map(_.streamPhases.map { case (k, v) => k -> v.toMap }.toMap)
        .getOrElse(Map.empty)
      Pass(traced, setupS, sessionS, loadS, wall, cpu, procCpu, rss, opWall.toMap,
        opCpu.toMap, errors.toMap, layers, phases)
    }
    def cycle(first: Boolean, traced: Boolean, check: Boolean): Pass = {
      if (spark != null) spark.stop()
      val (setupS, sessionS, loadS) = setUp(first, traced)
      pass(traced, check, setupS, sessionS, loadS)
    }

    // ---- warm-up pass: JIT warm-up, and the outputs for the oracle check ----
    val warm = cycle(first = true, traced = false, check = true)

    // ---- timed cycles ----
    val passes = mutable.ArrayBuffer.empty[Pass]
    val start = System.nanoTime()
    while (passes.size < (if (trace) 4 else 3) || secs(start) < seconds)
      passes += cycle(first = false, traced = trace && Set(1, 2)(passes.size % 4),
        check = false)
    val measuredS = secs(start)

    // ---- untimed: confirmation re-time of ops whose cpu moved > 2x ----
    val untraced = passes.filterNot(_.traced)
    val opCpuMed = ops.map(op => op -> median(untraced.flatMap(_.opCpu.get(op)))).toMap
    val moved = ops.filter { op =>
      baseline.get(op).exists { b =>
        val c = opCpuMed(op)
        math.max(b, c) >= 0.2 && (c > 2 * b || c < b / 2)
      }
    }.take(3)
    val retimed = moved.map { op =>
      spark.stop(); setUp(first = false, traced = false)
      val c0 = meter.snapshot(); val t0 = System.nanoTime()
      runOp(op, check = false)
      val w = secs(t0)
      op -> Map("baseline_cpu_s" -> baseline(op), "cpu_s" -> opCpuMed(op),
        "alone_cpu_s" -> (meter.snapshot() - c0) / 1e9, "alone_wall_s" -> w)
    }.toMap

    spark.stop()

    // ---- result ----
    val traced = passes.filter(_.traced)
    def medOf(ps: Iterable[Pass])(f: Pass => Double) = median(ps.map(f))
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val keys = traced.flatMap(_.layers.keys).distinct
        keys.map(k => k -> median(traced.flatMap(_.layers.get(k)))).toMap +
          ("trace.overhead_s" -> (medOf(traced)(_.wallS) - medOf(untraced)(_.wallS)))
      }
    val result = Map(
      "workload" -> kv("workload"),
      "measured_s" -> measuredS,
      "ops" -> ops,
      "check_names" -> checkNames,
      "attempted" -> passes.size * ops.size,
      "failed_runs" -> passes.map(_.errors.size).sum,
      "pass_errors" -> passes.flatMap(_.errors).toMap,
      "check_errors" -> warm.errors,
      "oracle_sql" -> oracle.toMap,
      "end_to_end" -> Map(
        "wall_s" -> medOf(untraced)(_.wallS),
        "cpu_s" -> medOf(untraced)(_.cpuS),
        "proc_cpu_s" -> medOf(untraced)(_.procCpuS),
        "setup_s" -> warm.setupS,
        "peak_rss_mb" -> medOf(untraced)(_.rssMb)),
      "per_layer" -> layers,
      "passes" -> (warm +: passes).map(p => Map("traced" -> p.traced, "setup_s" -> p.setupS,
        "session_start_s" -> p.sessionS, "table_load_s" -> p.tableLoadS,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "proc_cpu_s" -> p.procCpuS, "peak_rss_mb" -> p.rssMb)),
      "op_wall_s" -> ops.map(op => op -> median(untraced.flatMap(_.opWall.get(op)))).toMap,
      "op_cpu_s" -> opCpuMed,
      "retimed" -> retimed,
      "stream_phases_ms" -> traced.lastOption.map(_.streamPhases).getOrElse(Map.empty))
    Files.writeString(Paths.get(kv("out")),
      org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats))
    // streaming and pipeline threads must not keep the JVM alive
    System.exit(0)
  }
}
