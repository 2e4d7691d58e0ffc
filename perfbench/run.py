#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the library
and the harness from source (sbt, offline) into perfbench/target; later runs
reuse the build while the sources are unchanged. Inputs are generated from
the seed into perfbench/.work/data, at the workload's scale. The JVM harness
(perfbench.PerfBench) times cold, closed-loop passes over the workload's
ops and writes each op's output once; this script checks those outputs
against their DuckDB oracles with the library's own gate
(tools/check_oracle.py) and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones,
as BENCHMARK.json names them.
Progress and details go to stderr; the full result of the last run is kept
in perfbench/.work/run/result.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
CHECKER = os.path.join(ROOT, "tools", "check_oracle.py")
CORES = 4
HEAP = "3g"
# C1 only, the serial collector and a fixed heap for the passes (README,
# "JVM settings"): under the default tiered JIT, C2 keeps compiling the Spark
# driver code for a minute or more, so pass times fall all through a run;
# under G1 the peak RSS of a pass moves with the adaptive heap sizing.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC", f"-Xms{HEAP}"]
JVM_TIMEOUT_S = 120
# The kernel loops run in a JVM of their own, under the default JIT.
KERNEL_BUDGET_NS = 1_000_000_000
KERNEL_TIMEOUT_S = 25
CHECK_TIMEOUT_S = 25
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamped build matches the sources."""
    stamp, cp_file = os.path.join(TARGET, "perfbench.stamp"), os.path.join(TARGET, "classpath.txt")
    digest = source_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as c:
                    return c.read()
    log("building library + harness with sbt")
    t0 = time.time()
    # resolve from the local caches only: the build has no dependency that
    # is not already there
    env = dict(os.environ, COURSIER_MODE="offline")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.offline=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.exit(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")
    with open(cp_file) as c:
        return c.read()


def inputs(seed, sf):
    """Seeded tables, generated once per seed and scale (others are dropped)."""
    base = os.path.join(WORK, "data")
    out = os.path.join(base, f"seed{seed}_sf{sf}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        sys.path.insert(0, HERE)
        import gen
        if os.path.isdir(base):
            shutil.rmtree(base)
        gen.generate(out, seed, sf)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def java(run_dir, classpath, flags, main, args, timeout, log_name):
    """Runs one JVM in run_dir, logging to run_dir/log_name; exits on failure."""
    cmd = (["java", *flags, "-XX:-UsePerfData", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={run_dir}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, main, *args])
    with open(os.path.join(run_dir, log_name), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog, stderr=jlog)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"{main} timed out")
    if rc != 0:
        sys.exit(f"{main} failed (exit {rc}); see {run_dir}/{log_name}")


def check_outputs(data, out_dir, names, oracle_sql, threw):
    """Untimed output check. Outputs with an oracle go through the library's
    gate, tools/check_oracle.py; outputs without one must have rows. An op
    that threw has no output and is not read. Returns {name: failure}."""
    live = [n for n in names if n.split(".", 1)[0] not in threw]
    checked = {n: oracle_sql[n] for n in live if n in oracle_sql}
    with open(os.path.join(out_dir, "oracle_sql.json"), "w") as f:
        json.dump(checked, f)
    r = subprocess.run([sys.executable, CHECKER, data, out_dir], capture_output=True,
                       text=True, timeout=CHECK_TIMEOUT_S)
    fails = {}
    for line in r.stdout.splitlines():
        if line.startswith("FAIL "):
            name, _, msg = line[len("FAIL "):].partition(": ")
            fails[name] = msg
    passed = sum(line.startswith("ok ") for line in r.stdout.splitlines())
    if passed + len(fails) != len(checked):
        fails["oracle_check"] = (f"checker exit {r.returncode}, {passed} ok + {len(fails)} "
                                 f"fail of {len(checked)}: {r.stderr.strip()[-300:]}")
    import pyarrow.parquet as pq
    for n in live:
        if n not in oracle_sql:
            files = glob.glob(os.path.join(out_dir, n, "*.parquet"))
            if sum(pq.ParquetFile(f).metadata.num_rows for f in files) == 0:
                fails[n] = "no rows"
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)["workloads"]
    if a.workload not in spec:
        sys.exit(f"unknown workload {a.workload!r}")
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(CHECKER)):
        sys.exit(f"no library sources or oracle checker under {ROOT}: run from a graft checkout")
    ops = spec[a.workload]["ops"]
    tables = spec[a.workload]["tables"]

    classpath = build()
    data = inputs(a.seed, spec[a.workload]["sf"])
    run_dir = os.path.join(WORK, "run")
    if os.path.isdir(run_dir):
        shutil.rmtree(run_dir)
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(os.path.join(HERE, "baseline.json")) as f:
        base_cpu = json.load(f)["op_cpu_s"].get(a.workload, {})
    result_file = os.path.join(run_dir, "result.json")
    log(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
        f"ops={len(ops)} data={os.path.relpath(data, ROOT)}")
    java(run_dir, classpath, JVM_FLAGS, "perfbench.PerfBench",
         ["--workload", a.workload, "--data", data, "--work", run_dir,
          "--seconds", str(a.seconds), "--trace", str(a.trace),
          "--ops", ",".join(ops), "--tables", ",".join(tables),
          "--cores", str(CORES), "--out", result_file,
          "--baseline", ",".join(f"{k}={v}" for k, v in base_cpu.items())],
         JVM_TIMEOUT_S, "jvm.log")
    with open(result_file) as f:
        res = json.load(f)
    if a.trace:
        kernel_file = os.path.join(run_dir, "kernels.json")
        java(run_dir, classpath, [], "perfbench.KernelBench",
             [data, str(KERNEL_BUDGET_NS), kernel_file], KERNEL_TIMEOUT_S, "kernels.log")
        with open(kernel_file) as f:
            res["per_layer"].update(json.load(f))

    # ---- output check (untimed) ----
    t0 = time.time()
    threw = res["check_errors"]
    fails = {op: f"threw: {m}" for op, m in threw.items()}
    fails.update(check_outputs(data, os.path.join(run_dir, "out"), res["check_names"],
                               res["oracle_sql"], threw))
    rows_only = sorted(set(res["check_names"]) - set(res["oracle_sql"]))
    log(f"output check: {len(res['check_names']) - len(fails)}/{len(res['check_names'])} ok "
        f"({len(rows_only)} rows-only: {','.join(rows_only)}) in {time.time() - t0:.1f}s")
    for n, m in sorted(fails.items()):
        log(f"CHECK FAIL {n}: {m}")
    for op, m in sorted(res["pass_errors"].items()):
        log(f"OP ERROR {op}: {m}")
    for op, r in sorted(res["retimed"].items()):
        log(f"RETIMED {op}: cpu moved {r['baseline_cpu_s']:.3f}s -> {r['cpu_s']:.3f}s "
            f"against the baseline; alone: cpu {r['alone_cpu_s']:.3f}s "
            f"wall {r['alone_wall_s']:.3f}s")
    log("passes: " + json.dumps(res["passes"]))

    # failed: timed executions that threw, plus one per op whose output
    # failed the check (the DAG's models count as one op)
    failed = res["failed_runs"] + len({n.split(".", 1)[0] for n in fails})
    attempted = res["attempted"]
    if a.trace:
        # ops of the other workloads did not run here: their wall is 0
        layer = res["per_layer"]
        own = {f"operators.{op}.wall_s" for op in ops}
        missing = [m["name"] for m in bench["per_layer"] if m["name"] not in layer
                   and (m["name"] in own or not m["name"].startswith("operators."))]
        if missing:
            sys.exit(f"per-layer metrics not produced: {missing}")
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
        log(f"tracing overhead: {layer['trace.overhead_s']:+.3f}s of traced wall; "
            f"kernel loops over {int(layer['functions.rows'])} corpus rows")
        for op, ph in sorted(res["stream_phases_ms"].items()):
            log(f"stream phases (ms) {op}: " + json.dumps(ph, sort_keys=True))
    else:
        metrics = {m["name"]: {"value": res["end_to_end"][m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    res["check_failures"] = fails
    with open(result_file, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    print(json.dumps({"correct": not fails and not res["pass_errors"],
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
