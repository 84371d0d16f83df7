#!/usr/bin/env python3
"""Benchmark runner for the graft Spark engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Workloads: catalog_sf0.1 and pu_core
(declared in BENCHMARK.json), pipelines_sf1 (by hand; see
perfbench/README.md).

1. Builds the engine plus the harness (perfbench/harness, its own sbt
   build) when their sources changed since the last build.
2. Generates the workload's input tier from the seed, cached by
   (scale, seed) under perfbench/.cache.
3. Runs two set-up-only JVMs, then one driver JVM (local[nproc]):
   set-up, an untimed check pass, then timed passes for S seconds.
   setup_s is the median of the three set-ups.
4. Checks outputs: gate results against DuckDB's answer to the gate's
   oracle SQL (row count + order-insensitive hash, cached per tier);
   pu_core results against closed forms inside the JVM.
5. Prints one JSON line: correct, attempted, failed, metrics. With
   --trace 0 the metrics are the end-to-end metrics, with --trace 1 the
   per-layer metrics. The full record (every op, layer sums, checks)
   and the span trace stay in perfbench/out/<run>/.

Exits non-zero, without a result line, when the engine sources or the
toolchain are missing or the build fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
CACHE = os.path.join(HERE, ".cache")
OUTS = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

WORKLOADS = {
    # name: (input scale, input seed: None = the run's --seed)
    "catalog_sf0.1": ("0.1", 42),
    "pipelines_sf1": ("1", None),
    "pu_core": ("0.1", 42),
}
FIXED_TIERS = {"sf0.1-s42", "sf1-relational"}
KEEP_TIERS = 12        # seeded sf1 tiers kept in the cache (least recently used go)
KEEP_RUNS = 40         # run records kept under perfbench/out
RUN_BUDGET_S = 170     # a run's own limit, build excluded
SETUPS = 3             # set-ups per run; setup_s is their median
JVM_HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

UNITS = {"setup_s": "s", "task_cpu_s": "s", "driver_cpu_s": "s", "op_p50_s": "s",
         "peak_heap_mb": "MB"}

# per-layer metrics that are per-pass sums of the op records' layer values
LAYER_SUMS = [
    "queries.build_s", "queries.eager_jobs",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s", "plans.codegen_s",
    "plans.codegen_classes",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.delay_s",
    "scheduler.driver_gap_s",
    "executor.cpu_s", "executor.run_s", "executor.gc_s", "executor.deser_cpu_s",
    "executor.result_bytes",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records", "shuffle.fetch_wait_s",
    "shuffle.write_s",
    "memory.spill_bytes", "memory.disk_spill_bytes",
    "sources.input_bytes", "sources.input_rows",
    "sinks.files_written", "sinks.bytes_written", "sinks.rows_written",
    "sinks.task_commit_s", "sinks.job_commit_s",
]
POINT_KINDS = {"pq_contains": "contains", "pq_local_index": "local_index",
               "pq_which_proc": "which_proc", "pq_extrema": "extrema",
               "pq_nelements": "nelements", "pq_element_at": "element_at"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def _sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness when sources changed; return the classpath."""
    h = hashlib.sha1()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CACHE, "build.stamp")
    cp_file = os.path.join(CACHE, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as f2:
                    return f2.read().strip()
    log("building engine + harness (sbt compile)")
    t0 = time.monotonic()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=_sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.splitlines()
    cps = [ln for ln in lines if "scala-2.13" in ln and os.pathsep in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    os.makedirs(CACHE, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.monotonic() - t0:.1f} s")
    return cps[-1].strip()


# ---------------------------------------------------------------- inputs

def tier(scale, seed):
    """Path of the (scale, seed) input tier and the seconds spent generating it."""
    import gen_data
    data = os.path.join(CACHE, "data")
    path = os.path.join(data, f"sf{scale}-s{seed}")
    if os.path.exists(os.path.join(path, "MANIFEST.json")):
        os.utime(path)
        return path, 0.0
    t0 = time.monotonic()
    gen_data.generate(scale, seed, path)
    spent = time.monotonic() - t0
    tiers = sorted((os.path.join(data, d) for d in os.listdir(data)
                    if d not in FIXED_TIERS and not d.endswith(".tmp")),
                   key=os.path.getmtime)
    for old in tiers[:-KEEP_TIERS]:
        shutil.rmtree(old, ignore_errors=True)
    return path, spent


def tier_bytes(path):
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


# ---------------------------------------------------------------- the JVM

def run_jvm(cp, args, data, out, budget_s, name="jvm", extra=()):
    jvm_out = os.path.join(out, name)
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(jvm_out, d), exist_ok=True)
    # no hsperfdata file in the system temp dir: a run writes only
    # inside its checkout
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(jvm_out, 'warehouse')}",
            f"-Dspark.local.dir={os.path.join(jvm_out, 'local')}",
            f"-Djava.io.tmpdir={os.path.join(jvm_out, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--out", jvm_out]
    if args.plant:
        cmd.append("--plant")
    cmd += list(extra)
    with open(os.path.join(out, f"{name}.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True, cwd=jvm_out)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            clean(out)
            die(f"driver JVM exceeded {budget_s:.0f} s; log: {logf.name}")
    if rc != 0:
        with open(os.path.join(out, f"{name}.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        clean(out)
        die(f"driver JVM exited with {rc}")
    with open(os.path.join(jvm_out, "record.json")) as f:
        return json.load(f)


def clean(out):
    """Remove the run's bulky intermediates; records, logs and spans stay."""
    for name in os.listdir(out):
        for d in ("dump", "warehouse", "local", "tmp"):
            shutil.rmtree(os.path.join(out, name, d), ignore_errors=True)


# ---------------------------------------------------------------- checks

def check_outputs(record, data):
    """Compare every dumped op output with DuckDB's answer to its oracle
    SQL; a failed check fails every op of that name. Returns the per-op
    check results."""
    import checks
    refs = checks.References(data, os.path.join(CACHE, "ref"))
    results, bad = {}, {}
    for op in record["ops"]:
        if op["phase"] == "check" and op["status"] != "ok":
            bad[op["name"]] = op["error"]
        if not op.get("check_dump") or op["status"] != "ok":
            continue
        gate = op["check_gate"]
        try:
            if gate not in record["oracles"]:
                raise RuntimeError(f"no oracle SQL for {gate}")
            want = refs.get(gate, record["oracles"][gate])
            got = checks.dump_fingerprint(op["check_dump"])
            results[op["name"]] = {"reference": gate, "got": got, "want": want}
            why = checks.compare(got, want)
        except Exception as e:  # a failing check fails the op, never the run
            why = f"check error: {e}"
        if why:
            bad[op["name"]] = f"output check failed: {why}"
    for op in record["ops"]:
        if op["name"] in bad and op["status"] == "ok":
            op["status"] = "failed"
            op["error"] = bad[op["name"]]
    return results


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest order statistic with at least ten samples above it:
    (value, percentile, samples beyond). When that statistic would not
    lie above the median (fewer than 22 samples), the maximum."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    i = n - 11 if n - 11 > (n - 1) // 2 else n - 1
    return s[i], 100.0 * (i + 1) / n, n - 1 - i


def by_pass(ops):
    passes = {}
    for op in ops:
        passes.setdefault(op["pass"], []).append(op)
    return [passes[k] for k in sorted(passes)]


def op_p50(ok):
    """Median over op kinds (op names) of each kind's mean latency.
    A pooled median over every op of a mixed workload falls in the gap
    between two kinds' latency clusters and jumps with either. Within a
    kind the mean, not the median: on the build box one op's latency
    over the passes of a run is bimodal (the host's cores flip between
    two speeds ~1.5x apart within a second), and a median of a bimodal
    sample jumps between the modes as their shares move from run to
    run, where the mean moves in proportion."""
    kinds = {}
    for o in ok:
        kinds.setdefault(o["name"], []).append(o["wall_s"])
    return median([statistics.mean(v) for v in kinds.values()])


def per_pass_mean(per_pass, key):
    """Mean per timed pass of the ops' `key`: the run's total over its
    passes. The mean for the bimodal-speed reason given in op_p50."""
    return sum(o[key] for p in per_pass for o in p) / len(per_pass) if per_pass else 0.0


def end_to_end(record, timed, ok):
    per_pass = by_pass(ok)
    walls = [o["wall_s"] for o in ok]
    t, pct, beyond = tail(walls)

    def rows(o):
        if record["workload"] == "pu_core":
            return o["counts"].get("queries", 0) + o["counts"].get("elements", 0)
        return o["input_rows"]

    m = {
        "setup_s": record["setup_s"],
        "task_cpu_s": per_pass_mean(per_pass, "task_cpu_s"),
        "driver_cpu_s": per_pass_mean(per_pass, "driver_cpu_s"),
        "op_p50_s": op_p50(ok),
        "peak_heap_mb": record["peak_heap_mb"],
    }
    # Reported but not bounded (see README): pass wall time and rows/s
    # swing by a third between runs when the host steals CPU, and the
    # tail's rank falls between gate clusters.
    detail = {
        "wall_s": per_pass_mean(per_pass, "wall_s"),
        "rows_per_s": sum(rows(o) for o in ok) / max(1e-9, sum(walls)),
        "op_tail_s": t, "op_tail_percentile": pct, "op_tail_samples_beyond": beyond,
        "ops_ok": len(ok),
              "fail_frac": (len(timed) - len(ok)) / max(1, len(timed)),
              "passes": len(per_pass)}
    return m, detail


def per_layer(record, ok, untraced_wall):
    traced = [o for o in ok if o["traced"]]
    plain = [o for o in ok if not o["traced"]]
    tp = by_pass(traced)
    m = {}
    for k in LAYER_SUMS:
        m[k] = median([sum(o["layers"].get(k, 0.0) for o in p) for p in tp])
    m["memory.peak_exec_bytes"] = max([o["layers"].get("memory.peak_exec_bytes", 0.0)
                                       for o in traced] or [0.0])
    # ProductSplit point queries: per-kind medians over every timed batch
    pq = [o for o in ok if o["name"] in POINT_KINDS]
    for name, kind in POINT_KINDS.items():
        m[f"productsplit.{kind}_ns"] = median(
            [x for o in pq if o["name"] == name for x in (o["samples_ns"] or [])])
    every = sorted(x for o in pq for x in (o["samples_ns"] or []))
    m["productsplit.point_query_ns"] = median(every)
    m["productsplit.point_query_p99_ns"] = every[int(0.99 * (len(every) - 1))] if every else 0.0
    m["productsplit.alloc_bytes_per_query"] = median(
        [o["counts"].get("alloc_bytes_per_query", 0.0) for o in pq])
    # pmapreduce: map CPU, partials, result bytes, driver-side merge
    pmr = [o for o in traced if o["name"].startswith("pmr_")]
    pp = by_pass(pmr)
    m["pmapreduce.map_cpu_s"] = median([sum(o["layers"]["executor.cpu_s"] for o in p) for p in pp])
    m["pmapreduce.partials"] = median([sum(o["counts"].get("partials", 0) for o in p) for p in pp])
    m["pmapreduce.result_bytes"] = median(
        [sum(o["layers"]["executor.result_bytes"] for o in p) for p in pp])
    m["pmapreduce.driver_merge_s"] = median(
        [sum(o["layers"]["scheduler.driver_gap_s"] for o in p) for p in pp])
    pmr_plain = by_pass([o for o in plain if o["name"].startswith("pmr_")])
    m["pmapreduce.payload_gbps"] = median(
        [sum(o["counts"]["payload_bytes"] for o in p) / 1e9 / sum(o["wall_s"] for o in p)
         for p in pmr_plain])
    # tracing: overhead and the two consistency identities
    traced_wall = median([sum(o["wall_s"] for o in p) for p in tp])
    m["trace.overhead_pct"] = (100.0 * (traced_wall - untraced_wall) / untraced_wall
                               if untraced_wall else 0.0)
    m["trace.cpu_match_max_err_pct"] = max(
        [o["layers"].get("trace.cpu_match_err_pct", 0.0) for o in traced] or [0.0])
    m["trace.identity_max_err_s"] = max(
        [o["layers"].get("trace.identity_err_s", 0.0) for o in traced] or [0.0])
    return m


# ---------------------------------------------------------------- main

def prune_runs():
    if not os.path.isdir(OUTS):
        return
    runs = sorted((os.path.join(OUTS, d) for d in os.listdir(OUTS)), key=os.path.getmtime)
    for old in runs[:-KEEP_RUNS]:
        shutil.rmtree(old, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", action="store_true",
                    help="add one throwing op and one wrong-output op to every pass")
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die(f"engine sources not found under {ROOT}/src; run from a full checkout")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            die(f"{tool} not found on PATH")

    cp = build()
    t_start = time.monotonic()
    scale, fixed_seed = WORKLOADS[args.workload]
    data, gen_s = tier(scale, fixed_seed if fixed_seed is not None else args.seed)

    stamp = time.strftime("%Y%m%dT%H%M%S")
    out = os.path.join(OUTS, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}")
    os.makedirs(out)
    # set-up alone, SETUPS - 1 times, then the measuring JVM, whose
    # set-up is the last sample; setup_s is their median
    setups = []
    for i in range(SETUPS - 1):
        budget = RUN_BUDGET_S - (time.monotonic() - t_start)
        setups.append(run_jvm(cp, args, data, out, budget, f"setup{i + 1}",
                              ["--setup-only"])["setup_s"])
    budget = RUN_BUDGET_S - (time.monotonic() - t_start)
    record = run_jvm(cp, args, data, out, budget)
    setups.append(record["setup_s"])
    record["setup_samples_s"] = setups
    record["setup_s"] = statistics.median(setups)

    checks = check_outputs(record, data)
    timed = [o for o in record["ops"] if o["phase"] == "timed"]
    ok = [o for o in timed if o["status"] == "ok"]
    failed = len(timed) - len(ok)
    e2e, detail = end_to_end(record, timed, ok)
    metrics = e2e
    layers = {}
    if args.trace:
        untraced_wall = median([sum(o["wall_s"] for o in p)
                                for p in by_pass([o for o in ok if not o["traced"]])])
        layers = per_layer(record, ok, untraced_wall)
        metrics = layers
    correct = failed == 0 and all(o["status"] == "ok" for o in record["ops"])

    result = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "attempted": len(timed), "failed": failed,
        "end_to_end": e2e, "end_to_end_detail": detail, "per_layer": layers,
        "data": {"dir": os.path.relpath(data, ROOT), "generation_s": gen_s,
                 "input_bytes": tier_bytes(data),
                 "memory_store_bytes": record["memory_store_bytes"]},
        "checks": checks,
        "failures": [{"op": o["id"], "name": o["name"], "phase": o["phase"], "error": o["error"]}
                     for o in record["ops"] if o["status"] != "ok"],
        "record": {k: v for k, v in record.items() if k != "ops"},
        "ops": record["ops"],
    }
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(result, f, indent=1)
    clean(out)
    prune_runs()
    units = {k: UNITS.get(k, unit_of(k)) for k in metrics}
    print(json.dumps({"correct": correct, "attempted": len(timed), "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


def unit_of(name):
    if name.endswith("_ns"):
        return "ns"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_gbps"):
        return "GB/s"
    if name.endswith("_bytes") or name.endswith("bytes_per_query"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    main()
