#!/usr/bin/env python3
"""The repository benchmark: end-to-end and per-layer metrics of the
engine on seeded workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Run it from the checkout root. One invocation is one fresh process and
one fresh Spark session, driven by a single thread (no more concurrent
queries than cores). The workload's inputs are generated from the seed
(untimed, cached per seed under ``perfbench/.data``); the engine sees
only those files.

``--trace 0`` measures, with tracing off:
  setup_s       median of 3 ``session.get_spark()`` calls, each in a
                fresh process (two probes, then this process's own)
  cold_s        the first pass over the workload in the fresh session
  suite_s       median over warm rounds of the per-query sum of
                build + plan + execute (+ write on wordline_index)
  query_p50_s   median of the pooled per-query warm times
  query_tail_s  75th percentile of the pooled per-query warm times
  peak_rss_mb   JVM VmHWM + this process's max RSS
  rows_per_s    input rows a round reads / suite_s (on wordline_index:
                corpus lines per second, the unit of BASELINE.md)

``--trace 1`` runs the same workload with Spark's event log on and job
groups set per span, and reports the per-layer split (see README.md).
``--workload all`` runs every workload untraced and traced, each in a
fresh process, and prints each report and the tracing overhead.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Outputs are checked
before their times count: registry queries against their DuckDB oracle
(``tests/oracle.py``), the inverted index against a plain-Python mirror.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SETUP_SAMPLES = 3
# A run pools 3-16 warm samples, too few for a percentile with ten
# samples beyond it; p75 is reported with its count beyond.
TAIL_PCT = 75
DRIVER_MEM = "4g"

UNITS = {"setup_s": "s", "cold_s": "s", "suite_s": "s", "query_p50_s": "s",
         "query_tail_s": "s", "peak_rss_mb": "MB", "rows_per_s": "1/s"}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name.endswith(("_share", "_util", "_skew")):
        return "ratio"
    return "count"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _pin_env(work: str, cpus: int, trace: bool) -> None:
    """Environment every Spark process of this run starts with. Set
    before pyspark is imported, so the JVM launcher sees it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell",
    })


def _setup_probe() -> float:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "setup_probe.py")],
        cwd=ROOT, capture_output=True, text=True, timeout=120)
    if proc.returncode != 0:
        _fail(f"set-up probe failed:\n{proc.stderr[-2000:]}")
    return float(proc.stdout.strip().splitlines()[-1])


def _percentile(xs: list[float], pct: float) -> float:
    """Linear interpolation between closest ranks."""
    xs = sorted(xs)
    k = (len(xs) - 1) * pct / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import gen
    import spans as tr
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_env(work, cpus, trace)

    phases = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    data_dir = os.path.join(BENCH, ".data", workload)
    wl = WORKLOADS[workload](work, data_dir, seed, cpus)
    gen.prune_cache(data_dir, keep=4)

    phase("inputs")
    setup = [] if trace else [_setup_probe() for _ in range(SETUP_SAMPLES - 1)]
    phase("setup_probes")
    tracer = tr.Tracer()
    with tracer.span(tr.SETUP) as s:
        from mapreduce_in_pthreads_spark.session import get_spark
        spark = get_spark("perfbench")
    setup.append(tr.duration(s))
    spark.sparkContext.setLogLevel("ERROR")
    if trace:
        tracer.attach(spark.sparkContext)
    env = {
        "cpus": cpus, "seed": seed, "workload": workload,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"),
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEM,
    }
    try:
        phase("session")
        out = wl.run(spark, tracer, seconds)
        phase("workload")
        rss = _jvm_hwm_mb(spark) + resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024
    finally:
        _stop(spark)
    phase("stop")

    pooled = [t for ts in out.warm.values() for t in ts]
    suite = statistics.median(out.round_s) if out.round_s else 0.0
    result = {"env": env, "inputs": out.inputs,
              "attempted": out.attempted, "failures": out.failures,
              "phases_s": phases, "round_s": out.round_s,
              "per_query_warm_s": {k: statistics.median(v)
                                   for k, v in sorted(out.warm.items())},
              "samples": {"setup_s": len(setup), "warm_rounds": len(out.round_s),
                          "pooled_query_times": len(pooled)}}
    if pooled:
        result["tail_beyond"] = sum(
            t > _percentile(pooled, TAIL_PCT) for t in pooled)
    if trace:
        from spans import EventLog, find_event_log, layer_metrics, self_times
        path = find_event_log(os.path.join(work, "eventlog"))
        if path is None:
            _fail("traced run left no event log")
        log = EventLog(path)
        layers = layer_metrics(tracer.spans, log, cpus, out.text_rows)
        result["metrics"] = layers
        result["self_s"] = self_times(tracer.spans)
        result["absent"] = [k for k in layers
                            if k.startswith(type(wl).absent_layers)]
        trace_dir = os.path.join(BENCH, ".work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        span_file = os.path.join(trace_dir, f"{workload}-seed{seed}.json")
        tracer.dump(span_file)
        result["spans_file"] = os.path.relpath(span_file, ROOT)
    elif pooled:
        result["metrics"] = {
            "setup_s": statistics.median(setup),
            "cold_s": out.cold_s,
            "suite_s": suite,
            "query_p50_s": statistics.median(pooled),
            "query_tail_s": _percentile(pooled, TAIL_PCT),
            "peak_rss_mb": rss,
            "rows_per_s": out.round_rows / suite if suite else 0.0,
        }
    else:
        result["metrics"] = {}
    shutil.rmtree(work, ignore_errors=True)
    return result


def report(workload: str, res: dict, trace: bool) -> None:
    """Human-readable lines: environment, inputs, every metric with its
    unit and sample count, and each failure by query."""
    print(f"== {workload}  {json.dumps(res['env'])}")
    print(f"   inputs: {json.dumps(res['inputs'])}")
    print("   run phases, wall s: " + json.dumps(
        {k: round(v, 2) for k, v in res["phases_s"].items()}))
    n = res["samples"]
    counts = {"setup_s": f"n={n['setup_s']}", "cold_s": "n=1 pass",
              "suite_s": f"n={n['warm_rounds']} rounds",
              "query_p50_s": f"n={n['pooled_query_times']}",
              "query_tail_s": f"p{TAIL_PCT}, n={n['pooled_query_times']}, "
                              f"{res.get('tail_beyond', 0)} beyond",
              "peak_rss_mb": "n=1", "rows_per_s": f"n={n['warm_rounds']} rounds"}
    for name, value in res["metrics"].items():
        unit = unit_of(name)
        print(f"   {name:26s} {value:14.6f} {unit:4s} {counts.get(name, '')}")
    print("   warm round times (s): " + json.dumps(
        [round(v, 3) for v in res["round_s"]]))
    print("   per-query warm median (s): " + json.dumps(
        {k: round(v, 4) for k, v in res["per_query_warm_s"].items()}))
    failed = len(res["failures"])
    print(f"   failed_frac {failed}/{res['attempted']} = "
          f"{failed / max(res['attempted'], 1):.4f}")
    for name, why in res["failures"]:
        print(f"   FAILED {name}: {why}")
    if trace:
        if res["absent"]:
            print("   not measured on this workload (no such calls; "
                  "reported as 0): " + ", ".join(res["absent"]))
        print("   self time per span name (s): " + json.dumps(
            {k: round(v, 4) for k, v in sorted(res["self_s"].items())}))
        print(f"   spans written to {res['spans_file']}")


def _child(name: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", name,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    print("\n".join(lines[:-1]))
    if proc.returncode != 0 or not lines:
        _fail(f"workload {name} failed:\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def run_all(seed: int, seconds: float) -> None:
    """Every workload, untraced then traced, each in a fresh process."""
    from workloads import WORKLOADS

    summary = {}
    for name in WORKLOADS:
        plain = _child(name, seed, seconds, 0)
        traced = _child(name, seed, seconds, 1)
        overhead = (traced["metrics"]["trace.suite_s"]["value"]
                    - plain["metrics"]["suite_s"]["value"])
        print(f"   tracing overhead on {name}: {overhead:+.4f} s "
              "(traced suite_s - untraced suite_s)")
        summary[name] = {"untraced": plain, "traced": traced}
    print(json.dumps(summary))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for needed in ("mapreduce_in_pthreads_spark/session.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            _fail(f"run from the repository root: {needed} not found")
    sys.path[:0] = [BENCH, ROOT]
    from workloads import WORKLOADS
    if args.workload == "all":
        run_all(args.seed, args.seconds)
        return
    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of "
              f"{', '.join(WORKLOADS)} or all")

    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    report(args.workload, res, bool(args.trace))
    if not res["metrics"]:
        _fail("no query completed; nothing measured")
    metrics = {k: {"value": v, "unit": unit_of(k)}
               for k, v in res["metrics"].items()}
    print(json.dumps({"correct": not res["failures"],
                      "attempted": res["attempted"],
                      "failed": len(res["failures"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
