"""Benchmark of dozer_spark end to end and layer by layer.

    python3 perfbench/run.py --workload batch_headline --seed 1 --seconds 30 --trace 0

Workloads (perfbench/README.md says why each was chosen):

- batch_headline: the 19 headline registry queries, one cold
  execution (collected and checked) then warm noop-sink repeats;
- cdc_join_agg: wal2json epochs through a durable join, a durable
  GROUP BY and a transactional sink, one epoch after the other.

Each run starts its own Spark session on local[<cores>] (cores from
SPARK_GRAFT_CPUS, else every core this process may use), makes its
inputs from --seed under a temporary directory inside the checkout,
and removes that directory before it exits. Standard output lists
every metric the run measured, one `name value unit` line each, and
ends with one JSON object: {"correct", "attempted", "failed",
"metrics"}, where "metrics" holds the metrics BENCHMARK.json declares:
the end-to-end ones (CPU seconds, see common.cpu_seconds) with
--trace 0; with --trace 1 every call runs under its own Spark job
group and the per-layer ones are reported.
`--workload all` runs each workload in a child process and prints one
such object per workload.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("batch_headline", "cdc_join_agg")
# the self-test's configuration: every code path, a few seconds of work
TINY = {
    "batch_headline": {"queries": 2, "sf": 0.001},
    "cdc_join_agg": {"customers": 50, "orders": 300, "changes": 50,
                     "epochs": 2},
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, required=True)
    # part of the benchmark's command-line contract, and not used: a
    # run's length is its workload's fixed counts of executions and epochs
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="the self-test's small configuration")
    p.add_argument("--corrupt", action="store_true",
                   help="perturb every expected result (self-test)")
    return p.parse_args(argv)


def declared(trace: bool) -> dict:
    """name -> unit of the metrics BENCHMARK.json declares for a run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def _run_all(args) -> int:
    """Each workload in its own fresh process, one after the other."""
    rc = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print(f"== {w}")
        print("\n".join(lines[:-1]))
        print(json.dumps({"workload": w, "exit": proc.returncode,
                          "result": json.loads(lines[-1]) if lines and
                          proc.returncode == 0 else None}))
        rc = rc or proc.returncode
    return rc


def _cores() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _start_spark(run_dir: str):
    """The engine's own session factory, with every scratch path under
    run_dir and the checkout on the Python workers' import path."""
    from dozer_spark import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark("perfbench", extra_conf={
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed set of JIT compiler threads: their time is left out
        # of the CPU accounting (common.cpu_seconds), which must not
        # lose a thread that exits. The serial collector: parallel GC
        # threads spin while waiting for each other, more so when the
        # host takes cores away, which spread the CPU figures
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
            " -XX:+UseSerialGC",
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.ui.showConsoleProgress": "false",
    })


def _stop_spark(spark) -> float:
    """Stop the session and its JVM; return the JVM's peak RSS in MB
    (read just before it stops)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    jvm_mb = 0.0
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_mb = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    return jvm_mb


def run_workload(name: str, seed: int, trace: bool,
                 run_dir: str, overrides: dict) -> dict:
    """One workload in this process: its result object plus `report`,
    every metric measured under its documented name."""
    from perfbench import cdc, headline
    from perfbench.common import cpu_seconds, steal_seconds
    from perfbench.trace import Tracer

    start, steal0, cpu0 = time.perf_counter(), steal_seconds(), cpu_seconds()
    spark = _start_spark(run_dir)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - start
    session_cpu = cpu_seconds() - cpu0
    try:
        tracer = Tracer(spark, trace)
        mod = {"batch_headline": headline, "cdc_join_agg": cdc}[name]
        t0 = time.perf_counter()
        res = mod.run(spark, tracer, seed=seed,
                      work_dir=os.path.join(run_dir, "work"),
                      cores=int(spark.sparkContext.defaultParallelism),
                      overrides=overrides)
        run_s = time.perf_counter() - t0
    finally:
        jvm_mb = _stop_spark(spark)
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    # set-up: everything the program does before the first timed call
    res.e2e["setup_s"] = (session_cpu + res.setup_cpu, "s")
    res.report["setup.session_cpu_s"] = (session_cpu, "s")
    res.report["host_steal_frac"] = (
        (steal_seconds() - steal0)
        / ((time.perf_counter() - start) * os.cpu_count()), "ratio")
    if trace:
        res.layer["session_start_s"] = (session_s, "s")
        res.layer["trace_overhead_frac"] = (tracer.overhead_s / run_s, "ratio")
    else:
        res.report["peak_rss_mb"] = (jvm_mb + py_mb, "MB")
    measured = res.layer if trace else res.e2e
    want = declared(trace)
    missing = [m for m in want if m not in measured]
    if missing and res.failed == 0:
        raise RuntimeError(f"{name} measured no {missing}")
    report = {**measured, **res.report,
              "failed_ops_frac": (res.failed / max(res.attempted, 1), "ratio"),
              "ops_total": (res.attempted, "count")}
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": measured[k][0], "unit": want[k]}
                    for k in want if k in measured},
        "report": report,
        "notes": res.notes,
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "dozer_spark")):
        print(f"perfbench: no dozer_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Python workers are forked from the JVM and inherit this environment:
    # they import dozer_spark from the checkout, and every temp file of
    # this process tree lands in run_dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = _cores()
    # a small heap: the inputs are small and the machine is shared
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    overrides = dict(TINY[args.workload]) if args.tiny else {}
    overrides["corrupt"] = args.corrupt
    try:
        out = run_workload(args.workload, args.seed, bool(args.trace),
                           run_dir, overrides)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    for note in out.pop("notes"):
        print(f"# failed: {note}", file=sys.stderr)
    for k, (v, unit) in sorted(out.pop("report").items()):
        shown = v if isinstance(v, int) or math.isnan(v) else f"{v:.6g}"
        print(f"{k} {shown} {unit}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
