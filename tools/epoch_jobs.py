"""Spark jobs and compiled classes of one steady CDC epoch, grouped by
the Python call site that launched them.

Runs the benchmark's `cdc_join_agg` pipeline (wal2json source -> durable
RetractingJoin -> durable RetractingAggregation -> TransactionalTable
merge sink, `perfbench/cdc.py`) for the backfill epoch and N steady
epochs, then prints the N-th steady epoch's jobs, tasks and compiled
codegen classes per call site, busiest first:

    python tools/epoch_jobs.py [--seed 21] [--changes 500] [--cores 4] [--epoch 1]

Later epochs carry more pending state deltas (not yet compacted), so
comparing `--epoch 1` with `--epoch 3` attributes the jobs each pending
delta adds to the call sites that read it.

A call site is the innermost `dozer_spark/` or `perfbench/` frame on the
Python stack when a py4j call is made, followed by its nearest caller in
another program file (which operator called a shared helper). During the
steady epoch a profile hook puts each call site in its own Spark job
group (the `spark.jobGroup.id` local property, changed only when the
site changes), and the status tracker then lists every group's jobs.
Spark inherits the property into the threads that run broadcasts and AQE
query stages, so every job of the epoch lands in exactly one group. At
each site change the hook also reads Spark's count of compiled codegen
classes (`CodegenMetrics`, one per Janino compile; a class served from
the codegen cache is not counted) and credits the classes compiled
since the previous change to the previous site, so a steady epoch's
codegen layer shows which call still compiles. The hook only tags jobs
and reads a counter; it changes no plan.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_PROGRAM_DIRS = tuple(os.path.join(ROOT, d) + os.sep
                      for d in ("dozer_spark", "perfbench"))
_GROUP = "epoch_jobs:"


class CallSiteGroups:
    """sys.setprofile hook: before each py4j call, set the job group to
    the call's program call site."""

    def __init__(self, sc):
        from py4j.java_gateway import JavaMember

        self._jsc = sc._jsc
        self._code = JavaMember.__call__.__code__
        self._busy = False
        self._last = None
        self.sites: list[str] = []
        self._compiles = (sc._jvm.org.apache.spark.metrics.source
                          .CodegenMetrics.METRIC_COMPILATION_TIME())
        self._compiled = self._compiles.getCount()
        self.classes: dict[str, int] = {}

    def charge(self) -> None:
        """Credit the classes compiled since the last site change to the
        last site (call once more after the hook is removed)."""
        n = self._compiles.getCount()
        if self._last is not None:
            self.classes[self._last] = (self.classes.get(self._last, 0)
                                        + n - self._compiled)
        self._compiled = n

    @staticmethod
    def _site(frame) -> str:
        """The innermost program frame, and its nearest caller in another
        program file."""
        found = []
        while frame is not None and len(found) < 2:
            path = frame.f_code.co_filename
            if path.startswith(_PROGRAM_DIRS) and (
                    not found or path != found[0][0]):
                found.append((path, frame.f_lineno, frame.f_code.co_name))
            frame = frame.f_back
        if not found:
            return "<outside the program>"
        return " <- ".join(f"{os.path.relpath(p, ROOT)}:{n} {fn}"
                           for p, n, fn in found)

    def __call__(self, frame, event, arg):
        if event != "call" or frame.f_code is not self._code or self._busy:
            return
        site = self._site(frame.f_back)
        if site == self._last:
            return
        self._busy = True  # the calls below are py4j calls too
        try:
            self.charge()
            self._jsc.setLocalProperty("spark.jobGroup.id", _GROUP + site)
        finally:
            self._busy = False
        self._last = site
        if site not in self.sites:
            self.sites.append(site)


def census(sc, sites: list[str],
           classes: dict[str, int]) -> list[tuple[int, int, int, str]]:
    """(jobs, tasks, compiled classes, site) per call site that launched
    any job or compiled any class."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()
    rows = []
    for site in sites:
        jobs = tracker.getJobIdsForGroup(_GROUP + site)
        if not jobs and not classes.get(site):
            continue
        tasks = 0
        for job_id in jobs:
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info is not None else []):
                st = tracker.getStageInfo(stage_id)
                if st is not None:
                    tasks += st.numCompletedTasks
        rows.append((len(jobs), tasks, classes.get(site, 0), site))
    return sorted(rows, key=lambda r: (-r[0], -r[2], r[3]))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=21)
    ap.add_argument("--changes", type=int, default=None,
                    help="order changes in the steady epoch "
                         "(default: the benchmark's)")
    ap.add_argument("--cores", default=os.environ.get("SPARK_GRAFT_CPUS", "4"))
    ap.add_argument("--epoch", type=int, default=1,
                    help="which steady epoch to census (1 = the first "
                         "after the backfill)")
    args = ap.parse_args(argv)
    if args.epoch < 1:
        ap.error("--epoch must be at least 1")
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)

    from dozer_spark import get_spark
    from perfbench import cdc, gen
    from perfbench.trace import Tracer

    cfg = dict(cdc.DEFAULTS)
    if args.changes is not None:
        cfg["changes"] = args.changes
    work = tempfile.mkdtemp(prefix="epoch_jobs_")
    spark = get_spark("epoch_jobs", extra_conf={
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    try:
        stream = gen.CdcStream(args.seed, cfg["customers"], cfg["orders"],
                               cfg["changes"], cfg["segment_moves"])
        paths = []
        for e in range(args.epoch + 1):
            paths.append(os.path.join(work, f"epoch{e}.json"))
            gen.write_lines(paths[-1],
                            stream.backfill() if e == 0 else stream.epoch())
        pipe = cdc._Pipeline(spark, os.path.join(work, "state"))
        untraced = Tracer(spark, enabled=False)
        for e in range(args.epoch):
            pipe.epoch(untraced, paths[e], e)

        hook = CallSiteGroups(spark.sparkContext)
        sys.setprofile(hook)
        try:
            pipe.epoch(untraced, paths[-1], args.epoch)
        finally:
            sys.setprofile(None)
            hook.charge()
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if pipe.read() != stream.expected_groups():
            print("warning: the sink differs from the expected aggregate",
                  file=sys.stderr)
        rows = census(spark.sparkContext, hook.sites, hook.classes)
        print(f"{'jobs':>5} {'tasks':>6} {'classes':>7}  call site")
        for jobs, tasks, classes, site in rows:
            print(f"{jobs:>5} {tasks:>6} {classes:>7}  {site}")
        print(f"{sum(r[0] for r in rows):>5} {sum(r[1] for r in rows):>6}"
              f" {sum(r[2] for r in rows):>7}"
              f"  total (steady epoch {args.epoch})")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
