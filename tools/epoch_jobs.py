"""Spark jobs of one steady CDC epoch, grouped by the Python call site
that launched them.

Runs the benchmark's `cdc_join_agg` pipeline (wal2json source -> durable
RetractingJoin -> durable RetractingAggregation -> TransactionalTable
merge sink, `perfbench/cdc.py`) for the backfill epoch and one steady
epoch, then prints the steady epoch's jobs per call site, busiest first:

    python tools/epoch_jobs.py [--seed 21] [--changes 500] [--cores 4]

A call site is the innermost `dozer_spark/` or `perfbench/` frame on the
Python stack when a py4j call is made, followed by its nearest caller in
another program file (which operator called a shared helper). During the
steady epoch a profile hook puts each call site in its own Spark job
group (the `spark.jobGroup.id` local property, changed only when the
site changes), and the status tracker then lists every group's jobs.
Spark inherits the property into the threads that run broadcasts and AQE
query stages, so every job of the epoch lands in exactly one group. The
hook only tags jobs; it changes no plan.
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
        self._busy = True  # the property call below is a py4j call too
        try:
            self._jsc.setLocalProperty("spark.jobGroup.id", _GROUP + site)
        finally:
            self._busy = False
        self._last = site
        if site not in self.sites:
            self.sites.append(site)


def census(sc, sites: list[str]) -> list[tuple[int, int, str]]:
    """(jobs, tasks, site) per call site that launched any job."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()
    rows = []
    for site in sites:
        jobs = tracker.getJobIdsForGroup(_GROUP + site)
        if not jobs:
            continue
        tasks = 0
        for job_id in jobs:
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info is not None else []):
                st = tracker.getStageInfo(stage_id)
                if st is not None:
                    tasks += st.numCompletedTasks
        rows.append((len(jobs), tasks, site))
    return sorted(rows, key=lambda r: (-r[0], r[2]))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=21)
    ap.add_argument("--changes", type=int, default=None,
                    help="order changes in the steady epoch "
                         "(default: the benchmark's)")
    ap.add_argument("--cores", default=os.environ.get("SPARK_GRAFT_CPUS", "4"))
    args = ap.parse_args(argv)
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
        for e, lines in enumerate((stream.backfill(), stream.epoch())):
            paths.append(os.path.join(work, f"epoch{e}.json"))
            gen.write_lines(paths[-1], lines)
        pipe = cdc._Pipeline(spark, os.path.join(work, "state"))
        untraced = Tracer(spark, enabled=False)
        pipe.epoch(untraced, paths[0], 0)

        hook = CallSiteGroups(spark.sparkContext)
        sys.setprofile(hook)
        try:
            pipe.epoch(untraced, paths[1], 1)
        finally:
            sys.setprofile(None)
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if pipe.read() != stream.expected_groups():
            print("warning: the sink differs from the expected aggregate",
                  file=sys.stderr)
        rows = census(spark.sparkContext, hook.sites)
        print(f"{'jobs':>5} {'tasks':>6}  call site")
        for jobs, tasks, site in rows:
            print(f"{jobs:>5} {tasks:>6}  {site}")
        print(f"{sum(r[0] for r in rows):>5} {sum(r[1] for r in rows):>6}"
              "  total (steady epoch)")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
