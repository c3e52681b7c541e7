"""Same plans, same rows, no more jobs: compare registry entries between
a parent checkout and this one.

    python tools/plan_identity.py --parent <checkout> <entry> [<entry> ...]

Each checkout runs in its own subprocess with `PYTHONPATH` set to that
checkout, so the driver and the Python workers import its code, and one
Spark session per side builds the entries in the order given. Per entry
it prints:

- `plan`: whether the optimized logical plans at sf0.001 are identical
  after normalizing what differs between two runs of the same code
  (expression ids `#12L`, `plan_id=`, lambda variable suffixes, AQE
  `QueryStage` and `*(n)` codegen ids inside cached plans). Compared
  are the entry's result plan and the plan of every `localCheckpoint`
  taken while building it: a streaming replay returns a union of
  checkpoints, whose own plan shows nothing of the epochs' work;
- `rows`: whether the sorted `collect()` rows at sf0.01 are identical;
- `jobs`: the Spark jobs of build + collect at sf0.01 on each side,
  read from the status tracker under one job group per entry.

With `--out DIR` the normalized plans of every entry whose plan differs
are written to `DIR/<entry>.parent.txt` and `DIR/<entry>.change.txt`
for a diff. The exit status is 1 when any entry differs in rows or has
more jobs than the parent, else 0.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def normalize(plan: str) -> str:
    """Strip the ids that differ between two runs of identical code."""
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"QueryStage \d+", "QueryStage", plan)
    plan = re.sub(r"\*\(\d+\)", "*()", plan)
    # lambda variables carry a global counter suffix: rename them by
    # order of first appearance
    names: dict[str, str] = {}
    return re.sub(
        r"lambda (\w+?)_\d+\b",
        lambda m: "lambda " + names.setdefault(m.group(0),
                                               f"{m.group(1)}_{len(names)}"),
        plan,
    )


def _plan(df) -> str:
    return normalize(df._jdf.queryExecution().optimizedPlan().toString())


def _worker(out_path: str, plan_sf: str, rows_sf: str,
            entries: list[str]) -> None:
    """Runs inside one checkout: build every entry, write JSON results."""
    from pyspark.sql.classic.dataframe import DataFrame

    from dozer_spark import get_spark
    from dozer_spark.queries import registry

    spark = get_spark("plan_identity", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    reg = registry()
    res = {}
    taken: list[str] = []
    recording = False
    checkpoint = DataFrame.localCheckpoint

    def record(self, *a, **kw):
        if recording:
            taken.append(_plan(self))
        return checkpoint(self, *a, **kw)

    DataFrame.localCheckpoint = record
    for name in entries:
        taken.clear()
        recording = True
        final = reg[name].build(spark, plan_sf)
        recording = False
        plan = [*taken, _plan(final)]
        group = f"plan_identity:{name}"
        sc.setJobGroup(group, group)
        rows = reg[name].build(spark, rows_sf).collect()
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("", "")
        reprs = sorted(map(repr, rows))
        res[name] = {
            "plan": plan,
            "rows": len(reprs),
            "rows_sha": hashlib.sha256("\n".join(reprs).encode()).hexdigest(),
            "jobs": jobs,
        }
        print(f"  built {name}", file=sys.stderr, flush=True)
    with open(out_path, "w") as f:
        json.dump(res, f)


def _run_side(checkout: str, args, label: str) -> dict:
    fd, out = tempfile.mkstemp(suffix=".json")
    os.close(fd)
    env = dict(os.environ, PYTHONPATH=os.path.abspath(checkout))
    print(f"{label}: {checkout}", file=sys.stderr, flush=True)
    try:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", out,
             "--plan-sf", args.plan_sf, "--rows-sf", args.rows_sf,
             *args.entries],
            env=env, cwd=checkout, check=True,
        )
        with open(out) as f:
            return json.load(f)
    finally:
        os.remove(out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--plan-sf", help="corpus for the plans (default: "
                    "sf0.001 beside registry.DEFAULT_SF_DIR)")
    ap.add_argument("--rows-sf", help="corpus for rows and jobs (default: "
                    "sf0.01 beside registry.DEFAULT_SF_DIR)")
    ap.add_argument("--out", help="write differing normalized plans here")
    ap.add_argument("--worker", help=argparse.SUPPRESS)
    ap.add_argument("entries", nargs="+")
    args = ap.parse_args(argv)
    if args.worker:
        _worker(args.worker, args.plan_sf, args.rows_sf, args.entries)
        return 0
    if not args.parent:
        ap.error("--parent is required")
    sys.path.insert(0, ROOT)
    from dozer_spark.registry import DEFAULT_SF_DIR

    corpus = os.path.dirname(DEFAULT_SF_DIR)
    args.plan_sf = args.plan_sf or os.path.join(corpus, "sf0.001")
    args.rows_sf = args.rows_sf or os.path.join(corpus, "sf0.01")
    parent = _run_side(args.parent, args, "parent")
    change = _run_side(ROOT, args, "change")
    worse = False
    print(f"{'entry':40} {'plans':12} {'rows':8} jobs (parent -> change)")
    for name in args.entries:
        p, c = parent[name], change[name]
        n_diff = (sum(a != b for a, b in zip(p["plan"], c["plan"]))
                  + abs(len(p["plan"]) - len(c["plan"])))
        plan = (f"same/{len(c['plan'])}" if not n_diff
                else f"{n_diff}/{len(c['plan'])} DIFFER")
        same_rows = (p["rows"], p["rows_sha"]) == (c["rows"], c["rows_sha"])
        worse |= not same_rows or c["jobs"] > p["jobs"]
        print(f"{name:40} {plan:12} {'same' if same_rows else 'DIFFER':8} "
              f"{p['jobs']} -> {c['jobs']}  ({c['rows']} rows)")
        if args.out and n_diff:
            os.makedirs(args.out, exist_ok=True)
            for side, r in (("parent", p), ("change", c)):
                with open(os.path.join(args.out, f"{name}.{side}.txt"),
                          "w") as f:
                    f.write("\n\n=== next plan ===\n".join(r["plan"]))
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
