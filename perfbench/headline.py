"""batch_headline: the headline registry queries, as bench.py runs them.

Setup writes the seeded corpus tables (the benchmark's input, not
timed) and reads each one through the engine's parquet loader, three
times over fresh copies so that no load hits the loader's cache; then
one query runs as a warm-up. The set-up time is the median load plus
the warm-up. After it, every query runs once cold followed by
`warm_repeats` warm repeats: a fixed count, so every run times the same
executions whatever the machine's speed. Each
execution is `Query.build` and an action. Warm repeats write to the
noop sink, so the warm time keeps bench.py's definition (the sum of
per-query warm medians, `value`). The cold execution collects the
rows instead, which costs about what bench.py's noop write does
(`cold_value`) and lets every query's first result be compared,
untimed, with its DuckDB oracle over the same files without another
pass.
"""

from __future__ import annotations

import os
import shutil

from perfbench import gen
from perfbench.common import (
    Result,
    cpu_seconds,
    layer_shares,
    median,
    spans_summary,
)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DEFAULTS = {"sf": 0.01, "queries": None, "warm_repeats": 1,
            "corrupt": False}
SETUP_REPEATS = 3


def _load(spark, data_dir: str) -> None:
    from dozer_spark.registry import load_parquet

    for t in TABLES:
        load_parquet(spark, os.path.join(data_dir, f"{t}.parquet"), t)


def _setup(spark, work_dir: str, seed: int, sf: float) -> tuple[str, list]:
    """Write the corpus and load it, SETUP_REPEATS times over fresh
    copies; return the last copy's directory and the load CPU seconds,
    one per repeat."""
    times = []
    for i in range(SETUP_REPEATS):
        d = os.path.join(work_dir, f"tables{i}")
        gen.write_tables(d, seed, sf)
        c0 = cpu_seconds()
        _load(spark, d)
        times.append(cpu_seconds() - c0)
        if i < SETUP_REPEATS - 1:
            shutil.rmtree(d)
    return d, times


def _execute(tracer, q, spark, data_dir: str, step: int):
    """One execution; returns its wall and CPU seconds and, for the cold
    one (step 0), the collected rows."""
    rows = None
    with tracer.span("build", query=q.name, step=step) as b:
        df = q.build(spark, data_dir)
    with tracer.span("exec", query=q.name, step=step) as e:
        if step == 0:
            rows = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
    return (b.seconds + e.seconds, b.cpu + e.cpu), rows


def _oracle(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    return con


def check(con, q, rows, corrupt: bool = False) -> str | None:
    """The query's rows against its DuckDB oracle with the canonical
    comparison of tools/driver_window_sim (columns by name, rows sorted, exact
    values); a query without an oracle must return rows. Returns what
    failed, or None. `corrupt` perturbs the expected result, so that
    the comparison fails."""
    from tools.driver_window_sim import _canon, _eq

    got = _canon(rows)
    if q.oracle is None:
        return "no rows" if len(got) == 0 or corrupt else None
    want = con.execute(q.oracle).df()
    if corrupt:
        want = want.iloc[1:] if len(want) else want.iloc[:0]
    return None if _eq(got, _canon(want)) else "rows differ from the oracle"


def run(spark, tracer, *, seed: int, work_dir: str,
        cores: int, overrides: dict) -> Result:
    from dozer_spark.queries import registry

    cfg = {**DEFAULTS, **overrides}
    res = Result()
    queries = {n: q for n, q in registry().items() if q.headline}
    if cfg["queries"] is not None:
        queries = dict(list(queries.items())[:cfg["queries"]])

    data_dir, load_times = _setup(spark, work_dir, seed, cfg["sf"])
    c0 = cpu_seconds()
    first = next(iter(queries.values()))
    first.build(spark, data_dir).write.format("noop").mode("overwrite").save()
    res.setup_cpu = median(load_times) + cpu_seconds() - c0

    con = _oracle(data_dir)
    cold: dict[str, tuple[float, float]] = {}
    warm: dict[str, list[tuple[float, float]]] = {n: [] for n in queries}
    for name, q in queries.items():
        res.attempted += 1
        try:
            cold[name], rows = _execute(tracer, q, spark, data_dir, step=0)
            bad = check(con, q, rows, cfg["corrupt"])
            if bad:
                res.fail(f"check {name}: {bad}")
            for _ in range(cfg["warm_repeats"]):
                res.attempted += 1
                warm[name].append(_execute(tracer, q, spark, data_dir,
                                           step=len(warm[name]) + 1)[0])
        except Exception as ex:  # a raise is a failed operation
            res.fail(f"{name}: {type(ex).__name__}: {ex}")
    con.close()

    per_query = {n: median(w for w, _ in v) for n, v in warm.items() if v}
    warm_s = sum(per_query.values())
    cold_s = sum(w for w, _ in cold.values())
    warm_cpu = sum(median(c for _, c in v) for v in warm.values() if v)
    res.e2e = {
        "cold_cpu_s": (sum(c for _, c in cold.values()), "s"),
        "step_cpu_s": (warm_cpu, "s"),
    }
    res.report = {
        "headline_warm_s": (warm_s, "s"),
        "headline_cold_s": (cold_s, "s"),
        "headline_queries": (len(queries), "count"),
        **{f"headline.{n}.warm_s": (v, "s") for n, v in per_query.items()},
    }
    if tracer.enabled and per_query:
        _layers(res, tracer, queries, warm_s, cold_s, cores)
    return res


def _layers(res: Result, tracer, queries, warm_s, cold_s, cores) -> None:
    """The step is one warm pass: per query the median over its warm
    repeats, summed, as for the warm time. Spark counters come from the
    first warm repeat of every query."""
    def med(name, kinds, attr):
        steps = {s.attrs["step"] for s in tracer.spans
                 if s.attrs["query"] == name and s.attrs["step"] > 0}
        return median([sum(getattr(s, attr) for s in tracer.spans
                           if s.attrs["query"] == name and s.attrs["step"] == k
                           and s.name in kinds)
                       for k in steps])

    first = [s for s in tracer.spans if s.attrs["step"] == 1]
    build = sum(med(n, ("build",), "seconds") for n in queries)
    execs = sum(med(n, ("exec",), "seconds") for n in queries)
    res.layer = {
        **spans_summary(first, cores),
        **layer_shares({"build": build / warm_s, "exec": execs / warm_s}),
        "step_s": (warm_s, "s"),
        "layers_accounted_frac": ((build + execs) / warm_s, "ratio"),
        "step.task_skew": (tracer.task_skew(first), "ratio"),
        "cold_gap_s": (cold_s - warm_s, "s"),
        "cold.jobs": (sum(s.jobs for s in tracer.spans
                          if s.attrs["step"] == 0), "count"),
    }
    L = res.layer
    res.report.update({
        "headline.build_s": (build, "s"),
        "headline.build_jobs": (sum(med(n, ("build",), "jobs")
                                    for n in queries), "count"),
        "headline.exec_s": (execs, "s"),
        "headline.exec_jobs": (sum(med(n, ("exec",), "jobs")
                                   for n in queries), "count"),
        "headline.tasks": L["step.tasks"],
        "headline.executor_run_s": L["step.executor_run_s"],
        "headline.slot_util": L["step.slot_util"],
        "headline.shuffle_bytes": L["step.shuffle_bytes"],
        "headline.spill_bytes": L["step.spill_bytes"],
        "headline.task_skew": L["step.task_skew"],
        "headline.codegen_gap_s": L["cold_gap_s"],
        **{f"headline.{n}.jobs": (med(n, ("build", "exec"), "jobs"), "count")
           for n in queries},
    })
