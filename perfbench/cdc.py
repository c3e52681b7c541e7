"""cdc_join_agg: wal2json epochs through durable state into a sink.

Pipeline, one epoch at a time (a closed loop with one pipeline: each
epoch starts when the previous sink commit has returned):

    wal2json_changelog(orders), wal2json_changelog(customer)   source
    -> RetractingJoin(orders.o_custkey = customer.c_custkey)   join
    -> RetractingAggregation(GROUP BY c_mktsegment, o_orderstatus:
                             COUNT(*), SUM(o_cents))            agg
    -> TransactionalTable.merge                                 sink

Both operators keep durable state (`state_dir`). The join's output
changelog carries `__op` only, while the aggregation needs
`__txid`/`__seq` as well, so the benchmark stamps the join output
(txid = epoch, seq = row id) before feeding it on.

Setup writes the epoch files the run will read (epoch 0, the
backfill, and `epochs` steady epochs; the benchmark's input, not timed)
and builds the operators and the sink on empty state, three times over
fresh directories; the set-up time is the median construction. Epoch 0
is timed as the cold step, then exactly `epochs` steady epochs run:
a fixed count, so every run compares the same epochs whatever the
machine's speed. One epoch costs about 85 Spark jobs, 12 s at 4 cores,
so the default is one. After each epoch, untimed, the sink table is
read back and compared with the generator's from-scratch aggregate
over its live rows.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import gen
from perfbench.common import (
    Result,
    cpu_seconds,
    layer_shares,
    median,
    slope,
    spans_summary,
)

DEFAULTS = {"customers": 500, "orders": 5000, "changes": 500,
            "segment_moves": 5, "epochs": 1, "corrupt": False}
LAYERS = ("source", "join", "agg", "sink")
SETUP_REPEATS = 3
# DiffStateTable's default compaction window: the advance after 8
# pending deltas folds them into the base table, so every 8th epoch
# after the backfill compacts
COMPACT_EVERY = 8


class _Pipeline:
    def __init__(self, spark, root: str):
        from pyspark.sql import functions as F

        from dozer_spark.storage import TransactionalTable
        from dozer_spark.streaming import RetractingAggregation, RetractingJoin

        self.spark = spark
        self.root = root
        self.join = RetractingJoin(
            spark, left_pk=["o_orderkey"], right_pk=["c_custkey"],
            on=[("o_custkey", "c_custkey")],
            state_dir=os.path.join(root, "join"))
        self.agg = RetractingAggregation(
            spark, pk=["o_orderkey"], group_by=["c_mktsegment", "o_orderstatus"],
            aggs=[F.count(F.lit(1)).alias("n_orders"),
                  F.sum("o_cents").alias("sum_cents")],
            state_dir=os.path.join(root, "agg"))
        self.sink = TransactionalTable(
            spark, os.path.join(root, "sink"), pk=["c_mktsegment", "o_orderstatus"])
        self._cached = []

    def epoch(self, tracer, path: str, epoch: int) -> dict:
        """One epoch from file to sink commit; returns rows per layer."""
        from pyspark.sql import functions as F

        from dozer_spark.sources.wal2json import wal2json_changelog

        for df in self._cached:
            df.unpersist()
        with tracer.span("source", epoch=epoch):
            raw = self.spark.read.text(path)
            orders = wal2json_changelog(raw, "value", "orders", gen.ORDER_COLS,
                                        pk=["o_orderkey"]).cache()
            customers = wal2json_changelog(raw, "value", "customer",
                                           gen.CUSTOMER_COLS,
                                           pk=["c_custkey"]).cache()
            n_in = orders.count() + customers.count()
        with tracer.span("join", epoch=epoch):
            out = self.join.process_batch(orders, customers)
            joined = out.select(
                "__op", F.lit(epoch).cast("long").alias("__txid"),
                F.monotonically_increasing_id().alias("__seq"),
                *[c for c in out.columns if c != "__op"]).cache()
            n_join = joined.count()
        with tracer.span("agg", epoch=epoch):
            aggout = self.agg.process_batch(joined).cache()
            n_agg = aggout.count()
        with tracer.span("sink", epoch=epoch):
            self.sink.merge(
                aggout.withColumn("__del", F.col("__op") == "D").drop("__op"),
                delete_col="__del")
        self._cached = [orders, customers, joined, aggout]
        return {"in": n_in, "join": n_join, "agg": n_agg}

    def read(self) -> dict:
        return {(r.c_mktsegment, r.o_orderstatus): (r.n_orders, r.sum_cents)
                for r in self.sink.read().collect()}


def _inputs(root: str, seed: int, cfg: dict):
    """Write the backfill and the steady epochs; return their paths, the
    expected sink after each, and each file's record count."""
    stream = gen.CdcStream(seed, cfg["customers"], cfg["orders"],
                           cfg["changes"], cfg["segment_moves"])
    files, expected, records = [], [], []
    for e in range(cfg["epochs"] + 1):
        lines = stream.backfill() if e == 0 else stream.epoch()
        path = os.path.join(root, f"epoch{e:03d}.json")
        gen.write_lines(path, lines)
        files.append(path)
        records.append(len(lines))
        expected.append(stream.expected_groups())
    return files, expected, records


def _dir_size(path: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def run(spark, tracer, *, seed: int, work_dir: str,
        cores: int, overrides: dict) -> Result:
    cfg = {**DEFAULTS, **overrides}
    res = Result()
    os.makedirs(work_dir)
    files, expected, records = _inputs(work_dir, seed, cfg)
    setup_times = []
    for i in range(SETUP_REPEATS):
        state_root = os.path.join(work_dir, f"state{i}")
        c0 = cpu_seconds()
        pipe = _Pipeline(spark, state_root)
        setup_times.append(cpu_seconds() - c0)
        if i < SETUP_REPEATS - 1:
            shutil.rmtree(state_root, ignore_errors=True)
    res.setup_cpu = median(setup_times)

    epoch_s, epoch_cpu, reads, rows = [], [], [], []
    for e, path in enumerate(files):
        res.attempted += 1
        try:
            t0, c0 = time.perf_counter(), cpu_seconds()
            rows.append(pipe.epoch(tracer, path, e))
            epoch_s.append(time.perf_counter() - t0)
            epoch_cpu.append(cpu_seconds() - c0)
            t0 = time.perf_counter()
            got = pipe.read()
            reads.append(time.perf_counter() - t0)
            want = expected[e]
            if cfg["corrupt"]:
                want = {k: (n + 1, c) for k, (n, c) in want.items()}
            if got != want:
                res.fail(f"epoch {e}: sink differs from the expected aggregate")
        except Exception as ex:  # a raise is a failed operation
            res.fail(f"epoch {e}: {type(ex).__name__}: {ex}")
            break
    steady, steady_cpu = epoch_s[1:], epoch_cpu[1:]
    changes = sum(records[1:len(epoch_s)])
    res.e2e = {
        "cold_cpu_s": (epoch_cpu[0] if epoch_cpu else 0.0, "s"),
        "step_cpu_s": (median(steady_cpu) if steady_cpu else 0.0, "s"),
    }
    res.report = {
        "cdc_backfill_s": (epoch_s[0] if epoch_s else 0.0, "s"),
        "cdc_backfill_records": (records[0], "count"),
        "cdc_epoch_p50_s": (median(steady) if steady else 0.0, "s"),
        "cdc_changes_per_s": (changes / sum(steady) if steady else 0.0,
                              "rows/s"),
        "cdc_epochs": (len(steady), "count"),
        "cdc_sink_read_p50_s": (median(reads) if reads else 0.0, "s"),
    }
    if tracer.enabled and steady:
        _layers(res, tracer, epoch_s, rows, cores, state_root)
    return res


def _layers(res: Result, tracer, epoch_s, rows, cores, state_root) -> None:
    """Per steady epoch (the step), then the median over epochs; shares
    are of the epoch's wall time."""
    n = len(epoch_s)
    steps = [[s for s in tracer.spans if s.attrs["epoch"] == e]
             for e in range(1, n)]
    walls = epoch_s[1:]
    per_step = [spans_summary(st, cores) for st in steps]
    layer_s = {name: [sum(s.seconds for s in st if s.name == name)
                      for st in steps] for name in LAYERS}
    res.layer = {
        **{k: (median([p[k][0] for p in per_step]), u)
           for k, (_, u) in per_step[0].items()},
        **layer_shares({name: median(t / w for t, w in zip(layer_s[name], walls))
                        for name in LAYERS}),
        "step_s": (median(walls), "s"),
        "layers_accounted_frac": (median(
            sum(layer_s[name][i] for name in LAYERS) / w
            for i, w in enumerate(walls)), "ratio"),
        "step.task_skew": (median(tracer.task_skew(st) for st in steps), "ratio"),
        "cold_gap_s": (epoch_s[0] - median(walls), "s"),
        "cold.jobs": (sum(s.jobs for s in tracer.spans
                          if s.attrs["epoch"] == 0), "count"),
    }
    # cost added per pending delta: a fit over the steady epochs by
    # their position in the compaction window, leaving out the epochs
    # that compact
    fit = [i for i in range(1, n) if i % COMPACT_EVERY != 0]
    pos = [(i - 1) % COMPACT_EVERY for i in fit]
    compacting = [epoch_s[i] for i in range(1, n) if i % COMPACT_EVERY == 0]
    size, files = _dir_size(state_root)
    L = res.layer
    res.report.update({
        **{f"cdc.{name}_s": (median(layer_s[name]), "s") for name in LAYERS},
        **{f"cdc.{name}_jobs": (median(sum(s.jobs for s in st if s.name == name)
                                       for st in steps), "count")
           for name in LAYERS},
        "cdc.jobs_per_epoch": L["step.jobs"],
        "cdc.tasks_per_epoch": L["step.tasks"],
        "cdc.shuffle_bytes_per_epoch": L["step.shuffle_bytes"],
        "cdc.pending_slope_s": (slope(pos, [epoch_s[i] for i in fit]), "s"),
        "cdc.pending_slope_jobs": (
            slope(pos, [sum(s.jobs for s in steps[i - 1]) for i in fit]),
            "count"),
        "cdc.compaction_epoch_s": (median(compacting) if compacting else
                                   float("nan"), "s"),
        "cdc.backfill_jobs": L["cold.jobs"],
        "cdc.join_out_rows": (median(r["join"] for r in rows[1:]), "count"),
        "cdc.agg_out_rows": (median(r["agg"] for r in rows[1:]), "count"),
        "cdc.state_bytes": (size, "bytes"),
        "cdc.state_files": (files, "count"),
    })
