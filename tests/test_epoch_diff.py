"""One materialized I/U/D diff per retracting-operator epoch.

- A durable (`state_dir`) and an ephemeral (`state_dir=None`)
  RetractingJoin -> RetractingAggregation chain emit the same output
  changelog every epoch, across a compaction of the durable diff state
  and with updates that move rows between groups.
- A job and task budget pins the Spark work of one steady durable
  `process_batch` per operator: a second computation of the diff (for
  the state advance) or a count of an input whose size Catalyst already
  knows shows up as extra jobs, and a small frame read at the full
  shuffle-partition count (AQE never coalesces a cached plan's output
  partitions) shows up as extra tasks.
- keys_join is semi/anti only.
"""

from __future__ import annotations

import itertools
import random
from collections import Counter

import pyspark.sql.functions as F
import pytest

from dozer_spark.streaming import RetractingAggregation, RetractingJoin
from dozer_spark.streaming.changelog import keys_join

ORDERS = ("__op string, __txid long, __seq long, o_orderkey long, "
          "o_custkey long, o_orderstatus string, o_cents long")
CUSTOMERS = "__op string, __txid long, __seq long, c_custkey long, c_mktsegment string"
SEGMENTS = ["AUTO", "BUILD", "MACHINERY"]
STATUSES = ["F", "O", "P", None]  # NULL is one ordinary group


class _Stream:
    """Seeded orders/customer changelogs; every key at most once per
    epoch, and an order never changes its customer (so the join's
    output changes each order's row at most once per epoch)."""

    def __init__(self, seed: int, customers: int = 12, orders: int = 40):
        self.rng = random.Random(seed)
        self.cust = {c: SEGMENTS[c % len(SEGMENTS)] for c in range(customers)}
        self.orders = {}
        self.next_key = 0
        self._backfill = ([self._insert() for _ in range(orders)],
                         [("I", c, s) for c, s in self.cust.items()])

    def _insert(self):
        k, self.next_key = self.next_key, self.next_key + 1
        self.orders[k] = (self.rng.choice(list(self.cust)),
                          self.rng.choice(STATUSES), self.rng.randrange(1, 10_000))
        return ("I", k, *self.orders[k])

    def epoch(self, changes: int = 10, moves: int = 2):
        """This epoch's (order ops, customer ops); epoch 0 is the backfill."""
        if self._backfill is not None:
            out, self._backfill = self._backfill, None
            return out
        touched = self.rng.sample(sorted(self.orders), changes)
        ords = []
        for i, k in enumerate(touched):
            if i % 4 == 3:
                ords.append(("D", k, *self.orders.pop(k)))
            else:
                c, _, _ = self.orders[k]
                self.orders[k] = (c, self.rng.choice(STATUSES),
                                  self.rng.randrange(1, 10_000))
                ords.append(("U", k, *self.orders[k]))
        ords += [self._insert() for _ in range(changes // 3)]
        custs = []
        for c in self.rng.sample(sorted(self.cust), moves):
            self.cust[c] = self.rng.choice(
                [s for s in SEGMENTS if s != self.cust[c]])
            custs.append(("U", c, self.cust[c]))
        return ords, custs

    def expected(self) -> dict:
        groups = {}
        for c, st, cents in self.orders.values():
            n, s = groups.get((self.cust[c], st), (0, 0))
            groups[(self.cust[c], st)] = (n + 1, s + cents)
        return groups


def _changelogs(spark, epoch: int, ords, custs):
    o = spark.createDataFrame(
        [(op, epoch, i, *rest) for i, (op, *rest) in enumerate(ords)], ORDERS)
    c = spark.createDataFrame(
        [(op, epoch, i, *rest) for i, (op, *rest) in enumerate(custs)], CUSTOMERS)
    return o, c


def _chain(spark, state_dir):
    join = RetractingJoin(
        spark, left_pk=["o_orderkey"], right_pk=["c_custkey"],
        on=[("o_custkey", "c_custkey")],
        state_dir=None if state_dir is None else f"{state_dir}/join")
    agg = RetractingAggregation(
        spark, pk=["o_orderkey"], group_by=["c_mktsegment", "o_orderstatus"],
        aggs=[F.count(F.lit(1)).alias("n"), F.sum("o_cents").alias("cents")],
        state_dir=None if state_dir is None else f"{state_dir}/agg")
    return join, agg


def _stamped(out, epoch: int):
    """The join's output changelog as the aggregation's input: the join
    emits `__op` only, so stamp `__txid`/`__seq`."""
    return out.select("__op", F.lit(epoch).cast("long").alias("__txid"),
                      F.monotonically_increasing_id().alias("__seq"),
                      *[c for c in out.columns if c != "__op"])


def test_durable_and_ephemeral_chains_emit_the_same_changelogs(spark, tmp_path):
    stream = _Stream(seed=7)
    durable = _chain(spark, str(tmp_path))
    ephemeral = _chain(spark, None)
    # the 9th advance of each durable diff state compacts its window of
    # compact_every=8 pending deltas
    for e in range(9):
        o, c = _changelogs(spark, e, *stream.epoch())
        emitted = []
        for join, agg in (durable, ephemeral):
            jout = join.process_batch(o, c)
            aout = agg.process_batch(_stamped(jout, e))
            emitted.append((Counter(map(tuple, jout.collect())),
                            Counter(map(tuple, aout.collect()))))
        assert emitted[0] == emitted[1], f"epoch {e}"
        assert sum(emitted[0][0].values()) > 0, f"epoch {e}: empty join output"
    join, agg = durable
    assert join._prevtx.tx.version >= 1 and agg._aggtx.tx.version >= 1
    for _, agg in (durable, ephemeral):
        got = {(r.c_mktsegment, r.o_orderstatus): (r.n, r.cents)
               for r in agg.current().collect()}
        assert got == stream.expected()


_groups = itertools.count()


def _jobs(spark, group: str, fn):
    """fn() under a fresh job group; its result and the group's Spark
    (jobs, completed tasks)."""
    group = f"{group}-{next(_groups)}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [tracker.getStageInfo(s)
              for j in jobs for s in tracker.getJobInfo(j).stageIds]
    tasks = sum(st.numCompletedTasks for st in stages if st is not None)
    return out, (len(jobs), tasks)


# Spark (jobs, tasks) of one steady durable process_batch on the stream
# below, its inputs cached and counted by the caller (as a pipeline
# does). With a second diff computation and redundant counts: join 31
# jobs, aggregation 22. With the dirty-key set cached instead of
# checkpointed: join 22 jobs / 150 tasks, aggregation 16 / 93.
JOIN_BUDGET = (16, 48)
AGG_BUDGET = (12, 20)


def test_steady_durable_epoch_job_budget(spark, tmp_path):
    stream = _Stream(seed=11, customers=20, orders=200)
    join, agg = _chain(spark, str(tmp_path))
    jobs = {}
    for e in range(2):
        o, c = _changelogs(spark, e, *stream.epoch(changes=30))
        o, c = o.cache(), c.cache()
        o.count(), c.count()
        jout, jobs["join"] = _jobs(spark, "epoch-diff-join",
                                   lambda: join.process_batch(o, c))
        ain = _stamped(jout, e).cache()
        ain.count()
        _, jobs["agg"] = _jobs(spark, "epoch-diff-agg",
                               lambda: agg.process_batch(ain))
    for op, (max_jobs, max_tasks) in (("join", JOIN_BUDGET),
                                      ("agg", AGG_BUDGET)):
        assert jobs[op][0] <= max_jobs, jobs
        assert jobs[op][1] <= max_tasks, jobs


def test_keys_join_rejects_fan_out_joins(spark):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    keys = df.select("k")
    assert keys_join(df, keys, "semi").count() == 1
    assert keys_join(df, keys, "anti").count() == 0
    for how in ("inner", "left", "full_outer"):
        with pytest.raises(ValueError, match="semi/anti only"):
            keys_join(df, keys, how)
