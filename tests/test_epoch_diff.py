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
- Steady durable epochs reuse the code compiled for the epochs before
  them: a plan that changes shape or literals every epoch recompiles
  its generated classes every epoch.
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
    (jobs, completed tasks, compiled codegen classes)."""
    group = f"{group}-{next(_groups)}"
    sc = spark.sparkContext
    compiles = (sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    compiled = compiles.getCount()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    compiled = compiles.getCount() - compiled
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [tracker.getStageInfo(s)
              for j in jobs for s in tracker.getJobInfo(j).stageIds]
    tasks = sum(st.numCompletedTasks for st in stages if st is not None)
    return out, (len(jobs), tasks, compiled)


# Spark (jobs, tasks) of one steady durable process_batch on the stream
# below, its inputs cached and counted by the caller (as a pipeline
# does). With a second diff computation and redundant counts: join 31
# jobs, aggregation 22. With the dirty-key set cached instead of
# checkpointed: join 22 jobs / 150 tasks, aggregation 16 / 93.
JOIN_BUDGET = (16, 48)
AGG_BUDGET = (12, 20)


def _durable_epoch_jobs(spark, tmp_path, epochs: int) -> list[dict]:
    """Per epoch of the stream below (epoch 0 is the backfill), the
    Spark (jobs, tasks, compiled classes) of each operator's durable
    process_batch, its inputs cached and counted by the caller (as a
    pipeline does)."""
    stream = _Stream(seed=11, customers=20, orders=200)
    join, agg = _chain(spark, str(tmp_path))
    out = []
    for e in range(epochs):
        jobs = {}
        o, c = _changelogs(spark, e, *stream.epoch(changes=30))
        o, c = o.cache(), c.cache()
        o.count(), c.count()
        jout, jobs["join"] = _jobs(spark, "epoch-diff-join",
                                   lambda: join.process_batch(o, c))
        ain = _stamped(jout, e).cache()
        ain.count()
        _, jobs["agg"] = _jobs(spark, "epoch-diff-agg",
                               lambda: agg.process_batch(ain))
        out.append(jobs)
    return out


def test_steady_durable_epoch_job_budget(spark, tmp_path):
    jobs = _durable_epoch_jobs(spark, tmp_path, 2)[1]
    for op, (max_jobs, max_tasks) in (("join", JOIN_BUDGET),
                                      ("agg", AGG_BUDGET)):
        assert jobs[op][0] <= max_jobs, jobs
        assert jobs[op][1] <= max_tasks, jobs


@pytest.fixture(scope="module")
def pending_epochs(spark, tmp_path_factory):
    """_durable_epoch_jobs over the backfill and six steady epochs: up to
    six pending state deltas, no compaction yet (compact_every=8)."""
    return _durable_epoch_jobs(spark, tmp_path_factory.mktemp("pending"), 7)


# Spark jobs and tasks of the 6th steady durable process_batch. Reading
# durable state applies every pending delta in one pass, so the jobs stay
# near the first steady epoch's budget; with one anti-join + union per
# pending delta they were 51 (join) and 32 (aggregation). The pending
# deltas are one scan, whose tasks stop growing at the default
# parallelism (join 50-53 tasks at the 3rd-6th steady epoch); with one
# scan per delta they grew by 5 (join) and 3 (aggregation) per delta,
# to 67 and 31.
PENDING_JOIN_BUDGET = (20, 56)
PENDING_AGG_BUDGET = (15, 25)


def test_durable_epoch_jobs_flat_across_pending_deltas(pending_epochs):
    jobs = pending_epochs[6]
    for op, (max_jobs, max_tasks) in (("join", PENDING_JOIN_BUDGET),
                                      ("agg", PENDING_AGG_BUDGET)):
        assert jobs[op][0] <= max_jobs, jobs
        assert jobs[op][1] <= max_tasks, jobs


# Codegen classes a steady durable process_batch may compile once the
# backfill and two steady epochs have run every plan shape. With a
# per-delta scan stamped by an epoch literal, the stage id in class
# names and Spark's 100-entry codegen cache, each call compiled 86-133.
COMPILE_BUDGET = 2


def test_steady_durable_epochs_reuse_compiled_code(pending_epochs):
    for e in (3, 4, 5):
        for op in ("join", "agg"):
            assert pending_epochs[e][op][2] <= COMPILE_BUDGET, (
                e, pending_epochs[e])


def test_keys_join_rejects_fan_out_joins(spark):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    keys = df.select("k")
    assert keys_join(df, keys, "semi").count() == 1
    assert keys_join(df, keys, "anti").count() == 0
    for how in ("inner", "left", "full_outer"):
        with pytest.raises(ValueError, match="semi/anti only"):
            keys_join(df, keys, how)
