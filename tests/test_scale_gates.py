"""Scale-safety regression tests (round-1 verdict items 1-2):

- The doc-side tables in minhash/ngram verification must be broadcast
  only under a size estimate; past the gate the plan must carry NO
  broadcast hint (AQE then decides from runtime sizes) and still produce
  identical results.
- Batch TTL must be lazy: building the plan runs no Spark job.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from dozer_spark.operators.hints import estimated_plan_bytes, maybe_broadcast
from dozer_spark.operators.ttl import ttl
from dozer_spark.ops.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs
from dozer_spark.registry import Catalog

SF = "/root/testdata/sf0.001"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _docs(spark):
    return Catalog.from_testdata(spark, SF).df("documents")


def test_estimate_is_real_for_scans(spark):
    d = _docs(spark)
    est = estimated_plan_bytes(d)
    assert est is not None and 0 < est < (1 << 30)


def test_maybe_broadcast_gates_on_size(spark):
    d = _docs(spark)
    hinted = _optimized(maybe_broadcast(d).join(d.select("doc_id"), "doc_id"))
    assert "strategy=broadcast" in hinted
    unhinted = _optimized(maybe_broadcast(d, 0).join(d.select("doc_id"), "doc_id"))
    assert "strategy=broadcast" not in unhinted
    # a 1-byte gate must also refuse the hint (estimate exceeds it)
    tiny_gate = _optimized(maybe_broadcast(d, 1).join(d.select("doc_id"), "doc_id"))
    assert "strategy=broadcast" not in tiny_gate


def test_minhash_large_corpus_plan_unhinted_same_result(spark):
    d = _docs(spark)
    small = minhash_lsh_pairs(d, "text", "doc_id", threshold=0.9)
    big = minhash_lsh_pairs(d, "text", "doc_id", threshold=0.9, broadcast_gate_bytes=0)
    assert "strategy=broadcast" in _optimized(small)  # sf0.001 clears the gate
    assert "strategy=broadcast" not in _optimized(big)  # large-corpus plan: no pin
    s = sorted((r.id_a, r.id_b, r.jaccard) for r in small.collect())
    b = sorted((r.id_a, r.id_b, r.jaccard) for r in big.collect())
    assert s == b and len(s) > 0


def test_minhash_hot_band_fragment_split_same_result(spark):
    """Forcing the skew path (tiny hot_band_cap splits every sizeable
    band bucket into fragment cells) must yield exactly the plain plan's
    pairs — the triangle decomposition covers each unordered pair once."""
    d = _docs(spark)
    plain = minhash_lsh_pairs(d, "text", "doc_id", threshold=0.9)
    split = minhash_lsh_pairs(d, "text", "doc_id", threshold=0.9, hot_band_cap=5)
    p = sorted((r.id_a, r.id_b, r.jaccard) for r in plain.collect())
    s = sorted((r.id_a, r.id_b, r.jaccard) for r in split.collect())
    assert p == s and len(p) > 0


def test_simhash_hot_chunk_fragment_split_same_result(spark):
    """The SimHash chunk join blocks on a SMALL key space (4x256 buckets
    at 32 bits) — forcing the hot-bucket path (tiny cap) must yield
    exactly the plain plan's pairs via the shared triangle split, with
    the carried signatures following the canonical id order."""
    d = _docs(spark)
    plain = simhash_pairs(d, "text", "doc_id", max_hamming=3)
    split = simhash_pairs(d, "text", "doc_id", max_hamming=3, hot_chunk_cap=5)
    p = sorted((r.id_a, r.id_b, r.hamming) for r in plain.collect())
    s = sorted((r.id_a, r.id_b, r.hamming) for r in split.collect())
    assert p == s and len(p) > 0


def test_ngram_large_corpus_plan_unhinted_same_result(spark):
    d = _docs(spark)
    small = ngram_jaccard_pairs(d, "text", "doc_id", "lang", threshold=0.35)
    big = ngram_jaccard_pairs(
        d, "text", "doc_id", "lang", threshold=0.35, broadcast_gate_bytes=0
    )
    assert "strategy=broadcast" not in _optimized(big)
    s = sorted((r.id_a, r.id_b, r.jaccard) for r in small.collect())
    b = sorted((r.id_a, r.id_b, r.jaccard) for r in big.collect())
    assert s == b and len(s) > 0


def test_streaming_snapshot_merge_broadcast_is_gated(spark, monkeypatch):
    """The batch-touched-keys anti-join in the streaming operators must not
    PIN a broadcast when the batch fails the size gate (first batch of a
    backfill / snapshot replay is corpus-sized). Past the gate the merge
    plan carries no broadcast hint; results are unchanged."""
    from dozer_spark.operators import hints
    from dozer_spark.streaming.stateful import RetractingAggregation

    def run(gate_bytes):
        ragg = RetractingAggregation(
            spark, pk=["id"], group_by=["grp"],
            aggs=[F.sum("amount").alias("s")],
        )
        plans = {}
        orig = ragg._ckpt

        def capture(name, df):
            plans[name] = _optimized(df)
            return orig(name, df)

        ragg._ckpt = capture
        cl = lambda rows: spark.createDataFrame(
            rows, "__op string, __txid long, __seq long, id long, grp string, amount double"
        )
        ragg.process_batch(cl([("I", 1, 1, 1, "a", 5.0), ("I", 1, 2, 2, "b", 7.0)]))
        monkeypatch.setattr(hints, "BROADCAST_GATE_BYTES", gate_bytes)
        out = ragg.process_batch(
            cl([("U", 2, 1, 1, "a", 9.0), ("I", 2, 2, 3, "a", 1.0)])
        )
        rows = sorted((r["__op"], r["grp"], r["s"]) for r in out.collect())
        return plans["snapshot"], rows

    plan_small, rows_small = run(256 << 20)  # small batch clears the gate
    assert "strategy=broadcast" in plan_small
    plan_big, rows_big = run(1)  # "corpus-sized" batch: estimate exceeds gate
    assert "strategy=broadcast" not in plan_big
    assert rows_small == rows_big and len(rows_small) > 0


def _capture_keys_join(monkeypatch, module, attr="keys_join"):
    """Wrap a module's keys_join binding so every call records the
    optimized plan of its result."""
    from dozer_spark.streaming import changelog as cl_mod

    plans = []
    orig = cl_mod.keys_join

    def capture(df, keys, how, gate_bytes=None):
        out = orig(df, keys, how, gate_bytes)
        plans.append(_optimized(out))
        return out

    monkeypatch.setattr(module, attr, capture)
    return plans


def test_dirty_key_semi_join_broadcast_is_gated_aggregation(spark, monkeypatch):
    """The dirty-key semi/anti joins in RetractingAggregation must pin a
    broadcast only under the size gate: a corpus-sized backfill batch
    (simulated by a 1-byte gate) must leave every keys_join plan
    unhinted, with identical results."""
    from dozer_spark.operators import hints
    from dozer_spark.streaming import stateful as st

    def run(gate_bytes):
        monkeypatch.setattr(hints, "BROADCAST_GATE_BYTES", gate_bytes)
        plans = _capture_keys_join(monkeypatch, st)
        ragg = st.RetractingAggregation(
            spark, pk=["id"], group_by=["grp"],
            aggs=[F.sum("amount").alias("s")],
        )
        cl = lambda rows: spark.createDataFrame(
            rows, "__op string, __txid long, __seq long, id long, grp string, amount double"
        )
        ragg.process_batch(cl([("I", 1, 1, 1, "a", 5.0), ("I", 1, 2, 2, "b", 7.0)]))
        out = ragg.process_batch(
            cl([("U", 2, 1, 1, "a", 9.0), ("I", 2, 2, 3, "a", 1.0)])
        )
        rows = sorted((r["__op"], r["grp"], r["s"]) for r in out.collect())
        return plans, rows

    plans_small, rows_small = run(256 << 20)
    assert any("strategy=broadcast" in p for p in plans_small)
    plans_big, rows_big = run(1)
    assert all("strategy=broadcast" not in p for p in plans_big)
    assert rows_small == rows_big and len(rows_small) > 0


def test_dirty_key_broadcast_gates_on_real_bytes_not_state_estimate(
        spark, monkeypatch):
    """A steady batch's dirty-key set is a few keys, but it is probed
    from the snapshot through a semi-join, which Catalyst estimates at
    the snapshot's size. With the gate between the two, every dirty-key
    join must still broadcast: the key set has to report its real bytes,
    or a large state loses the broadcast and shuffles every epoch."""
    from dozer_spark.operators import hints
    from dozer_spark.streaming import stateful as st

    gate = 64 << 10
    ragg = st.RetractingAggregation(
        spark, pk=["id"], group_by=["grp"], aggs=[F.sum("amount").alias("s")],
    )
    ragg.process_batch(spark.range(20000).select(
        F.lit("I").alias("__op"), F.lit(1).cast("long").alias("__txid"),
        F.col("id").alias("__seq"), F.col("id"),
        (F.col("id") % 4).cast("string").alias("grp"),
        F.col("id").cast("double").alias("amount"),
    ))
    assert estimated_plan_bytes(ragg._snapshot.select("grp")) > gate

    monkeypatch.setattr(hints, "BROADCAST_GATE_BYTES", gate)
    plans = _capture_keys_join(monkeypatch, st)
    out = ragg.process_batch(spark.createDataFrame(
        [("U", 2, 1, 1, "1", 9.0), ("D", 2, 2, 6, "2", 6.0)],
        "__op string, __txid long, __seq long, id long, grp string, amount double",
    ))
    assert len(plans) == 2
    assert all("strategy=broadcast" in p for p in plans)
    assert sorted((r["__op"], r["grp"], r["s"]) for r in out.collect()) == [
        ("U", "1", sum(range(1, 20000, 4)) - 1 + 9.0),
        ("U", "2", sum(range(2, 20000, 4)) - 6.0),
    ]


def test_dirty_key_semi_join_broadcast_is_gated_join(spark, monkeypatch):
    from dozer_spark.operators import hints
    from dozer_spark.streaming import join as sj

    def run(gate_bytes):
        monkeypatch.setattr(hints, "BROADCAST_GATE_BYTES", gate_bytes)
        plans = _capture_keys_join(monkeypatch, sj, "_keys_join")
        j = sj.RetractingJoin(
            spark, left_pk=["lid"], right_pk=["rid"], on=[("k", "k2")],
        )
        lcl = lambda rows: spark.createDataFrame(
            rows, "__op string, __txid long, __seq long, lid long, k string, lv double"
        )
        rcl = lambda rows: spark.createDataFrame(
            rows, "__op string, __txid long, __seq long, rid long, k2 string, rv double"
        )
        j.process_batch(
            lcl([("I", 1, 1, 1, "a", 1.0), ("I", 1, 2, 2, "b", 2.0)]),
            rcl([("I", 1, 1, 10, "a", 9.0)]),
        )
        out = j.process_batch(
            lcl([("I", 2, 1, 3, "a", 3.0)]),
            rcl([("I", 2, 1, 11, "b", 8.0)]),
        )
        rows = sorted(
            (r["__op"], r["lid"], r["rid"]) for r in out.collect()
        )
        return plans, rows

    plans_small, rows_small = run(256 << 20)
    assert any("strategy=broadcast" in p for p in plans_small)
    plans_big, rows_big = run(1)
    assert all("strategy=broadcast" not in p for p in plans_big)
    assert rows_small == rows_big and len(rows_small) > 0


def test_dirty_key_semi_join_broadcast_is_gated_union(spark, monkeypatch):
    from dozer_spark.operators import hints
    from dozer_spark.streaming import setops as so

    def run(gate_bytes):
        monkeypatch.setattr(hints, "BROADCAST_GATE_BYTES", gate_bytes)
        plans = _capture_keys_join(monkeypatch, so)
        u = so.RetractingUnion(spark, pks=[["a_id"], ["b_id"]], value_cols=["v"])
        acl = lambda rows: spark.createDataFrame(
            rows, "__op string, __txid long, __seq long, a_id long, v string"
        )
        bcl = lambda rows: spark.createDataFrame(
            rows, "__op string, __txid long, __seq long, b_id long, v string"
        )
        u.process_batch([acl([("I", 1, 1, 1, "x")]), bcl([("I", 1, 1, 1, "y")])])
        # batch 2 keeps new_present non-empty: a 0-byte (empty) relation
        # legitimately clears ANY gate — broadcasting nothing is safe —
        # which would defeat the tiny-gate simulation below
        out = u.process_batch([acl([("D", 2, 1, 1, "x"), ("I", 2, 2, 2, "z")]), None])
        rows = sorted((r["__op"], r["v"]) for r in out.collect())
        return plans, rows

    plans_small, rows_small = run(256 << 20)
    assert any("strategy=broadcast" in p for p in plans_small)
    plans_big, rows_big = run(1)
    assert all("strategy=broadcast" not in p for p in plans_big)
    assert rows_small == rows_big and len(rows_small) > 0


def test_batch_ttl_is_lazy_and_correct(spark):
    ev = Catalog.from_testdata(spark, SF).df("events")
    sc = spark.sparkContext
    group = "ttl-lazy-check"
    sc.setJobGroup(group, "building a TTL plan must run no job")
    try:
        out = ttl(ev, "ts", "7 DAYS")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    # same rows as the eager reference computation
    ref_ts = ev.agg(F.max("ts")).collect()[0][0]
    eager = ttl(ev, "ts", "7 DAYS", reference_ts=ref_ts)
    assert out.count() == eager.count()
    assert out.count() > 0


def test_batch_ttl_all_null_ts_keeps_rows(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None)], "id long, ts timestamp"
    )
    assert ttl(df, "ts", "1 HOUR").count() == 2


def test_ensure_min_partitions_gates_on_file_backed(spark, tmp_path):
    """Both rebalance triggers are file-scan-only: an underpartitioned
    in-memory frame (a streaming micro-batch shape) keeps its
    partitioning — no per-epoch shuffle — while an underpartitioned
    file scan is spread across the slots."""
    from dozer_spark.operators.hints import ensure_min_partitions

    target = spark.sparkContext.defaultParallelism
    mem = spark.createDataFrame(
        [(i, f"t{i}") for i in range(50)], "id long, text string"
    ).coalesce(1)
    assert ensure_min_partitions(mem).rdd.getNumPartitions() == 1

    p = str(tmp_path / "one.parquet")
    mem.write.parquet(p)
    filed = spark.read.parquet(p)
    if filed.rdd.getNumPartitions() < max(2, target // 2):
        assert (ensure_min_partitions(filed).rdd.getNumPartitions()
                >= max(2, target // 2))


def test_ensure_min_partitions_in_memory_escape_hatches(spark, monkeypatch):
    """The in-memory skip has two escape hatches for the case it would
    hurt (a LARGE frame squeezed to one partition feeding heavy ops):
    force=True applies the underpartition trigger regardless of
    backing, and a frame whose KNOWN Catalyst estimate clears
    IN_MEMORY_REBALANCE_BYTES is rebalanced without the flag."""
    from dozer_spark.operators import hints
    from dozer_spark.operators.hints import ensure_min_partitions

    target = spark.sparkContext.defaultParallelism
    mem = spark.createDataFrame(
        [(i, f"t{i}") for i in range(50)], "id long, text string"
    ).coalesce(1)
    # default: skipped (small, in-memory)
    assert ensure_min_partitions(mem).rdd.getNumPartitions() == 1
    # force: batch caller opts in to the rebalance
    assert (ensure_min_partitions(mem, force=True)
            .rdd.getNumPartitions() == target)
    # size exemption: a KNOWN estimate above the bar rebalances. Note
    # createDataFrame plans are LogicalRDDs (size unknown -> Long.Max ->
    # correctly skipped, asserted above via `mem`); range-derived plans
    # carry real estimates.
    known = spark.range(50).selectExpr(
        "id", "repeat('x', 100) as text").coalesce(1)
    assert ensure_min_partitions(known).rdd.getNumPartitions() == 1
    monkeypatch.setattr(hints, "IN_MEMORY_REBALANCE_BYTES", 1)
    assert (ensure_min_partitions(known)
            .rdd.getNumPartitions() == target)
