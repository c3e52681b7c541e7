"""Incremental MinHash dedup: batch-vs-corpus pairs, exactly-once
emission, equality with the one-shot batch pair set, durable resume."""

from __future__ import annotations

import pytest
from dozer_spark.ops.dedup import minhash_lsh_pairs
from dozer_spark.streaming.dedup import StreamingMinHashDedup

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "completely different content about spark engines"),
    (4, "the quick brown fox jumps over the lazy dog"),  # dup of 1
    (5, "totally unrelated text with unique words here"),
    (6, "the quick brown fox jumps over the lazy dog today"),
]


def _pairs(df):
    return sorted((r.id_a, r.id_b, r.jaccard) for r in df.collect())


def test_streamed_pairs_equal_batch_pairs(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    want = _pairs(minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.7))
    assert want, "fixture must produce at least one pair"

    smh = StreamingMinHashDedup(spark, "text", "doc_id", threshold=0.7)
    got = []
    for k in (0, 1, 2):
        out = smh.process_batch(
            docs.filter((docs.doc_id % 3) == k)
        )
        got.extend(_pairs(out))
    assert sorted(got) == want
    # exactly-once: no pair may appear twice across batches
    assert len(got) == len({(a, b) for a, b, _ in got})


@pytest.mark.slow
def test_cross_batch_pair_found_on_later_arrival(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    smh = StreamingMinHashDedup(spark, "text", "doc_id", threshold=0.9)
    first = smh.process_batch(docs.filter(docs.doc_id == 1))
    assert first.count() == 0
    second = smh.process_batch(docs.filter(docs.doc_id == 4))
    p = _pairs(second)
    assert p and p[0][:2] == (1, 4) and p[0][2] == 1.0


@pytest.mark.slow
def test_durable_resume_continues_dedup(spark, tmp_path):
    sd = str(tmp_path / "smh")
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    s1 = StreamingMinHashDedup(spark, "text", "doc_id", threshold=0.9,
                               state_dir=sd)
    s1.process_batch(docs.filter(docs.doc_id == 1))
    # crash: new instance resumes from the committed band/token state
    s2 = StreamingMinHashDedup(spark, "text", "doc_id", threshold=0.9,
                               state_dir=sd)
    out = s2.process_batch(docs.filter(docs.doc_id == 4))
    p = _pairs(out)
    assert p and p[0][:2] == (1, 4)


def test_streamed_simhash_equals_batch(spark):
    from dozer_spark.ops.dedup import simhash_pairs
    from dozer_spark.streaming.dedup import StreamingSimHashDedup

    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    want = sorted((r.id_a, r.id_b, r.hamming) for r in
                  simhash_pairs(docs, "text", "doc_id").collect())
    assert want, "fixture must produce at least one simhash pair"
    ssh = StreamingSimHashDedup(spark, "text", "doc_id")
    got = []
    for k in (0, 1, 2):
        got.extend(
            (r.id_a, r.id_b, r.hamming)
            for r in ssh.process_batch(
                docs.filter((docs.doc_id % 3) == k)).collect()
        )
    assert sorted(got) == want
    assert len(got) == len({(a, b) for a, b, _ in got})


@pytest.mark.slow
def test_simhash_durable_resume(spark, tmp_path):
    from dozer_spark.streaming.dedup import StreamingSimHashDedup

    sd = str(tmp_path / "ssh")
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    s1 = StreamingSimHashDedup(spark, "text", "doc_id", state_dir=sd)
    assert s1.process_batch(docs.filter(docs.doc_id == 1)).count() == 0
    s2 = StreamingSimHashDedup(spark, "text", "doc_id", state_dir=sd)
    out = [(r.id_a, r.id_b, r.hamming) for r in
           s2.process_batch(docs.filter(docs.doc_id == 4)).collect()]
    assert out and out[0][:2] == (1, 4) and out[0][2] == 0


@pytest.mark.slow
def test_streaming_ann_index_equals_batch_and_resumes(spark, tmp_path):
    import random

    from dozer_spark.ops.similarity import StreamingAnnIndex, lsh_ann_topk

    rnd = random.Random(5)
    vecs = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter(df.vec_id % 20 == 0)
    want = sorted(map(tuple, lsh_ann_topk(
        df, q, "embedding", "vec_id", k=3, n_planes=4, dim=16).collect()))

    sd = str(tmp_path / "ann_idx")
    idx = StreamingAnnIndex(spark, "embedding", "vec_id",
                            n_planes=4, dim=16, state_dir=sd)
    idx.add_batch(df.filter(df.vec_id % 2 == 0))
    # crash: a fresh instance resumes the committed index
    idx2 = StreamingAnnIndex(spark, "embedding", "vec_id",
                             n_planes=4, dim=16, state_dir=sd)
    idx2.add_batch(df.filter(df.vec_id % 2 == 1))
    got = sorted(map(tuple, idx2.topk(q, k=3).collect()))
    assert got == want
    # upsert semantics: re-adding a vector with new values moves it
    moved = spark.createDataFrame(
        [(0, [1.0] * 16)], "vec_id long, embedding array<float>"
    )
    idx2.add_batch(moved)
    live = idx2._tx.read_live()
    assert live.filter("neighbor_id = 0").count() == 1
    assert live.count() == 60  # replaced (old bucket tombstoned), not duplicated


def test_streaming_clusters_merge_and_resume(spark, tmp_path):
    from dozer_spark.streaming.dedup import StreamingClusters

    def pairs(rows):
        return spark.createDataFrame(rows, "id_a long, id_b long")

    sd = str(tmp_path / "cc")
    cc = StreamingClusters(spark, state_dir=sd)
    # batch 1: two separate components {1,2} and {5,6}
    cc.process_batch(pairs([(1, 2), (5, 6)]))
    got = {r.id: r.cluster_id for r in cc.current().collect()}
    assert got == {1: 1, 2: 1, 5: 5, 6: 5}
    # batch 2: an edge MERGES the two components through non-minimal
    # members — every member of both must relabel to the global min
    cc.process_batch(pairs([(2, 6)]))
    got = {r.id: r.cluster_id for r in cc.current().collect()}
    assert got == {1: 1, 2: 1, 5: 1, 6: 1}
    # crash/resume: a new instance continues from the committed labels
    cc2 = StreamingClusters(spark, state_dir=sd)
    # batch 3: attach a new smaller id -> the whole component relabels
    cc2.process_batch(pairs([(0, 5)]))
    got = {r.id: r.cluster_id for r in cc2.current().collect()}
    assert got == {0: 0, 1: 0, 2: 0, 5: 0, 6: 0}
    # untouched components stay untouched
    cc2.process_batch(pairs([(100, 101)]))
    got = {r.id: r.cluster_id for r in cc2.current().collect()}
    assert got[1] == 0 and got[100] == 100 and got[101] == 100


def _near_dup_stream(spark, kind: str, **kw):
    """One of the three near-dup streams over DOCS' (doc_id, text)."""
    from dozer_spark.streaming.dedup import StreamingSimHashDedup
    from dozer_spark.streaming.fuzzy import StreamingFuzzyIndex

    if kind == "minhash":
        return StreamingMinHashDedup(spark, "text", "doc_id", **kw)
    if kind == "simhash":
        return StreamingSimHashDedup(spark, "text", "doc_id", **kw)
    return StreamingFuzzyIndex(spark, "text", "doc_id", **kw)


@pytest.mark.slow
@pytest.mark.parametrize("durable", [False, True],
                         ids=["ephemeral", "durable"])
@pytest.mark.parametrize("kind", ["minhash", "simhash", "fuzzy"])
def test_redelivered_docs_do_not_duplicate_pairs(spark, tmp_path, kind,
                                                 durable):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    kw = {"state_dir": str(tmp_path / kind)} if durable else {}
    s = _near_dup_stream(spark, kind, **kw)
    first = s.process_batch(docs).count()
    assert first > 0
    # at-least-once re-delivery of the WHOLE corpus: no new pairs,
    # and the state holds one row set per doc (no multiplication)
    assert s.process_batch(docs).count() == 0
    # a batch containing the same doc twice reduces to one
    dup_batch = docs.filter(docs.doc_id == 1).unionByName(
        docs.filter(docs.doc_id == 1))
    assert s.process_batch(dup_batch).count() == 0


# (doc_id, text, minute): four epochs of two docs each, near-identical
# texts so co-window pairs verify under every stream
SPY_DOCS = [
    (i, "the quick brown fox jumps over the lazy dog", m)
    for i, m in zip(range(1, 9), (0, 5, 20, 25, 50, 55, 60, 65))
]


@pytest.mark.slow
@pytest.mark.parametrize("kind", ["minhash", "simhash", "fuzzy"])
def test_probe_path_never_reads_full_key_state(spark, tmp_path, kind,
                                               monkeypatch):
    """Durable bounded-recall streams read the probe-key state ONLY
    bucket-pruned, and only in the buckets the batch's keys hash to; the
    one full read (`read_live`) is the amortized TTL prune's, once per
    prune epoch (prune_every=2: the 2nd and 4th epochs)."""
    from pyspark.sql import functions as F

    from dozer_spark.ops.dedup import (
        minhash_band_table,
        minhash_signatures,
        simhash,
        simhash_chunk_table,
    )
    from dozer_spark.ops.fuzzy import deletion_variants

    docs = spark.createDataFrame(
        SPY_DOCS, ["doc_id", "text", "minute"]
    ).withColumn(
        "ts",
        F.expr("TIMESTAMP '2024-01-01 00:00:00' "
               "+ make_interval(0, 0, 0, 0, 0, minute, 0)"),
    ).drop("minute")
    s = _near_dup_stream(spark, kind, state_dir=str(tmp_path / kind),
                         ts_col="ts", retain="30 minutes", prune_every=2)
    tx = {"minhash": "_bandtx", "simhash": "_chunktx", "fuzzy": "_tx"}[kind]
    tx = getattr(s, tx)

    def batch_keys(batch):
        if kind == "minhash":
            sigs = minhash_signatures(batch, "text", "doc_id", s.n_hashes)
            return minhash_band_table(sigs, "doc_id", s.n_hashes,
                                      s.n_bands).select("band", "band_key")
        if kind == "simhash":
            sigs = simhash(batch, "text", "doc_id", s.n_bits)
            return simhash_chunk_table(
                sigs, "doc_id", s.n_bits, s.max_hamming
            ).select("chunk", "chunk_val")
        return batch.select(
            F.explode(deletion_variants(F.col("text"))).alias("__k"))

    calls = {"live": 0, "pruned": []}
    read_live, read_live_pruned = tx.read_live, tx.read_live_pruned

    def spy_live():
        calls["live"] += 1
        return read_live()

    def spy_pruned(bucket_ids):
        calls["pruned"].append(list(bucket_ids))
        return read_live_pruned(bucket_ids)

    monkeypatch.setattr(tx, "read_live", spy_live)
    monkeypatch.setattr(tx, "read_live_pruned", spy_pruned)
    for epoch in range(4):
        calls["live"], calls["pruned"] = 0, []
        batch = docs.filter(F.col("doc_id").isin(2 * epoch + 1, 2 * epoch + 2))
        s.process_batch(batch).collect()
        prune_epoch = epoch % 2 == 1
        assert calls["live"] == (1 if prune_epoch else 0), epoch
        if epoch == 0:
            assert calls["pruned"] == []  # nothing committed to probe yet
            continue
        assert len(calls["pruned"]) == 1, epoch
        touched = set(tx.touched_bucket_ids(batch_keys(batch)))
        assert set(calls["pruned"][0]) <= touched, epoch


def test_ann_duplicate_ids_within_batch_reduce(spark):
    from dozer_spark.ops.similarity import StreamingAnnIndex

    idx = StreamingAnnIndex(spark, "embedding", "vec_id", n_planes=2, dim=4)
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0]),
         (2, [0.9, 0.1, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    idx.add_batch(df)
    assert idx._corpus.filter("neighbor_id = 1").count() == 1
    q = spark.createDataFrame([(2, [0.9, 0.1, 0.0, 0.0])],
                              "vec_id long, embedding array<float>")
    ranks = [r.neighbor_id for r in idx.topk(q, k=3).collect()]
    assert ranks.count(1) == 1  # no neighbor at two ranks


def test_streaming_clusters_fuzz_vs_union_find(spark):
    # randomized edge batches vs a pure-Python union-find reference:
    # after every batch the full label table must equal the components
    # of all edges seen so far (labels = component min id)
    import random

    from dozer_spark.streaming.dedup import StreamingClusters

    rnd = random.Random(42)
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    cc = StreamingClusters(spark)
    for _ in range(4):
        batch = [(rnd.randrange(30), rnd.randrange(30)) for _ in range(12)]
        batch = [(a, b) for a, b in batch if a != b]
        for a, b in batch:
            union(a, b)
        cc.process_batch(
            spark.createDataFrame(batch, "id_a long, id_b long")
        )
        got = {r.id: r.cluster_id for r in cc.current().collect()}
        # reference: min id per component (roots are already minimal,
        # but re-derive per node for safety)
        comp: dict[int, int] = {}
        for n in parent:
            r = find(n)
            comp[r] = min(comp.get(r, n), n)
        want = {n: comp[find(n)] for n in parent}
        assert got == want


TTL_DOCS = [
    # (doc_id, text, minute) — near-identical texts so every co-window
    # pair verifies; minutes spread so the 30-minute window evicts
    (1, "the quick brown fox jumps over the lazy dog", 0),
    (2, "the quick brown fox jumps over the lazy dog", 5),
    (3, "the quick brown fox jumps over the lazy dog", 50),
    (4, "the quick brown fox jumps over the lazy dog", 55),
    (5, "the quick brown fox jumps over the lazy dog", 70),
]


def _ttl_docs(spark):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        TTL_DOCS, ["doc_id", "text", "minute"]
    ).withColumn(
        "ts",
        F.expr("TIMESTAMP '2024-01-01 00:00:00' "
               "+ make_interval(0, 0, 0, 0, 0, minute, 0)"),
    ).drop("minute")


@pytest.mark.slow
def test_bounded_recall_window_semantics(spark):
    """Docs 1,2 (min 0,5) leave the 30-min window once 3,4 (min 50,55)
    arrive: (1,2) and (3,4) pair, cross-window pairs do not; doc 5
    (min 70) still sees 3,4."""
    from pyspark.sql import functions as F

    docs = _ttl_docs(spark)
    sd = StreamingMinHashDedup(spark, "text", "doc_id", threshold=0.9,
                               ts_col="ts", retain="30 minutes",
                               prune_every=1)
    got = []
    for ids in ([1, 2], [3, 4], [5]):
        out = sd.process_batch(docs.filter(F.col("doc_id").isin(ids)))
        got.extend((r.id_a, r.id_b) for r in out.collect())
    assert sorted(got) == [(1, 2), (3, 4), (3, 5), (4, 5)]
    # physical eviction: state holds only in-window docs (wm=70, cutoff=40)
    live = {r.doc_id for r in sd._toks.select("doc_id").distinct().collect()}
    assert live == {3, 4, 5}


@pytest.mark.slow
def test_bounded_recall_durable_crash_resume_evicts(spark, tmp_path):
    """Durable TTL state: crash between batches, resume, window
    semantics and physical eviction survive the restart."""
    from pyspark.sql import functions as F

    docs = _ttl_docs(spark)
    sd_dir = str(tmp_path / "ttl")

    def mk():
        return StreamingMinHashDedup(
            spark, "text", "doc_id", threshold=0.9, ts_col="ts",
            retain="30 minutes", prune_every=1, state_dir=sd_dir)

    got = []
    s = mk()
    got.extend((r.id_a, r.id_b) for r in
               s.process_batch(docs.filter(F.col("doc_id").isin([1, 2]))).collect())
    s = mk()  # crash + resume (watermark restored from the store)
    got.extend((r.id_a, r.id_b) for r in
               s.process_batch(docs.filter(F.col("doc_id").isin([3, 4]))).collect())
    s = mk()  # crash + resume again
    got.extend((r.id_a, r.id_b) for r in
               s.process_batch(docs.filter(F.col("doc_id") == 5)).collect())
    assert sorted(got) == [(1, 2), (3, 4), (3, 5), (4, 5)]
    live = {r.doc_id for r in s._toks.select("doc_id").distinct().collect()}
    assert live == {3, 4, 5}
    # the band state is evicted too (not just filtered at probe time)
    band_live = {r.doc_id for r in
                 s._bandtx.read_live().select("doc_id")
                 .distinct().collect()}
    assert band_live == {3, 4, 5}


@pytest.mark.slow
def test_simhash_bounded_recall_window_and_durable_eviction(spark, tmp_path):
    """SimHash TTL mode shares the window/eviction contract: same
    fixture as the MinHash TTL tests, crash-resume between batches."""
    from pyspark.sql import functions as F

    from dozer_spark.streaming.dedup import StreamingSimHashDedup

    docs = _ttl_docs(spark)
    sd_dir = str(tmp_path / "sttl")

    def mk():
        return StreamingSimHashDedup(
            spark, "text", "doc_id", ts_col="ts",
            retain="30 minutes", prune_every=1, state_dir=sd_dir)

    got = []
    for ids in ([1, 2], [3, 4], [5]):
        s = mk()  # new instance every batch = crash + resume each time
        out = s.process_batch(docs.filter(F.col("doc_id").isin(ids)))
        got.extend((r.id_a, r.id_b) for r in out.collect())
    assert sorted(got) == [(1, 2), (3, 4), (3, 5), (4, 5)]
    live = {r.doc_id for r in
            s._chunktx.read_live().select("doc_id").distinct().collect()}
    assert live == {3, 4, 5}


def test_resume_with_changed_geometry_fails_loudly(spark, tmp_path):
    """The durable-state geometry guard (ADVICE r6/r7 medium): band keys
    are functions of (n_hashes, n_bands); resuming with a different
    threshold derives a different geometry and the new-vs-old band join
    would silently match nothing. Must raise instead."""
    import pytest

    sd = str(tmp_path / "smh")
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    s1 = StreamingMinHashDedup(spark, "text", "doc_id", threshold=0.9,
                               state_dir=sd)
    s1.process_batch(docs.filter(docs.doc_id == 1))
    # threshold 0.7 derives 16/4 vs 0.9's 52/4 (minhash_geometry)
    with pytest.raises(ValueError, match="geometry"):
        StreamingMinHashDedup(spark, "text", "doc_id", threshold=0.7,
                              state_dir=sd)
    # the original geometry still resumes fine after the rejected attempt
    s2 = StreamingMinHashDedup(spark, "text", "doc_id", threshold=0.9,
                               state_dir=sd)
    p = _pairs(s2.process_batch(docs.filter(docs.doc_id == 4)))
    assert p and p[0][:2] == (1, 4)


def test_simhash_resume_with_changed_geometry_fails_loudly(spark, tmp_path):
    import pytest

    from dozer_spark.streaming.dedup import StreamingSimHashDedup

    sd = str(tmp_path / "ssh")
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    s1 = StreamingSimHashDedup(spark, "text", "doc_id", state_dir=sd)
    s1.process_batch(docs.filter(docs.doc_id == 1))
    with pytest.raises(ValueError, match="geometry"):
        StreamingSimHashDedup(spark, "text", "doc_id", max_hamming=5,
                              state_dir=sd)
    with pytest.raises(ValueError, match="geometry"):
        StreamingSimHashDedup(spark, "text", "doc_id", n_bits=48,
                              state_dir=sd)


def test_ann_index_resume_with_changed_geometry_fails_loudly(spark, tmp_path):
    import pytest

    from dozer_spark.ops.similarity import StreamingAnnIndex

    sd = str(tmp_path / "ann")
    vecs = spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.9] * 8)], "id long, v array<double>")
    ix = StreamingAnnIndex(spark, "v", "id", n_planes=4, dim=8,
                           state_dir=sd)
    ix.add_batch(vecs)
    with pytest.raises(ValueError, match="geometry"):
        StreamingAnnIndex(spark, "v", "id", n_planes=8, dim=8,
                          state_dir=sd)


def test_streaming_ann_topk_fast_matches_fold_probe(spark):
    """topk_fast (BLAS serving probe) must agree with the oracle-gated
    fold probe on the same index state (last-ulp rank flips allowed),
    including under a forced hot-bucket split."""
    import random

    from dozer_spark.ops.similarity import StreamingAnnIndex

    rnd = random.Random(7)
    vecs = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter(df.vec_id % 10 == 0)
    idx = StreamingAnnIndex(spark, "embedding", "vec_id",
                            n_planes=4, dim=16)
    idx.add_batch(df)
    fold = idx.topk(q, k=3).collect()
    fast = idx.topk_fast(q, k=3).collect()
    split = idx.topk_fast(q, k=3, hot_bucket_cap=4).collect()
    fo = {(r.query_id, r.neighbor_id) for r in fold}
    fa = {(r.query_id, r.neighbor_id) for r in fast}
    assert len(fo & fa) >= len(fo) - 1
    assert sorted(map(tuple, fast)) == sorted(map(tuple, split))
    fm = {(r.query_id, r.neighbor_id): r.cosine for r in fold}
    for r in fast:
        if (r.query_id, r.neighbor_id) in fm:
            assert abs(fm[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-5


def test_ann_resent_probe_reads_only_matched_id_buckets(spark, tmp_path):
    """ADVICE r11: durable ANN ingest must stay O(batch) per epoch —
    the resent-id probe runs against the slim (id -> bucket) state
    pruned to the batch ids' hash buckets, never a full scan of the
    wide vector state. Physical pin: every base file the pruned probe
    reads lives under a requested id-bucket dir, and the wide state's
    files are untouched by the probe plan."""
    import random
    import re

    from dozer_spark.ops.similarity import StreamingAnnIndex

    rnd = random.Random(7)
    vecs = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    sd = str(tmp_path / "ann_idx_slim")
    idx = StreamingAnnIndex(spark, "embedding", "vec_id",
                            n_planes=4, dim=16, state_dir=sd)
    idx.add_batch(df)
    # compact so the slim state is base-only (dir-prunable)
    idx._ids_tx._compact(99, "t")
    batch = df.filter(df.vec_id.isin(3, 17)).select(
        df.vec_id.alias("neighbor_id"))
    bids = idx._ids_tx.touched_bucket_ids(batch)
    assert 0 < len(bids) <= 2
    pruned = idx._ids_tx.read_live_pruned(bids)
    files = pruned.inputFiles()
    assert files
    for f in files:
        m = re.search(r"__b=(\d+)", f)
        assert m and int(m.group(1)) in bids
        assert "ann_ids_tx" in f  # slim state only, never the wide state
    # and the slim state answers the membership question correctly
    seen = {r["neighbor_id"] for r in pruned.collect()}
    assert {3, 17} <= seen


def test_ann_pre_slim_id_layout_fails_loudly(spark, tmp_path):
    """A durable state dir from before the slim id-table layout
    (epochs committed, but no per-id meta under the slim key) must
    refuse to resume with the rebuild instruction instead of silently
    mis-probing."""
    import pytest

    from dozer_spark.ops.similarity import _open_ids_state
    from dozer_spark.streaming.state import StateStore

    sd = str(tmp_path / "ann_legacy")
    store = StateStore(spark, sd)
    store.stage_meta("ann_txv", {"v": 0, "pending": [1]})  # wide meta only
    store.commit()
    assert store.epoch > 0 and store.load_meta("ann_ids_txv") is None
    with pytest.raises(ValueError, match="slim id-table layout"):
        _open_ids_state(spark, store, sd, "ann_ids", "ann_ids_txv",
                        "StreamingAnnIndex")
