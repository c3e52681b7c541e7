"""Focused guards for the round-13 optimization internals changes.

1. The batch minhash/simhash pair searches dropped the pair-level
   DISTINCT (distinct=False + first-matching-band/chunk filter): their
   outputs must stay row-identical to the DISTINCT forms they replaced.
2. The slim persisted signature table must SURVIVE being referenced by
   the spark.sql templates (the dropTempView-uncache landmine): the
   final pair plan must still contain the InMemoryRelation, i.e. the
   cache was neither dropped nor bypassed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    from dozer_spark.registry import Catalog

    d = Catalog.from_testdata(
        spark, "/root/testdata/sf0.001", lazy=True
    ).df("documents")
    d = d.persist()
    d.count()
    yield d
    d.unpersist()


# 4096 never fragments a bucket of the sf0.001 documents; 2 splits
# every bucket of 3+ rows into triangle fragments (the hot-bucket regime)
HOT_CAPS = [4096, 2]


@pytest.mark.parametrize("hot_cap", HOT_CAPS)
def test_minhash_pairs_first_band_filter_equals_distinct_form(spark, docs,
                                                              hot_cap):
    """minhash_lsh_pairs (distinct=False + first-matching-band filter +
    |AuB| = |A|+|B|-|AnB|) must equal the r12 form: pair-level DISTINCT
    then an array_union-based verify. Same threshold/geometry as the
    declared dedup_minhash_lsh query, at a cap that never fragments a
    bucket and at one that fragments every bucket of 3+ rows."""
    from dozer_spark.ops.dedup import (
        _blocked_self_join_pairs,
        minhash_band_table,
        minhash_geometry,
        minhash_lsh_pairs,
        minhash_signatures,
        minhash_size_pred,
    )

    threshold = 0.9
    got = minhash_lsh_pairs(docs, "text", "doc_id", threshold=threshold,
                            hot_band_cap=hot_cap)

    n_hashes, n_bands = minhash_geometry(threshold, None, None)
    sigs = minhash_signatures(docs, "text", "doc_id", n_hashes).drop("toks")
    bands = minhash_band_table(sigs, "doc_id", n_hashes, n_bands)
    n_hot = (bands.groupBy("band", "band_key").count()
             .filter(F.col("count") > hot_cap).count())
    assert (n_hot > 0) == (hot_cap == 2)  # the regime under test
    cand = _blocked_self_join_pairs(
        bands,
        ["band", "band_key"],
        "doc_id",
        hot_cap=hot_cap,
        extra_pred=minhash_size_pred(threshold),
    )  # distinct=True default: the r12 shape
    side_a = sigs.select(
        F.col("doc_id").alias("id_a"), F.col("toksh").alias("toks_a")
    )
    side_b = sigs.select(
        F.col("doc_id").alias("id_b"), F.col("toksh").alias("toks_b")
    )
    ref = (
        cand.join(side_a, "id_a")
        .join(side_b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
            / F.size(F.array_union("toks_a", "toks_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )

    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
    # one row per pair — the first-band filter really is a dedup
    n = got.count()
    assert got.select("id_a", "id_b").distinct().count() == n


@pytest.mark.parametrize("hot_cap", HOT_CAPS)
def test_simhash_pairs_first_chunk_filter_equals_distinct_form(spark, docs,
                                                               hot_cap):
    """simhash_pairs (distinct=False + first-matching-chunk filter) must
    equal the r12 form (pair-level DISTINCT), row for row, unfragmented
    and fragmented."""
    from dozer_spark.ops.dedup import (
        _blocked_self_join_pairs,
        simhash,
        simhash_chunk_table,
        simhash_pairs,
    )

    max_hamming, n_bits = 3, 60
    got = simhash_pairs(docs, "text", "doc_id", max_hamming, n_bits,
                        hot_chunk_cap=hot_cap)

    sigs = simhash(docs, "text", "doc_id", n_bits)
    chunks = simhash_chunk_table(sigs, "doc_id", n_bits, max_hamming)
    n_hot = (chunks.groupBy("chunk", "chunk_val").count()
             .filter(F.col("count") > hot_cap).count())
    assert (n_hot > 0) == (hot_cap == 2)  # the regime under test
    ref = (
        _blocked_self_join_pairs(
            chunks,
            ["chunk", "chunk_val"],
            "doc_id",
            hot_cap=hot_cap,
            carry=(("sig_a", "sig_b", "simhash"),),
        )  # distinct=True default: the r12 shape
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )

    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
    n = got.count()
    assert got.select("id_a", "id_b").distinct().count() == n


def test_lsh_bucket_sql_equals_column_operator_form(spark):
    """The single-SQL-string lsh_bucket (and the banded variant the
    embedding near-dup path builds from _bucket_sql) must match the
    per-plane Column-operator construction it replaced, row for row."""
    from dozer_spark.ops.similarity import _dot, _hyperplanes, lsh_bucket
    from dozer_spark.registry import Catalog

    e = Catalog.from_testdata(
        spark, "/root/testdata/sf0.001", lazy=True
    ).df("embeddings")
    planes = _hyperplanes(24, 64)

    got = e.select(
        F.col("vec_id"), lsh_bucket("embedding", planes).alias("bucket")
    )

    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        w = F.array(*[F.lit(x) for x in plane])
        bit = (
            F.when(_dot(F.col("embedding"), w) >= 0,
                   F.lit(1 << i).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        bucket = bucket + bit
    ref = e.select(F.col("vec_id"), bucket.alias("bucket"))

    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_embedding_band_projection_equals_column_operator_form(spark):
    """The one-SQL-expression banded bucket projection inside
    embedding_neardup_pairs_lsh must emit the same (id, band, bucket)
    rows as the old per-plane Column loop."""
    from dozer_spark.ops.similarity import _bucket_sql, _dot, _hyperplanes
    from dozer_spark.registry import Catalog

    e = Catalog.from_testdata(
        spark, "/root/testdata/sf0.001", lazy=True
    ).df("embeddings")
    n_bands, band_bits = 8, 5
    planes = _hyperplanes(n_bands * band_bits, 64)
    v = e.select(F.col("vec_id"), F.col("embedding").alias("__v"))

    structs = ", ".join(
        "named_struct('band', {b}, 'bucket', {bucket})".format(
            b=b,
            bucket=_bucket_sql("__v", planes[b * band_bits:(b + 1) * band_bits]),
        )
        for b in range(n_bands)
    )
    got = v.selectExpr("`vec_id`", f"inline(array({structs}))")

    band_structs = []
    for b in range(n_bands):
        acc = F.lit(0).cast("long")
        for i in range(band_bits):
            w = F.array(*[F.lit(float(x)) for x in planes[b * band_bits + i]])
            acc = acc + F.when(
                _dot(F.col("__v"), w) >= 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        band_structs.append(F.struct(F.lit(b).alias("band"), acc.alias("bucket")))
    ref = (
        v.select(F.col("vec_id"), F.explode(F.array(*band_structs)).alias("bb"))
        .select(
            F.col("vec_id"),
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
    )

    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_reader_memo_invalidates_on_rewrite(spark, tmp_path):
    """load_parquet memoizes the reader FRAME (metadata only) keyed on
    the file signature: a hit must return the same plan, and an
    in-place rewrite must invalidate — serving stale data would be
    silent wrong results for every consumer."""
    import os
    import time

    from dozer_spark.registry import load_parquet

    p = str(tmp_path / "t.parquet")
    spark.range(5).toDF("x").write.mode("overwrite").parquet(p)
    df1 = load_parquet(spark, p)
    assert df1.count() == 5
    assert load_parquet(spark, p) is df1  # memo hit: same plan object

    time.sleep(0.01)
    spark.range(9).toDF("x").write.mode("overwrite").parquet(p)
    # parquet dir rewrite changes file names/mtimes -> new signature
    df2 = load_parquet(spark, p)
    assert df2.count() == 9, "reader memo served a stale frame"


def test_reader_memo_is_per_session(spark, tmp_path):
    """newSession() shares its parent's application id but not its temp
    views: the memo must hand each session its own frame, so a view
    registered from it lands in the session that asked."""
    from dozer_spark.registry import load_parquet

    p = str(tmp_path / "s.parquet")
    spark.range(3).toDF("x").write.mode("overwrite").parquet(p)
    other = spark.newSession()
    df1 = load_parquet(spark, p)
    df2 = load_parquet(other, p)
    assert df2 is not df1 and df2.sparkSession is other
    assert load_parquet(other, p) is df2  # still a memo hit per session
    df2.createOrReplaceTempView("reader_memo_t")
    try:
        assert other.catalog.tableExists("reader_memo_t")
        assert not spark.catalog.tableExists("reader_memo_t")
    finally:
        other.catalog.dropTempView("reader_memo_t")


def test_reader_memo_rewrite_replaces_entry(spark, tmp_path):
    """A rewritten table's new signature replaces the path's memo entry
    instead of adding one per version."""
    import time

    from dozer_spark.registry import _READER_CACHE, load_parquet

    p = str(tmp_path / "r.parquet")
    for n in (2, 4, 6):
        spark.range(n).toDF("x").write.mode("overwrite").parquet(p)
        assert load_parquet(spark, p).count() == n
        time.sleep(0.01)
    assert [k for k in _READER_CACHE if k[1] == p] == [(spark, p)]


def test_schema_memo_rewrite_replaces_entry(spark, tmp_path):
    """The schema memo holds one entry per path: each rewrite's new
    signature replaces it, and the entry carries the new schema."""
    import time

    from dozer_spark.registry import _SCHEMA_CACHE, load_parquet

    p = str(tmp_path / "s.parquet")
    for n in range(1, 5):
        spark.range(n).selectExpr(*[f"id AS c{i}" for i in range(n)]) \
            .write.mode("overwrite").parquet(p)
        assert load_parquet(spark, p).columns == [f"c{i}" for i in range(n)]
        time.sleep(0.01)
    assert [k for k in _SCHEMA_CACHE if p in k] == [p]
    assert _SCHEMA_CACHE[p][1].fieldNames() == ["c0", "c1", "c2", "c3"]


def test_path_sig_fails_on_unlistable_subdir(tmp_path, monkeypatch):
    """A subdirectory the walk cannot list makes the signature None
    (uncacheable), never a signature of the partial listing."""
    import os

    from dozer_spark.registry import _path_sig

    (tmp_path / "k=1").mkdir()
    (tmp_path / "k=1" / "part-0.parquet").write_bytes(b"x")
    (tmp_path / "k=2").mkdir()
    (tmp_path / "k=2" / "part-0.parquet").write_bytes(b"y")
    assert _path_sig(str(tmp_path)) is not None

    real_scandir = os.scandir

    def scandir(p="."):
        if os.fspath(p).endswith("k=2"):
            raise PermissionError(13, "Permission denied", os.fspath(p))
        return real_scandir(p)

    monkeypatch.setattr(os, "scandir", scandir)
    assert _path_sig(str(tmp_path)) is None


def test_path_sig_follows_symlinked_subdir(tmp_path):
    """Files under a symlinked subdirectory are part of the signature:
    rewriting one changes it."""
    import os

    from dozer_spark.registry import _path_sig

    table, outside = tmp_path / "table", tmp_path / "outside"
    table.mkdir()
    outside.mkdir()
    (table / "k=1").mkdir()
    (table / "k=1" / "part-0.parquet").write_bytes(b"x")
    (outside / "part-0.parquet").write_bytes(b"y")
    os.symlink(outside, table / "k=2")

    sig = _path_sig(str(table))
    assert any(p.endswith(os.path.join("k=2", "part-0.parquet"))
               for p, *_ in sig[1])
    (outside / "part-0.parquet").write_bytes(b"longer")
    assert _path_sig(str(table)) != sig


def test_path_sig_stops_at_symlink_loop(tmp_path, monkeypatch):
    """Links from inside the table back to its root give None after
    listing the root once, not after a walk down to the ELOOP depth
    (about 40 levels, each listing and stat-ing the table's files)."""
    import os

    from dozer_spark.registry import _path_sig

    (tmp_path / "k=1").mkdir()
    (tmp_path / "k=1" / "part-0.parquet").write_bytes(b"x")
    os.symlink(tmp_path, tmp_path / "k=1" / "up")
    os.symlink(tmp_path, tmp_path / "back")

    listed = []
    real_scandir = os.scandir

    def scandir(p="."):
        listed.append(os.fspath(p))
        if len(listed) > 50:  # a missing loop check fails, not hangs
            raise AssertionError("walk did not stop at the loop")
        return real_scandir(p)

    monkeypatch.setattr(os, "scandir", scandir)
    assert _path_sig(str(tmp_path)) is None
    assert len(listed) <= 3


def test_minhash_sigs_cache_survives_sql_templates(spark, docs):
    """The persisted slim signature table must still be IN the final
    pair plan as an InMemoryRelation: a template arg whose plan
    canonicalizes to the cached plan gets silently UNPERSISTED by the
    formatter's dropTempView cleanup (measured as a 7x cold blowup).
    The ka/kb side frames defend by reordering columns — this pins it."""
    from dozer_spark.ops.dedup import minhash_lsh_pairs

    spark.catalog.clearCache()
    try:
        pairs = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.9)
        plan = pairs._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan, (
            "the persisted signature table was dropped or bypassed by a "
            "spark.sql template (dropTempView-uncache landmine)"
        )
    finally:
        spark.catalog.clearCache()
        docs.persist()
        docs.count()
