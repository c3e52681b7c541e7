"""IVF-PQ ANN (`ivf_pq_ann_topk`): recall vs exact brute force,
determinism, the exact-re-rank contract (returned cosines are the TRUE
cosines of the returned pairs), split==unsplit equivalence under a
forced tiny cell cap, codebook shape/compression contract, and the
dim % m_sub, n_codes and empty-corpus guards."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from dozer_spark.ops.similarity import (
    _pq_fit_codebooks,
    brute_force_topk,
    ivf_pq_ann_topk,
)


def _pairs(rows):
    return {(r.query_id, r.neighbor_id) for r in rows}


def test_pq_codebook_shapes_and_determinism():
    rng = np.random.RandomState(7)
    X = rng.randn(500, 16)
    b1 = _pq_fit_codebooks(X, m_sub=4, n_codes=32, seed=1)
    b2 = _pq_fit_codebooks(X, m_sub=4, n_codes=32, seed=1)
    assert b1.shape == (4, 32, 4)
    assert np.array_equal(b1, b2)
    # small sample clamps k to the sample size
    b3 = _pq_fit_codebooks(X[:10], m_sub=4, n_codes=32, seed=1)
    assert b3.shape == (4, 10, 4)


@pytest.mark.slow
def test_ivf_pq_recall_vs_brute_force(catalog):
    e = catalog.df("embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(e, q, "embedding", "vec_id", k=5).collect()
    approx = ivf_pq_ann_topk(e, q, "embedding", "vec_id", k=5,
                             n_centroids=8, n_probe=4, m_sub=8,
                             refine=4).collect()
    assert approx
    recall = len(_pairs(exact) & _pairs(approx)) / len(_pairs(exact))
    # PQ only picks CANDIDATES (refine*k of them, exact re-rank after),
    # so with half the cells probed recall should match plain IVF's bar
    assert recall > 0.4, recall
    for r in approx:
        assert 1 <= r.rank <= 5 and r.neighbor_id != r.query_id


@pytest.mark.slow
def test_ivf_pq_rerank_cosines_are_exact(catalog):
    """The refine stage must report TRUE cosines: every returned
    (query, neighbor, cosine) must equal the brute-force cosine of that
    same pair (brute force scores every pair exactly)."""
    e = catalog.df("embeddings")
    q = e.filter(F.col("vec_id") < 10)
    n = e.count()
    exact_all = brute_force_topk(e, q, "embedding", "vec_id", k=n).collect()
    truth = {(r.query_id, r.neighbor_id): r.cosine for r in exact_all}
    approx = ivf_pq_ann_topk(e, q, "embedding", "vec_id", k=5,
                             n_centroids=8, n_probe=4).collect()
    for r in approx:
        assert truth[(r.query_id, r.neighbor_id)] == pytest.approx(
            r.cosine, abs=2e-6)


@pytest.mark.slow
def test_ivf_pq_deterministic(catalog):
    e = catalog.df("embeddings")
    q = e.filter(F.col("vec_id") < 10)
    a = sorted(map(tuple, ivf_pq_ann_topk(
        e, q, "embedding", "vec_id", k=5, n_centroids=8).collect()))
    b = sorted(map(tuple, ivf_pq_ann_topk(
        e, q, "embedding", "vec_id", k=5, n_centroids=8).collect()))
    assert a == b


@pytest.mark.slow
def test_ivf_pq_split_equals_unsplit(catalog):
    e = catalog.df("embeddings")
    q = e.filter(F.col("vec_id") < 10)
    unsplit = sorted(map(tuple, ivf_pq_ann_topk(
        e, q, "embedding", "vec_id", k=5, n_centroids=8).collect()))
    split = sorted(map(tuple, ivf_pq_ann_topk(
        e, q, "embedding", "vec_id", k=5, n_centroids=8,
        hot_cell_cap=16).collect()))
    assert unsplit == split


def test_ivf_pq_dim_guard(catalog):
    e = catalog.df("embeddings")
    q = e.filter(F.col("vec_id") < 5)
    with pytest.raises(ValueError, match="not divisible"):
        ivf_pq_ann_topk(e, q, "embedding", "vec_id", m_sub=7)


def test_ivf_pq_empty_query_set(catalog):
    e = catalog.df("embeddings")
    q = e.filter(F.col("vec_id") < 0)
    out = ivf_pq_ann_topk(e, q, "embedding", "vec_id", k=3, n_centroids=8)
    assert out.count() == 0


def test_ivf_pq_tiny_corpus(spark):
    # corpus smaller than n_codes AND n_centroids floor: codebook k
    # clamps to the sample, quantizer k clamps per _fit_quantizer
    rows = [(i, [float(i + j) for j in range(8)]) for i in range(12)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 3)
    out = ivf_pq_ann_topk(df, q, "embedding", "vec_id", k=2,
                          n_centroids=2, n_probe=2, m_sub=4,
                          refine=2).collect()
    assert len(out) > 0
    for r in out:
        assert r.neighbor_id != r.query_id and 1 <= r.rank <= 2


@pytest.mark.parametrize("n_codes", [0, 257])
def test_ivf_pq_rejects_codes_that_overflow_a_byte(catalog, n_codes):
    # codes are stored one byte per subspace: 257 would wrap to 1
    e = catalog.df("embeddings")
    q = e.filter(F.col("vec_id") < 5)
    with pytest.raises(ValueError, match="n_codes"):
        ivf_pq_ann_topk(e, q, "embedding", "vec_id", n_codes=n_codes)


def test_ivf_pq_empty_corpus_raises(catalog):
    e = catalog.df("embeddings")
    with pytest.raises(ValueError, match="ivf_pq_ann_topk: .*empty corpus"):
        ivf_pq_ann_topk(e.filter(F.col("vec_id") < 0),
                        e.filter(F.col("vec_id") < 5), "embedding", "vec_id")
