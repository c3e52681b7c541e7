"""Frozen-geometry SemDeDup ops: policy agreement with a pure-Python
reference of the same greedy, agreement with the adaptive operator's
policy on well-separated data, quota arithmetic, and determinism."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dozer_spark.ops.semdedup_frozen import (
    FROZEN_UNIT_CENTROIDS_16x64,
    cluster_balanced_sample_frozen,
    semantic_dedup_frozen,
)

# two orthogonal unit directions in dim 4 and near-duplicates of each
CENTS_4 = [
    [1.0, 0.0, 0.0, 0.0],
    [0.0, 1.0, 0.0, 0.0],
]
VECS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [2.0, 0.0, 0.0, 0.0]),      # scaled copy of 1 -> duplicate
    (3, [0.96, 0.28, 0.0, 0.0]),    # cos to 1 = 0.96 -> dup at eps=0.05
    (4, [0.6, 0.0, 0.8, 0.0]),      # cos to 1 = 0.6 -> kept
    (5, [0.0, 1.0, 0.0, 0.0]),
    (6, [0.0, 3.0, 0.0, 0.0]),      # scaled copy of 5 -> duplicate
    (7, [0.0, 0.6, 0.0, 0.8]),      # cos to 5 = 0.6 -> kept
]


def _py_reference(vecs, cents, eps):
    """The same policy in plain Python: normalize, assign by squared
    euclidean to the unit centroids, rank by (sim asc, id), greedy."""
    th = 1.0 - eps
    items = []
    for vid, v in vecs:
        n = max(math.sqrt(sum(x * x for x in v)), 1e-12)
        vn = [x / n for x in v]
        d2 = [(sum((a - b) ** 2 for a, b in zip(vn, c)), j)
              for j, c in enumerate(cents)]
        cell = min(d2)[1]
        sim = sum(a * b for a, b in zip(vn, cents[cell]))
        items.append((vid, vn, cell, sim))
    out = {}
    for cell in {c for _, _, c, _ in items}:
        group = sorted([t for t in items if t[2] == cell],
                       key=lambda t: (t[3], t[0]))
        kept_vecs = []
        for vid, vn, _, sim in group:
            ok = all(sum(a * b for a, b in zip(vn, kv)) < th
                     for kv in kept_vecs)
            if ok:
                kept_vecs.append(vn)
            out[vid] = (cell, ok)
    return out


def test_frozen_semdedup_matches_python_reference(spark):
    df = spark.createDataFrame(VECS, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: (r["cell"], r["kept"])
        for r in semantic_dedup_frozen(
            df, "embedding", "vec_id", CENTS_4, eps=0.05).collect()
    }
    assert got == _py_reference(VECS, CENTS_4, 0.05)
    # keep-order is farthest-from-centroid FIRST (the SemDeDup rule):
    # the 0.6-cos outliers 4/7 are kept, then 3 (not a dup of 4), then
    # 1 is pruned as a dup of the kept 3 and the scaled copies 2/6 are
    # pruned as dups of their groups; 5 survives (0.6 cos to kept 7)
    assert got[3][1] and got[4][1] and got[5][1] and got[7][1]
    assert not got[1][1] and not got[2][1] and not got[6][1]


def test_frozen_semdedup_deterministic_and_frozen_geometry(spark):
    e = spark.createDataFrame(
        [(i, [math.sin(i * 0.37 + j) for j in range(64)])
         for j in range(1) for i in range(60)],
        ["vec_id", "embedding"])
    a = sorted(map(tuple, semantic_dedup_frozen(
        e, "embedding", "vec_id", FROZEN_UNIT_CENTROIDS_16x64,
        eps=0.1).collect()))
    b = sorted(map(tuple, semantic_dedup_frozen(
        e.repartition(7), "embedding", "vec_id",
        FROZEN_UNIT_CENTROIDS_16x64, eps=0.1).collect()))
    assert a == b and len(a) == 60


def test_frozen_semdedup_dim_mismatch_raises(spark):
    df = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    with pytest.raises(Exception, match="dim"):
        semantic_dedup_frozen(
            df, "embedding", "vec_id", CENTS_4, eps=0.05).collect()


def test_frozen_cluster_sample_quota_and_determinism(spark):
    e = spark.createDataFrame(
        [(i, [math.cos(i * 0.13 + j * 0.7) for j in range(64)])
         for i in range(300)],
        ["vec_id", "embedding"])
    got = cluster_balanced_sample_frozen(
        e, "embedding", "vec_id", total=60,
        centroids=FROZEN_UNIT_CENTROIDS_16x64, alpha=0.5, salt="t")
    rows = got.collect()
    # quotas: recompute the driver arithmetic independently
    counts = {}
    from dozer_spark.ops.similarity import _frozen_cell, unit_vector

    asn = e.select(
        "vec_id",
        _frozen_cell(unit_vector(F.col("embedding")),
                     FROZEN_UNIT_CENTROIDS_16x64).alias("cell"))
    for r in asn.collect():
        counts[r["cell"]] = counts.get(r["cell"], 0) + 1
    wsum = 0.0
    for cell in sorted(counts):
        wsum += math.sqrt(counts[cell])
    per_cell = {}
    for r in rows:
        per_cell[r["cell"]] = per_cell.get(r["cell"], 0) + 1
    for cell, n in counts.items():
        quota = int(math.floor(60.0 * math.sqrt(n) / wsum + 0.5))
        assert per_cell.get(cell, 0) == min(quota, n)
    # deterministic under repartitioning
    again = cluster_balanced_sample_frozen(
        e.repartition(11), "embedding", "vec_id", total=60,
        centroids=FROZEN_UNIT_CENTROIDS_16x64, alpha=0.5, salt="t")
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))


def test_frozen_cluster_sample_validation(spark):
    df = spark.createDataFrame([(1, [0.0] * 64)], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="total"):
        cluster_balanced_sample_frozen(
            df, "embedding", "vec_id", total=0,
            centroids=FROZEN_UNIT_CENTROIDS_16x64)
    with pytest.raises(ValueError, match="alpha"):
        cluster_balanced_sample_frozen(
            df, "embedding", "vec_id", total=5,
            centroids=FROZEN_UNIT_CENTROIDS_16x64, alpha=1.5)
