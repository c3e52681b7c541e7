"""Frozen-geometry SQL literals (ops/similarity.py `_arr_sql`/`_arr2_sql`).

SQL has no literal for NaN or ±Inf: a non-finite centroid, codebook
entry, plane or mean must fail where it enters, naming the value and its
index, instead of as a parse error on `nanD` deep inside a plan build.
"""

from __future__ import annotations

import math

import pytest

from dozer_spark.ops.similarity import _arr2_sql, _arr_sql, ivf_ann_topk_frozen


def test_finite_literals_round_trip():
    xs = [0.1, -2.5, 1e-300, 3.0]
    lit = _arr_sql(xs)
    assert lit == "array(0.1D, -2.5D, 1e-300D, 3.0D)"
    assert [float(t.strip().rstrip("D")) for t in lit[6:-1].split(",")] == xs
    assert _arr2_sql([[1.0], [2.0, 3.0]]) == "array(array(1.0D), array(2.0D, 3.0D))"


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_non_finite_value_raises_with_index(bad):
    with pytest.raises(ValueError) as e:
        _arr_sql([0.0, 1.0, bad])
    msg = str(e.value)
    assert repr(bad) in msg and "[2]" in msg


def test_nested_literal_names_row_and_column():
    with pytest.raises(ValueError, match=r"nan at index \[1\]\[0\]"):
        _arr2_sql([[0.0, 1.0], [math.nan, 2.0]])


def test_frozen_ivf_rejects_nan_centroid_at_build(spark):
    corpus = spark.createDataFrame([(1, [0.0, 1.0]), (2, [1.0, 0.0])],
                                   "id long, v array<double>")
    with pytest.raises(ValueError, match=r"inf at index \[1\]\[1\]"):
        ivf_ann_topk_frozen(corpus, corpus, "v", "id",
                            centroids=[[0.0, 1.0], [1.0, math.inf]],
                            k=1, n_probe=1)
