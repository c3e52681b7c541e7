"""Wave 11: frozen-geometry SemDeDup anchors — the semantic-dedup
family's first EXACT DuckDB oracles (round-10 verdict task 2: apply
the frozen-centroid trick that made IVF/IVF-PQ/PCA exact to semantic
dedup and cluster-balanced sampling). Both queries pin the spherical
k-means geometry as float64 literals (ops/semdedup_frozen.py), so the
oracle replays normalization, cell assignment, centroid similarity,
the duplicate booleans, the greedy keep scan (a recursive CTE carrying
each cell's kept-rank list), and the quota'd md5 rank cut — the whole
decision path, bit-for-bit."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401  (query modules' norm)

from dozer_spark.queries import _cat, _q


def _cm_literal() -> tuple[str, int, int]:
    from dozer_spark.ops.semdedup_frozen import FROZEN_UNIT_CENTROIDS_16x64

    cm = "[" + ", ".join(
        "[" + ", ".join(repr(x) for x in row) + "]"
        for row in FROZEN_UNIT_CENTROIDS_16x64
    ) + "]"
    return cm, len(FROZEN_UNIT_CENTROIDS_16x64), len(
        FROZEN_UNIT_CENTROIDS_16x64[0])


def _frozen_assign_ctes(cm: str, ncent: int, dim: int) -> str:
    """Shared oracle CTEs: L2-normalize (sequential fold, 1e-12 floor),
    then argmin squared-euclidean cell with ties on centroid index —
    the replay of unit_vector + _frozen_cell."""
    return f"""
    cm AS (SELECT {cm} AS c),
    nv AS (
      SELECT vec_id AS id,
        list_transform(embedding, x -> CAST(x AS DOUBLE) /
          GREATEST(sqrt(list_sum(list_transform(embedding,
            y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 1e-12)) AS vn
      FROM embeddings
    ),
    asn AS (
      SELECT id, vn,
        list_sort(list_transform(generate_series(1, {ncent}), j ->
          {{'d': list_sum(list_transform(generate_series(1, {dim}),
                   i -> (vn[i] - c[j][i]) * (vn[i] - c[j][i]))),
           'i': j - 1}}))[1].i AS cell
      FROM nv, cm
    )"""


def _semdedup_frozen_oracle(eps: float) -> str:
    cm, ncent, dim = _cm_literal()
    threshold = 1.0 - eps
    dot_ab = (f"list_sum(list_transform(generate_series(1, {dim}), "
              "i -> a.vn[i] * b.vn[i]))")
    return f"""
    WITH RECURSIVE {_frozen_assign_ctes(cm, ncent, dim)},
    it0 AS (
      SELECT id, vn, cell,
        list_sum(list_transform(generate_series(1, {dim}),
          i -> vn[i] * c[cell + 1][i])) AS sim
      FROM asn, cm
    ),
    it AS (
      SELECT id, vn, cell, sim,
        row_number() OVER (PARTITION BY cell
          ORDER BY sim ASC, id ASC) AS rnk
      FROM it0
    ),
    dp AS (
      -- per later-rank item: the earlier ranks that duplicate it
      SELECT b.cell AS cell, b.rnk AS rb, list(a.rnk) AS earlier
      FROM it a JOIN it b ON a.cell = b.cell AND a.rnk < b.rnk
      WHERE {dot_ab} >= {threshold!r}
      GROUP BY b.cell, b.rnk
    ),
    g AS (
      -- greedy keep scan, one step per rank, kept-rank list carried
      SELECT cell, 1 AS r, TRUE AS kept_flag,
             [CAST(1 AS BIGINT)] AS kept
      FROM (SELECT DISTINCT cell FROM it)
      UNION ALL
      SELECT g.cell, g.r + 1,
        (dp.rb IS NULL OR len(list_intersect(dp.earlier, g.kept)) = 0),
        CASE WHEN dp.rb IS NULL
                  OR len(list_intersect(dp.earlier, g.kept)) = 0
             THEN list_append(g.kept, CAST(g.r + 1 AS BIGINT))
             ELSE g.kept END
      FROM g
      JOIN it nxt ON nxt.cell = g.cell AND nxt.rnk = g.r + 1
      LEFT JOIN dp ON dp.cell = g.cell AND dp.rb = g.r + 1
    )
    SELECT it.id AS vec_id, CAST(it.cell AS INTEGER) AS cell,
           ROUND(it.sim, 6) AS centroid_sim, g.kept_flag AS kept
    FROM it JOIN g ON g.cell = it.cell AND g.r = it.rnk
    """


_SEM_EPS = 0.1


@_q("dedup_semantic_frozen", _semdedup_frozen_oracle(_SEM_EPS), window=True)
def dedup_semantic_frozen(spark, sf):
    """SemDeDup (Abbas et al. 2023) against the frozen spherical
    quantizer — the semantic-dedup family's exact anchor: every float
    in the decision path is a sequential fold both engines compute
    identically, and the greedy keep scan runs over the resulting
    booleans only (Spark: cogrouped boolean scan; oracle: recursive
    CTE). The adaptive production path stays ops.semdedup
    (rows-only, recall-pinned)."""
    from dozer_spark.ops.semdedup_frozen import (
        FROZEN_UNIT_CENTROIDS_16x64,
        semantic_dedup_frozen,
    )

    e = _cat(spark, sf).df("embeddings")
    return semantic_dedup_frozen(
        e, "embedding", "vec_id", FROZEN_UNIT_CENTROIDS_16x64, eps=_SEM_EPS)


def _cluster_sample_frozen_oracle(total: int, salt: str) -> str:
    cm, ncent, dim = _cm_literal()
    return f"""
    WITH {_frozen_assign_ctes(cm, ncent, dim)},
    counts AS (
      SELECT cell, COUNT(*) AS n FROM asn GROUP BY cell
    ),
    wsum AS (
      -- sequential cell-ordered fold, matching the driver's Python sum
      SELECT list_sum(list(sqrt(CAST(n AS DOUBLE)) ORDER BY cell)) AS s
      FROM counts
    ),
    q AS (
      SELECT cell,
        CAST(FLOOR({total}.0 * sqrt(CAST(n AS DOUBLE)) / wsum.s + 0.5)
             AS BIGINT) AS quota
      FROM counts, wsum
    ),
    r AS (
      SELECT id, cell,
        row_number() OVER (PARTITION BY cell
          ORDER BY md5('{salt}:' || CAST(id AS VARCHAR)), id) AS rn
      FROM asn
    )
    SELECT r.id AS vec_id, CAST(r.cell AS INTEGER) AS cell
    FROM r JOIN q USING (cell) WHERE rn <= q.quota
    """


_CBS_TOTAL, _CBS_SALT = 120, "d4frozen"


@_q("sample_cluster_balanced_frozen",
    _cluster_sample_frozen_oracle(_CBS_TOTAL, _CBS_SALT), window=True)
def sample_cluster_balanced_frozen(spark, sf):
    """D4-style cluster-balanced sampling (Tirumala et al. 2023)
    against the frozen spherical quantizer, alpha=0.5 (sqrt weights —
    correctly-rounded IEEE on every engine, unlike libm pow): quota
    floor(total*sqrt(c)/sum+0.5) computed on the driver over the
    <=n_centroids count table with a cell-ordered sequential sum, rows
    cut by the (md5, id) rank. The adaptive variant stays
    sample_cluster_balanced (rows-only, quota-pinned)."""
    from dozer_spark.ops.semdedup_frozen import (
        FROZEN_UNIT_CENTROIDS_16x64,
        cluster_balanced_sample_frozen,
    )

    e = _cat(spark, sf).df("embeddings")
    return cluster_balanced_sample_frozen(
        e, "embedding", "vec_id", total=_CBS_TOTAL,
        centroids=FROZEN_UNIT_CENTROIDS_16x64, alpha=0.5, salt=_CBS_SALT)
