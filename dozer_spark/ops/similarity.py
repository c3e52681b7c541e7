"""Similarity search over embedding columns (array<float>).

- cosine_sim: native fold (F.zip_with + F.aggregate) — sequential
  index-order summation, bit-deterministic across engines (no UDF).
- brute_force_topk: exact baseline; queries broadcast against the corpus,
  per-query top-k via window rank. O(nq * n) but a single pass — at
  100 TB this is the verification path, not the serving path.
- lsh_ann_topk: the scale path — random-hyperplane LSH buckets from
  md5-seeded deterministic planes; candidates only within the query's
  bucket (+ optional multi-probe). Approximate: no SQL oracle, tested by
  recall-vs-brute-force instead.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dozer_spark.operators.hints import ensure_min_partitions


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays, all-native column math."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k,
    deterministic tie-break on neighbor id. Queries are broadcast —
    the corpus is scanned once, no shuffle of the corpus side.
    """
    qid = query_id_col or id_col
    # norms are computed ONCE PER SIDE below the join (guide §2.3):
    # cosine_sim's per-pair form folds both norms for every pair —
    # 2/3 of the interpreted-HOF work for the same bits (same ops over
    # the same doubles, so cosine is bit-identical; projections under
    # a join are never inlined upward, so the norms stay per-row).
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    # the corpus side of the broadcast join runs at the SCAN's split
    # count (a broadcast join shuffles nothing): a single-row-group
    # parquet corpus pins every interpreted fold on one task (guide §2
    # stragglers; measured flat 8-vs-32-core scaling on the 10x corpus)
    c = ensure_min_partitions(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most-similar corpus vectors with a DIFFERENT label (the
    near-misses a contrastive loss learns the most from; in-batch
    random negatives are mostly too easy).

    Same plan shape as brute_force_topk — queries broadcast, corpus
    scanned once, per-query window rank — with the label exclusion
    applied BEFORE ranking (a post-rank filter would silently return
    fewer than k negatives whenever same-label vectors crowd the true
    top-k, which on a clustered embedding space is the common case).

    Output: (query_id, neighbor_id, neighbor_label, cosine, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("q_label"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    c = ensure_min_partitions(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("neighbor_label"),
        _norm(F.col(vec_col)).alias("__cn"),
    )  # scan-split rebalance: see brute_force_topk
    # per-side norms below the join: same bits, 2/3 less per-pair fold
    # work (see brute_force_topk)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("q_label"))
        .withColumn(
            "cosine",
            _dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("neighbor_label").cast("int").alias("neighbor_label"),
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def hard_negative_topk_fast(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 5,
    block_rows: int = 65536,
) -> DataFrame:
    """Vectorized exact hard-negative mining, fully distributed: the
    LABEL is the cogroup key. Each corpus row lands in its own label's
    group; each query is replicated to every label EXCEPT its own (a
    broadcast of the distinct-label set — label cardinality is class/
    cluster count, small by contract), so every (query, corpus-row)
    pair with differing labels meets in exactly one (label, block)
    cogroup and the global window merge returns the exact top-k
    negatives — bit-for-bit hard_negative_topk through the same
    _bucketed_blas_topk bound as the brute/LSH/IVF fast paths (hot
    labels split into ~block_rows blocks). No driver materialization
    anywhere.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("neg_label"),
    )
    # the label set rides into q under a FRESH name (re-aliased twice):
    # c and q both joining the hot-count table on the SAME attribute id
    # would trip Spark's ambiguous-self-join analysis inside the shared
    # helper
    labels = c.select(F.col("neg_label").alias("__lbl")).distinct()
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.col(label_col).alias("q_label"),
        )
        .crossJoin(F.broadcast(labels))
        .filter(F.col("__lbl") != F.col("q_label"))
        .select("query_id", "qv", F.col("__lbl").alias("neg_label"))
    )
    topk = _bucketed_blas_topk(
        c, q, ["neg_label"], k,
        queries.schema[id_col].dataType, corpus.schema[id_col].dataType,
        block_rows,
    )
    # re-attach the negative's label: broadcast the tiny top-k pair set
    # against one corpus key projection — no corpus shuffle
    lab = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).cast("int").alias("neighbor_label"),
    )
    return lab.join(F.broadcast(topk), "neighbor_id").select(
        "query_id", "neighbor_id", "neighbor_label", "cosine", "rank"
    )


def brute_force_topk_fast(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    query_id_col: str | None = None,
    block_rows: int = 65536,
    query_block_rows: int | None = None,
) -> DataFrame:
    """Vectorized exact top-k, fully distributed: the corpus is split
    into ~block_rows-row blocks (deterministic id-hash), the query set
    into ~query_block_rows-row blocks (default: block_rows) replicated
    across each other, each (block, qblock) cogroup is
    scored as one BLAS matmul with per-query top-k pre-reduction, and a
    global window merges the block top-ks — the union of per-block
    top-ks contains the global top-k exactly (every corpus row is in
    one block and each block keeps k per query).

    ~10x the fold-based brute_force_topk on wide batches; bit-for-bit
    results may differ in the last ulp (BLAS summation order), so the
    fold version remains the oracle-gated baseline. NOTHING touches the
    driver: no query collect (the r8 design collected queries into the
    UDF closure — the last driver materialization in the ANN family),
    so the query set is bounded only by cluster resources; the merge
    window sees n_blocks * n_queries * k rows, never the n*q score
    matrix. Same block-cogroup machinery as the LSH/IVF fast paths
    (_split_hot_groups with a constant group), so one bound covers all
    three.
    """
    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.lit(0).alias("__g"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.lit(0).alias("__g"),
    )

    # id field types come from the inputs — string/int/... doc ids all work
    return _bucketed_blas_topk(
        c, q, ["__g"], k,
        queries.schema[qid].dataType, corpus.schema[id_col].dataType,
        block_rows, qcap=query_block_rows,
    )


def bitext_margin_mine(
    src: DataFrame,
    tgt: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 4,
    threshold: float = 1.0,
    max_rows: int = 100_000,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019; the scoring
    used by CCMatrix/LASER parallel-corpus mining): for every source
    vector x, score each of its k nearest target candidates y by the
    RATIO margin  cos(x,y) / ((favg(x) + bavg(y)) / 2)  where favg(x)
    is the mean cosine of x's k nearest targets and bavg(y) the mean
    cosine of y's k nearest sources, and keep x's best-margin candidate
    when its margin clears `threshold`. The margin normalizes away hub
    vectors (high average similarity to everything), which plain cosine
    thresholding cannot — the standard mining step for building
    parallel training corpora from two monolingual embedding spaces.

    Output: (src_id, tgt_id, cosine, margin, mutual), one row per
    mined source; `mutual` marks pairs that are ALSO the best margin
    for the target among the forward candidates (the "max/intersect"
    mining strategy — filter on it for the high-precision corpus).

    Every float is a sequential fold (cosine via zip_with/aggregate,
    the k-candidate means via an array_sort + aggregate fold in rank
    order), so the whole decision path replays bit-for-bit in a SQL
    oracle — margins and the threshold cut compare RAW doubles that
    both engines compute identically; rounding happens only at output.

    Like embedding_neardup_pairs, the all-pairs candidate join is the
    exact-recall baseline and `max_rows` enforces that contract
    (fail-fast past the bound). At corpus scale the candidate lists
    come from the ANN family instead (brute_force_topk_fast / IVF /
    LSH produce exactly the (sid, tid, cos) lists this op consumes) —
    the margin math itself only ever touches k-sized lists per vector,
    so the mining step stays linear in corpus size either way.
    """
    for side, df in (("src", src), ("tgt", tgt)):
        probed = df.limit(max_rows + 1).count()
        if probed > max_rows:
            raise ValueError(
                f"{side} side exceeds max_rows={max_rows}: "
                "bitext_margin_mine's all-pairs candidate join is the "
                "exact-recall baseline; generate candidate top-k lists "
                "with the ANN family at corpus scale, or raise max_rows "
                "deliberately"
            )
    s = src.select(F.col(id_col).alias("sid"), F.col(vec_col).alias("sv"))
    t = tgt.select(F.col(id_col).alias("tid"), F.col(vec_col).alias("tv"))
    pairs = (
        s.crossJoin(F.broadcast(t))
        .withColumn("c", cosine_sim(F.col("sv"), F.col("tv")))
        .select("sid", "tid", "c")
    )
    wf = Window.partitionBy("sid").orderBy(F.desc("c"), F.asc("tid"))
    wb = Window.partitionBy("tid").orderBy(F.desc("c"), F.asc("sid"))
    rnk = pairs.withColumn("rf", F.row_number().over(wf)).withColumn(
        "rb", F.row_number().over(wb)
    )
    # k-candidate means as rank-ordered sequential folds: array_sort on
    # struct(rank, cos) sorts by rank, the aggregate fold sums in that
    # order — the same left-to-right sum DuckDB's list(c ORDER BY rank)
    # + list_sum replays (proven bit-equal by the quota/centroid oracles)
    def _rank_mean(rank_col: str, key: str, out: str):
        lst = F.array_sort(
            F.collect_list(F.struct(F.col(rank_col).alias("r"),
                                    F.col("c").alias("c")))
        )
        total = F.aggregate(lst, F.lit(0.0), lambda acc, x: acc + x["c"])
        return (
            rnk.filter(F.col(rank_col) <= k)
            .groupBy(key)
            .agg((total / F.size(lst).cast("double")).alias(out))
        )

    fa = _rank_mean("rf", "sid", "fa")
    ba = _rank_mean("rb", "tid", "ba")
    m = (
        rnk.filter(F.col("rf") <= k)
        .join(fa, "sid")
        .join(ba, "tid")
        .withColumn(
            "mg",
            F.col("c") / ((F.col("fa") + F.col("ba")) / F.lit(2.0)),
        )
    )
    ws = Window.partitionBy("sid").orderBy(F.desc("mg"), F.asc("tid"))
    wt = Window.partitionBy("tid").orderBy(F.desc("mg"), F.asc("sid"))
    mm = m.withColumn("rs", F.row_number().over(ws)).withColumn(
        "rt", F.row_number().over(wt)
    )
    return (
        mm.filter((F.col("rs") == 1) & (F.col("mg") >= threshold))
        .select(
            F.col("sid").alias("src_id"),
            F.col("tid").alias("tgt_id"),
            F.round("c", 6).alias("cosine"),
            F.round("mg", 6).alias("margin"),
            ((F.col("rs") == 1) & (F.col("rt") == 1)).alias("mutual"),
        )
    )


def _hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — no RNG state,
    reproducible across sessions and engines."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane{p}:dim{d}".encode()).hexdigest()
            row.append(int(h[:8], 16) / float(1 << 32) - 0.5)
        planes.append(row)
    return planes


def _arr_sql(xs: list[float], at: str = "") -> str:
    """SQL array literal of DOUBLEs. repr() emits the shortest string
    that round-trips to the same IEEE-754 double, and the SQL parser's
    decimal-to-double conversion is correctly rounded — so the parsed
    values are bit-identical to the F.lit(x) Columns this replaces.
    SQL has no literal for NaN/Inf (repr would emit `nanD`, a parse
    error far from its cause), so a non-finite value raises here,
    named with its index (`at` prefixes the outer index)."""
    vals = [float(x) for x in xs]
    for i, v in enumerate(vals):
        if not math.isfinite(v):
            raise ValueError(
                f"non-finite value {v!r} at index {at}[{i}] of frozen "
                "geometry (centroids, codebooks, planes or means)"
            )
    return "array(" + ", ".join(f"{v!r}D" for v in vals) + ")"


def _arr2_sql(rows: list[list[float]]) -> str:
    """Nested SQL array literal (array of DOUBLE arrays) — same parsed
    tree as F.array(*[F.array(*[F.lit(x) ...]) ...]), built with ONE
    py4j call instead of one per element (guide §7.3: the frozen-IVF
    centroid/codebook literals cost 2,000+ F.lit round-trips per
    build)."""
    return "array(" + ", ".join(
        _arr_sql(r, f"[{i}]") for i, r in enumerate(rows)) + ")"


def _dot_sql(vec_sql: str, xs: list[float]) -> str:
    """SQL-string form of `_dot(vec, <literal plane>)` — same parsed
    tree (zip_with multiply, left-fold add), so identical floats."""
    return (
        f"aggregate(zip_with({vec_sql}, {_arr_sql(xs)}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _bucket_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """SQL for the sign-bit bucket id over `planes` (bit i set when
    dot(vec, plane_i) >= 0) — single source for lsh_bucket and the
    banded variants."""
    bits = " + ".join(
        f"(CASE WHEN {_dot_sql(vec_sql, plane)} >= 0 "
        f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i, plane in enumerate(planes)
    )
    return f"CAST(0 AS BIGINT) + {bits}"


def lsh_bucket(vec_col: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: sign bit per plane -> integer.

    vec_col is a COLUMN NAME: the whole expression is ONE parsed SQL
    string (one py4j round-trip). The per-plane Column loop it replaces
    issued ~n_planes * (dim + 4) py4j calls of single-threaded driver
    time per build (guide §7.3) — measured as multi-second build times
    on the 24-plane ANN paths; the parsed tree, and therefore every
    bucket id, is identical (pinned by test_optimization_r13.py)."""
    return F.expr(_bucket_sql(f"`{vec_col}`", planes))


def _probed_queries(queries: DataFrame, qid: str, vec_col: str,
                    planes: list[list[float]], n_probes: int) -> DataFrame:
    """Query frame exploded to its probe buckets: the query's own
    bucket plus single-bit flips at the (n_probes - 1) smallest-margin
    hyperplanes — multi-probe LSH (Lv et al. 2007, "Multi-Probe LSH",
    public literature), simplified to 1-bit perturbations. The margin
    |dot(v, plane_i)| measures how close the vector sits to plane i:
    flipping the closest planes probes exactly the buckets a near
    neighbor on the other side of a thin margin would land in, which
    is where single-bucket LSH loses its recall. Corpus stays
    single-bucket — only the (tiny) query side fans out, so candidate
    volume grows linearly in n_probes with no corpus-side cost.

    Deterministic: margins derive from the same dyadic-rational md5
    planes as the sign bits and ties break on the plane index, so the
    probe set replays exactly in the SQL oracle."""
    # one parsed SQL expression per derived column (not one Column op
    # per plane element): same trees, ~10^3 fewer py4j calls (guide §7.3)
    dots = [_dot_sql("`qv`", p) for p in planes]
    base = F.expr("CAST(0 AS BIGINT) + " + " + ".join(
        f"(CASE WHEN {d} >= 0 THEN CAST({1 << i} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for i, d in enumerate(dots)
    ))
    q = queries.select(F.col(qid).alias("query_id"),
                       F.col(vec_col).alias("qv"))
    if n_probes <= 1:
        return q.withColumn("bucket", base)
    pairs = F.expr("array(" + ", ".join(
        f"named_struct('m', abs({d}), 'i', {i})"
        for i, d in enumerate(dots)
    ) + ")")
    n_flips = min(n_probes - 1, len(planes))
    q = (
        q.withColumn("__base", base)
        .withColumn("__flips", F.slice(F.array_sort(pairs), 1, n_flips))
        .withColumn(
            "bucket",
            F.explode(F.concat(
                F.array(F.col("__base")),
                F.expr("transform(__flips,"
                       " s -> __base ^ shiftleft(1L, s.i))"),
            )),
        )
        .drop("__base", "__flips")
    )
    return q


def _fit_quantizer(ml: DataFrame, n: int, n_centroids: int, seed: int,
                   max_iter: int = 20):
    """Fit the IVF coarse k-means quantizer on a deterministic BOUNDED
    sample, never the full corpus.

    Centroid quality needs O(points-per-centroid) training rows, not
    the corpus — FAISS trains its IVF quantizers on at most
    max_points_per_centroid=256 (default; 39 is its warn floor) samples
    per centroid for exactly this reason. A full-corpus fit is the one
    super-linear cost in the IVF path: measured 2,119s end-to-end at 2M
    vectors vs 105s for the LSH path on the identical workload (r8
    verdict); with the sampled fit the training cost is
    O(n_centroids * sample * dim * iters), independent of corpus size.

    The sample is an xxhash64 threshold on the row id (seed folded in
    as a hashed column), so it is deterministic under any partitioning
    or epoch order — the fold and BLAS variants fit on the identical
    row set and therefore share centroids exactly.
    """
    from pyspark.ml.clustering import KMeans

    target = 39 * n_centroids
    fit_set = ml
    if n > target:
        # 1.05x margin so the expected sample lands just above target
        ppm = max(1, min(1_000_000, int(1_000_000 * target * 1.05 / n)))
        fit_set = ml.filter(
            F.pmod(F.xxhash64(F.col("neighbor_id"), F.lit(seed)),
                   F.lit(1_000_000)) < F.lit(ppm)
        )
    km = KMeans(k=n_centroids, seed=seed, featuresCol="feat",
                predictionCol="cell", maxIter=max_iter)
    return km.fit(fit_set)


def _nearest_cells(Q, C, n: int):
    """Indices of the n nearest centroids (squared euclidean) for each
    row of Q against centroid matrix C — (len(Q), n), unordered within
    the n. Uses the |a-b|^2 = |a|^2 + |b|^2 - 2ab expansion with the
    cross term as ONE matmul, chunked so the distance matrix stays
    ~32MB: the naive (Q[:,None,:] - C[None,:,:]) broadcast materializes
    a (batch x centroids x dim) temporary — 7+ GB for a 10k-row Arrow
    batch against sqrt(2M) centroids at dim 64."""
    import numpy as np

    n = min(n, C.shape[0])
    c2 = (C * C).sum(axis=1)[None, :]
    chunk = max(1, (4 << 20) // max(C.shape[0], 1))
    outs = []
    for s in range(0, Q.shape[0], chunk):
        q = Q[s:s + chunk]
        d2 = (q * q).sum(axis=1)[:, None] + c2 - 2.0 * (q @ C.T)
        if n >= C.shape[0]:
            outs.append(np.tile(np.arange(C.shape[0]), (q.shape[0], 1)))
        else:
            outs.append(np.argpartition(d2, n - 1, axis=1)[:, :n])
    return np.concatenate(outs, axis=0)


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    query_id_col: str | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer, query probes its
    n_probe nearest centroids, exact cosine within those cells only.

    The scale shape: centroids are tiny (broadcast); the quantizer is
    fit on a bounded deterministic sample (_fit_quantizer — corpus-size
    independent); the corpus is assigned to cells in ONE pass carrying
    its vectors through model.transform (no post-assignment join); each
    query touches ~n_probe/n_centroids of the corpus. Deterministic via
    fixed seed. Approximate -> no SQL oracle; recall tested vs brute
    force.
    """
    from pyspark.ml.functions import array_to_vector

    qid = query_id_col or id_col
    # NO scan rebalance here: the corpus feeds the live k-means FIT,
    # and Spark ML KMeans is partition-sensitive (k-means|| init and
    # fp aggregation order) — repartitioning would silently change the
    # trained centroids and every downstream cell. Only the FROZEN
    # paths (partition-independent literal math) rebalance.
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    n = c.count()
    ml = c.select("neighbor_id", "cv", array_to_vector(F.col("cv").cast("array<double>")).alias("feat"))
    model = _fit_quantizer(ml, n, n_centroids, seed)
    c_cells = model.transform(ml).select("neighbor_id", "cv", "cell")

    # query -> its n_probe nearest centroids (centroids are tiny: driver math)
    centroids = [list(map(float, v)) for v in model.clusterCenters()]
    cent_arr = F.expr(_arr2_sql(centroids))
    q = queries.select(F.col(qid).alias("query_id"), F.col(vec_col).alias("qv"))
    # distance query->each centroid, take n_probe smallest (native exprs)
    dists = F.transform(
        cent_arr,
        lambda cent: F.aggregate(
            F.zip_with(F.col("qv"), cent, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    q = q.withColumn("__d", dists)
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
    pairs = F.arrays_zip(q["__d"].alias("d"), idx.alias("i"))
    probed = F.slice(F.array_sort(pairs), 1, n_probe)
    q = q.withColumn("cell", F.explode(F.transform(probed, lambda s: s["i"]))).drop("__d")

    # per-side norms below the join: same bits, 2/3 less per-pair fold
    # work (see brute_force_topk)
    q = q.withColumn("__qn", _norm(F.col("qv")))
    c_cells = c_cells.withColumn("__cn", _norm(F.col("cv")))
    scored = (
        c_cells.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _frozen_cell_pairs(vcol: Column, centroids: list[list[float]]) -> Column:
    """[(d2 to centroid j, j)] for a vector Column against FROZEN
    centroid literals — d2 as the same left-fold the frozen-IVF oracle
    replays with list_sum(list_transform(...)), so array_min / sorted
    slices over the pairs give bit-identical cells on both engines."""
    cent_arr = F.expr(_arr2_sql(centroids))
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
    d2 = F.transform(
        cent_arr,
        lambda cent: F.aggregate(
            F.zip_with(
                vcol, cent,
                lambda a, b: (a.cast("double") - b)
                * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return F.arrays_zip(d2.alias("d"), idx.alias("i"))


def ivf_ann_topk_frozen(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 4,
    query_id_col: str | None = None,
) -> DataFrame:
    """IVF ANN against a FROZEN (pre-trained) coarse quantizer: the
    centroids arrive as float literals, so the whole serving path —
    nearest-centroid cell assignment (squared euclidean, ties on
    centroid index), n_probe probe-set selection, in-cell exact cosine
    re-rank — is pure sequential-fold Column math with NO training
    step, NO UDF, and NO dependence on partitioning or scan order.

    This is the production IVF serving shape (an index pins its trained
    quantizer; refits happen offline), and it makes the operator
    SQL-replayable: given the same literals an external engine computes
    bit-identical distances, the same argmin cells, the same probe
    sets, and therefore the same top-k — the DuckDB oracle for
    ann_ivf_topk_frozen replays it exactly. Scale shape matches
    ivf_ann_topk: centroid array is a literal (broadcast with the
    plan), corpus assigned in one scan, queries broadcast to the
    bucket join, each query touches ~n_probe/n_centroids of the corpus.
    """
    def cell_pairs(vcol: Column) -> Column:
        return _frozen_cell_pairs(vcol, centroids)

    dim = len(centroids[0])
    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"),
        _guard_dim(F.col(vec_col), dim, "ivf_ann_topk_frozen").alias("qv"),
    )
    q = q.withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(F.array_sort(cell_pairs(F.col("qv"))), 1, n_probe),
                lambda s: s["i"],
            )
        ),
    )
    c = ensure_min_partitions(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        _guard_dim(F.col(vec_col), dim, "ivf_ann_topk_frozen").alias("cv"),
    ).withColumn("cell", F.array_min(cell_pairs(F.col("cv")))["i"])
    # scan-split rebalance: see brute_force_topk

    # per-side norms below the join: same bits, 2/3 less per-pair fold
    # work (see brute_force_topk)
    q = q.withColumn("__qn", _norm(F.col("qv")))
    c = c.withColumn("__cn", _norm(F.col("cv")))
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _guard_dim(vec: Column, dim: int, where: str) -> Column:
    """Fail loudly on a vector/geometry dimension mismatch: zip_with
    against literal geometry would otherwise null-pad the shorter side
    and propagate silent nulls through the folds (wrong column,
    truncated vectors). The guard is a per-row size branch — negligible
    next to the folds it protects."""
    return F.when(F.size(vec) == dim, vec).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{where}: expected vectors of dim {dim}, got dim "),
                F.size(vec).cast("string"),
            )
        )
    )


def unit_vector(vec: Column) -> Column:
    """L2-normalize a float array Column with the sequential-fold norm
    (sqrt of the left-fold sum of squares, floored at 1e-12) — the
    engine-portable normalization every frozen/oracle path shares."""
    nrm = F.greatest(
        F.sqrt(
            F.aggregate(
                F.transform(vec, lambda x: x.cast("double")
                            * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        F.lit(1e-12),
    )
    return F.transform(vec, lambda x: x.cast("double") / nrm)


def ivf_pq_ann_topk_frozen(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    coarse: list[list[float]],
    books: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 4,
    refine: int = 4,
    query_id_col: str | None = None,
) -> DataFrame:
    """IVF-PQ ANN against FROZEN geometry (pre-trained coarse centroids
    + residual PQ codebooks as float literals): normalize, coarse-cell
    assign, residual-encode to m_sub codes, per-(query, probed-cell)
    ADC lookup tables, keep the refine*k best ADC candidates, exact
    cosine re-rank — ALL as sequential-fold Column math, no UDF, no
    training step, no numpy.

    This is the serving shape of a compressed index (codebooks pinned
    at build time; refits offline) and — like ivf_ann_topk_frozen — it
    makes the full compressed-index path SQL-replayable: identical
    literals give an external engine bit-identical residuals, codes,
    ADC distances, candidate sets, and final top-k (the DuckDB oracle
    for ann_ivf_pq_topk_frozen). The live ivf_pq_ann_topk remains the
    BLAS-batched scale path; this variant is the exactness anchor.

    Scale shape mirrors the live path: literals ride the plan
    (broadcast), corpus is encoded in one scan, queries broadcast to
    the cell join, each query touches ~n_probe/n_centroids of the
    corpus, and only refine*k survivors reach the exact re-rank.
    """
    m_sub = len(books)
    n_codes = len(books[0])
    dsub = len(books[0][0])
    ncent = len(coarse)
    cent_arr = F.expr(_arr2_sql(coarse))
    books_arr = F.expr(
        "array(" + ", ".join(_arr2_sql(book) for book in books) + ")"
    )
    idx_cent = F.sequence(F.lit(0), F.lit(ncent - 1))
    idx_code = F.sequence(F.lit(0), F.lit(n_codes - 1))

    # Defensive .cast("double") below: unit_vector already yields doubles
    # for both corpus and query vectors here, so the cast is a noop on this
    # path — but it keeps the fold precision independent of that call-site
    # invariant (a float32 input reused through these closures would
    # otherwise fold in float32 and break the bit-for-bit oracle claim).
    def cell_pairs(vcol: Column) -> Column:
        d2 = F.transform(
            cent_arr,
            lambda cent: F.aggregate(
                F.zip_with(vcol, cent,
                           lambda a, b: (a.cast("double") - b)
                           * (a.cast("double") - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        return F.arrays_zip(d2.alias("d"), idx_cent.alias("i"))

    def residual(vcol: Column) -> Column:
        return F.zip_with(
            vcol,
            F.element_at(cent_arr, F.col("cell") + 1),
            lambda a, b: a.cast("double") - b,
        )

    def sub_d2(res_col: str, j: Column, code: Column) -> Column:
        # squared distance of residual subspace j (1-based) to a code
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(dsub)),
            F.lit(0.0),
            lambda acc, i: acc
            + (F.element_at(F.col(res_col), (j - 1) * dsub + i)
               - F.element_at(code, i))
            * (F.element_at(F.col(res_col), (j - 1) * dsub + i)
               - F.element_at(code, i)),
        )

    # corpus: normalize -> cell -> residual -> m_sub PQ codes — all
    # computed BEFORE the cogroup's shuffle, i.e. at the scan's split
    # count: rebalance first (see brute_force_topk)
    c = ensure_min_partitions(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        unit_vector(
            _guard_dim(F.col(vec_col), m_sub * dsub, "ivf_pq_ann_topk_frozen")
        ).alias("cv"),
    )
    c = c.withColumn("cell", F.array_min(cell_pairs(F.col("cv")))["i"])
    c = c.withColumn("rv", residual(F.col("cv")))
    codes = F.transform(
        F.sequence(F.lit(1), F.lit(m_sub)),
        lambda j: F.array_min(
            F.arrays_zip(
                F.transform(
                    F.element_at(books_arr, j),
                    lambda code: sub_d2("rv", j, code),
                ).alias("d"),
                idx_code.alias("i"),
            )
        )["i"],
    )
    c = c.withColumn("codes", codes).drop("rv")

    # queries: normalize -> n_probe cells -> per-cell residual -> LUT
    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"),
        unit_vector(
            _guard_dim(F.col(vec_col), m_sub * dsub, "ivf_pq_ann_topk_frozen")
        ).alias("qv"),
    )
    q = q.withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(F.array_sort(cell_pairs(F.col("qv"))), 1, n_probe),
                lambda s: s["i"],
            )
        ),
    )
    q = q.withColumn("qr", residual(F.col("qv")))
    lut = F.transform(
        F.sequence(F.lit(1), F.lit(m_sub)),
        lambda j: F.transform(
            F.element_at(books_arr, j), lambda code: sub_d2("qr", j, code)
        ),
    )
    q = q.select("query_id", "qv", "cell", lut.alias("lut"))

    # ADC candidates within probed cells, then exact cosine re-rank
    adc = F.aggregate(
        F.sequence(F.lit(1), F.lit(m_sub)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(F.col("lut"), j), F.element_at(F.col("codes"), j) + 1
        ),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc", adc)
    )
    w_cand = Window.partitionBy("query_id").orderBy(
        F.asc("adc"), F.asc("neighbor_id")
    )
    cand = (
        scored.withColumn("__cr", F.row_number().over(w_cand))
        .filter(F.col("__cr") <= refine * k)
    )
    cos = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    query_id_col: str | None = None,
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    The bucket join replaces the crossJoin — at scale, corpus is
    pre-bucketed (one shuffle, reusable across query batches) and each
    query only meets ~n/2^planes candidates. Recall is tested against
    brute_force_topk in tests/test_similarity.py.

    n_probes > 1 engages multi-probe (see _probed_queries): the query
    additionally probes the buckets across its (n_probes - 1) thinnest
    margins — recall recovers toward brute force at linear extra
    candidate cost, with no change to the corpus bucketing.
    """
    planes = _hyperplanes(n_planes, dim)
    qid = query_id_col or id_col
    q = _probed_queries(queries, qid, vec_col, planes, n_probes)
    c = ensure_min_partitions(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        lsh_bucket(vec_col, planes).alias("bucket"),
        _norm(F.col(vec_col)).alias("__cn"),
    )  # scan-split rebalance: see brute_force_topk
    # per-side norms below the join: same bits, 2/3 less per-pair fold
    # work (see brute_force_topk)
    q = q.withColumn("__qn", _norm(F.col("qv")))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _split_hot_groups(c: DataFrame, q: DataFrame, group_cols: list,
                      corpus_id: str, cap: int,
                      query_id: str = "query_id", qcap: int | None = None):
    """Bound the BLAS fast-path cogroups on BOTH sides: split each
    group's CORPUS rows into ~cap-row blocks (deterministic id-hash)
    and its QUERY rows into ~qcap-row blocks, replicating each side
    across the other's blocks, so no single applyInPandas task ever
    materializes more than ~cap corpus + ~qcap query rows. Without the
    corpus split, one hot LSH bucket / dense IVF cell at corpus scale
    arrives as ONE pandas DataFrame on ONE task (executor-memory
    ceiling + straggler; clustered embedding spaces concentrate bucket
    mass, which is why the near-dup path grew the same bound in
    dedup.py:735); without the query split, a million-query serving
    batch lands whole in EVERY corpus-block task. Each (corpus row,
    query) pair meets in exactly one (block, qblock) cogroup and every
    cogroup keeps a per-query top-k, so a global re-rank over the
    union of block top-ks equals the unsplit top-k exactly — and
    per-pair scores don't depend on the blocking, so results are
    bit-identical for any (cap, qcap). The query split costs one extra
    corpus copy per qcap queries; with n_queries <= qcap (the common
    serving shape) nqblk=1 and the shuffle volume is identical to the
    one-sided split. The count aggregations are map-side combined and
    their joins share the grouping key with the cogroup shuffle that
    follows. Groups empty on the opposite side are dropped by the
    inner count joins — their cogroups produced no output anyway."""
    qcap = qcap or cap
    cnt = c.groupBy(*group_cols).agg(F.count("*").alias("__n"))
    qcnt = q.groupBy(*group_cols).agg(F.count("*").alias("__nq"))
    nblk = F.greatest(
        F.lit(1), F.ceil(F.col("__n") / F.lit(cap))
    ).cast("int")
    nqblk = F.greatest(
        F.lit(1), F.ceil(F.col("__nq") / F.lit(qcap))
    ).cast("int")
    c2 = (
        c.join(cnt, list(group_cols))
        .join(qcnt, list(group_cols))
        .withColumn("__blk", F.pmod(F.xxhash64(F.col(corpus_id)), nblk)
                    .cast("int"))
        .withColumn("__qblk",
                    F.explode(F.sequence(F.lit(0), nqblk - F.lit(1))))
        .drop("__n", "__nq")
    )
    q2 = (
        q.join(cnt, list(group_cols))
        .join(qcnt, list(group_cols))
        .withColumn("__blk",
                    F.explode(F.sequence(F.lit(0), nblk - F.lit(1))))
        .withColumn("__qblk", F.pmod(F.xxhash64(F.col(query_id)), nqblk)
                    .cast("int"))
        .drop("__n", "__nq")
    )
    return c2, q2


def _bucketed_blas_topk(c: DataFrame, q: DataFrame, group_cols: list,
                        k: int, qid_type, nid_type, cap: int,
                        qcap: int | None = None) -> DataFrame:
    """Shared tail of every BLAS fast path (brute/LSH/IVF/streaming
    probe): bound each group's corpus AND query rows via
    _split_hot_groups (qcap defaults to cap), score each
    (group, block, qblock) cogroup as one matmul with per-query top-k
    pre-reduction (_topk_block_scores), then merge the per-block
    top-ks with a global window — exactly the unsplit top-k (every
    (corpus row, query) pair meets in one cogroup; each cogroup keeps
    k per query; per-pair scores are blocking-independent). c must
    carry (neighbor_id, cv, *group_cols); q (query_id, qv, *group_cols)."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("query_id", qid_type),
        T.StructField("neighbor_id", nid_type),
        T.StructField("cosine", T.DoubleType()),
    ])

    def score(key, cdf: "pd.DataFrame", qdf: "pd.DataFrame") -> "pd.DataFrame":
        if cdf.empty or qdf.empty:
            return pd.DataFrame(
                {f.name: pd.Series(dtype=object) for f in out_schema})
        return _topk_block_scores(cdf, qdf, k,
                                  [f.name for f in out_schema])

    c_blk, q_blk = _split_hot_groups(c, q, group_cols, "neighbor_id", cap,
                                     qcap=qcap)
    scored = (
        c_blk.groupBy(*group_cols, "__blk", "__qblk")
        .cogroup(q_blk.groupBy(*group_cols, "__blk", "__qblk"))
        .applyInPandas(score, out_schema)
    )
    # merge per-block top-ks (<= n_queries * blocks * k rows — tiny)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _topk_block_scores(cdf, qdf, k: int, out_cols: list) -> "pd.DataFrame":
    """Per-query top-k cosine of one (corpus-block, queries) cogroup as
    one BLAS matmul, chunked over queries so the score matrix stays
    ~32MB regardless of how many queries share the group."""
    import numpy as np
    import pandas as pd

    C = np.array([list(map(float, v)) for v in cdf["cv"]])
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    nids = cdf["neighbor_id"].to_numpy()
    rows = []
    qchunk = max(1, (4 << 20) // max(len(cdf), 1))
    for start in range(0, len(qdf), qchunk):
        part = qdf.iloc[start:start + qchunk]
        Q = np.array([list(map(float, v)) for v in part["qv"]])
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        S = Cn @ Qn.T  # (n_corpus_block, n_chunk_queries)
        for qi, qid_val in enumerate(part["query_id"]):
            col = S[:, qi]
            mask = nids != qid_val
            vals, ids = col[mask], nids[mask]
            src = np.nonzero(mask)[0]
            if len(vals) > k:
                # O(n) pre-cut: everything >= the kth-largest score is
                # a tie-safe SUPERSET of the (score desc, id asc) top-k
                # — lexsort only that boundary set, bit-identical to
                # lexsorting the whole block
                kth = np.partition(vals, len(vals) - k)[len(vals) - k]
                cand = np.nonzero(vals >= kth)[0]
                vals, ids, src = vals[cand], ids[cand], src[cand]
            order = np.lexsort((ids, -vals))[:k]
            for oi in order:
                rows.append((qid_val, ids[oi], float(vals[oi])))
    return pd.DataFrame(rows, columns=out_cols)


def ivf_ann_topk_fast(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_centroids: int | None = None,
    n_probe: int = 4,
    seed: int = 42,
    query_id_col: str | None = None,
    hot_cell_cap: int = 65536,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """ivf_ann_topk with vectorized per-cell scoring — the scale path
    for CLUSTERED embedding spaces (where hyperplane LSH degenerates:
    bucket mass tracks cluster mass). Same k-means coarse quantizer and
    probe logic as ivf_ann_topk; the per-cell candidate scoring is a
    numpy matmul per (cell, row-block) cogroup with per-query top-k
    pre-reduction, then a global window merges each query's
    n_probe x blocks cell results (n_queries x n_probe x blocks x k
    rows — tiny). Cells over hot_cell_cap corpus rows are split into
    ~cap-row blocks with queries replicated per block
    (_split_hot_groups), so a dense cell never pins one task's memory.

    centroids=None (live fit): approximate k-means cells AND
    BLAS-summed — rows-only gate; cell-recall tested vs the fold-based
    ivf_ann_topk. n_centroids=None derives sqrt(n) clamped [16, 4096]
    — the standard IVF sizing (cells of ~sqrt(n), probe cost
    n_probe*sqrt(n) per query). The quantizer is fit on a bounded
    deterministic sample (_fit_quantizer) and the corpus keeps its
    vectors through model.transform — no full-corpus fit, no
    post-assignment join.

    centroids given (FROZEN quantizer, the serving shape): cell
    assignment and probe sets use the same sequential-fold Column math
    as ivf_ann_topk_frozen — bit-identical cells to the SQL oracle —
    and only the in-cell scoring is BLAS, which matches the fold cosine
    after the shared 6-decimal rounding (equivalence pinned in
    tests/test_ann_clusters.py; exact oracle on ann_ivf_topk_fast).
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import types as T

    qid = query_id_col or id_col
    if centroids is not None:
        dim = len(centroids[0])
        q = queries.select(
            F.col(qid).alias("query_id"),
            _guard_dim(F.col(vec_col), dim, "ivf_ann_topk_fast").alias("qv"),
        ).withColumn(
            "cell",
            F.explode(F.transform(
                F.slice(F.array_sort(
                    _frozen_cell_pairs(F.col("qv"), centroids)),
                    1, min(n_probe, len(centroids))),
                lambda s: s["i"],
            )),
        )
        c_cells = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _guard_dim(F.col(vec_col), dim, "ivf_ann_topk_fast").alias("cv"),
        ).withColumn(
            "cell",
            F.array_min(_frozen_cell_pairs(F.col("cv"), centroids))["i"],
        )
        return _bucketed_blas_topk(
            c_cells, q, ["cell"], k,
            queries.schema[qid].dataType, corpus.schema[id_col].dataType,
            hot_cell_cap,
        )

    # NO scan rebalance: the corpus feeds the live k-means FIT (see
    # ivf_ann_topk — KMeans is partition-sensitive)
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    n = c.count()
    if n_centroids is None:
        n_centroids = min(4096, max(16, int(math.sqrt(n))))
    ml = c.select("neighbor_id", "cv",
                  array_to_vector(F.col("cv").cast("array<double>")).alias("feat"))
    model = _fit_quantizer(ml, n, n_centroids, seed)
    c_cells = model.transform(ml).select("neighbor_id", "cv", "cell")

    # query -> n_probe nearest centroids, computed driver-side (the
    # centroid matrix is tiny) inside the cogroup UDF closure
    centroids = np.array([list(map(float, v)) for v in model.clusterCenters()])
    q = queries.select(F.col(qid).alias("query_id"), F.col(vec_col).alias("qv"))

    probe_schema = T.StructType([
        T.StructField("query_id", queries.schema[qid].dataType),
        T.StructField("qv", queries.schema[vec_col].dataType),
        T.StructField("cell", T.IntegerType()),
    ])

    def probe_cells(batches):
        for pdf in batches:
            Q = np.array([list(map(float, v)) for v in pdf["qv"]])
            top = _nearest_cells(Q, centroids, n_probe)
            rows = []
            for i in range(len(pdf)):
                for cell in top[i]:
                    rows.append((pdf["query_id"].iloc[i],
                                 pdf["qv"].iloc[i], int(cell)))
            yield pd.DataFrame(rows, columns=["query_id", "qv", "cell"])

    probed = q.mapInPandas(probe_cells, probe_schema)

    # merge of each query's n_probe x blocks per-cell top-k lists is tiny
    return _bucketed_blas_topk(
        c_cells, probed, ["cell"], k,
        queries.schema[qid].dataType, corpus.schema[id_col].dataType,
        hot_cell_cap,
    )


def lsh_ann_topk_fast(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_planes: int | None = None,
    dim: int = 64,
    query_id_col: str | None = None,
    hot_bucket_cap: int = 65536,
    n_probes: int = 1,
) -> DataFrame:
    """lsh_ann_topk with vectorized in-bucket scoring — the 100x path.

    The fold-based lsh_ann_topk evaluates cosine as a zip_with +
    aggregate higher-order expression, which Spark runs INTERPRETED
    per array element — measured ~100s for 5.4M candidate pairs at a
    200k-vector corpus, with the candidate join itself at 9s. Here
    each (bucket, row-block) cogroup is scored as one numpy matmul
    (corpus block x that bucket's queries) and pre-reduced to
    per-query top-k inside the group; buckets over hot_bucket_cap
    corpus rows split into ~cap-row blocks with the bucket's queries
    replicated per block (_split_hot_groups — hyperplane buckets track
    cluster mass, so one hot bucket would otherwise land on one task),
    and a global window re-ranks the union of block top-ks (exactly
    the unsplit top-k: every corpus row is in one block and each block
    keeps k). Results can differ from the fold version in the last ulp
    (BLAS summation order), so the fold variant stays the oracle-gated
    baseline and this one is equivalence-tested (same pattern as
    brute_force_topk_fast).

    n_planes=None derives bucket granularity from a corpus count
    (bucket size ~64: planes = log2(n/64), clamped [8, 24]). Note the
    LSH-on-clustered-data caveat: hyperplanes rarely separate vectors
    of a tight cluster (P[split] = angle/pi per plane), so bucket
    population tracks cluster mass no matter how many planes — for
    strongly clustered embedding spaces use ivf_ann_topk, whose
    centroids adapt to the clusters.
    """
    import math

    if n_planes is None:
        n = corpus.count()
        n_planes = min(24, max(8, math.ceil(math.log2(max(n, 128) / 64))))
    planes = _hyperplanes(n_planes, dim)
    qid = query_id_col or id_col
    q = _probed_queries(queries, qid, vec_col, planes, n_probes)
    # the per-row bucket dot folds run before the cogroup shuffle, at
    # the scan's split count: rebalance first (see brute_force_topk)
    c = ensure_min_partitions(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        lsh_bucket(vec_col, planes).alias("bucket"),
    )
    return _bucketed_blas_topk(
        c, q, ["bucket"], k,
        queries.schema[qid].dataType, corpus.schema[id_col].dataType,
        hot_bucket_cap,
    )


def _pq_fit_codebooks(X, m_sub: int, n_codes: int, seed: int,
                      iters: int = 10):
    """Driver-side Lloyd k-means per PQ subspace over the bounded
    residual SAMPLE (never the corpus — same training-cost contract as
    _fit_quantizer: O(sample * n_codes * dsub * iters), corpus-size
    independent). Deterministic: initial centroids are the first
    n_codes rows of an md5-ordered permutation of the sample; empty
    clusters keep their previous centroid. Returns (m_sub, k, dsub)."""
    import numpy as np

    n, d = X.shape
    dsub = d // m_sub
    k = min(n_codes, n)
    order = sorted(range(n),
                   key=lambda i: hashlib.md5(f"pq:{seed}:{i}".encode())
                   .hexdigest())
    books = []
    for j in range(m_sub):
        S = X[:, j * dsub:(j + 1) * dsub]
        C = S[order[:k]].copy()
        for _ in range(iters):
            d2 = ((S * S).sum(1)[:, None] + (C * C).sum(1)[None, :]
                  - 2.0 * (S @ C.T))
            a = np.argmin(d2, axis=1)
            for ci in range(k):
                m = a == ci
                if m.any():
                    C[ci] = S[m].mean(axis=0)
        books.append(C)
    return np.stack(books)


def _normalize_rows(M):
    import numpy as np

    nrm = np.linalg.norm(M, axis=1, keepdims=True)
    nrm[nrm == 0.0] = 1.0
    return M / nrm


def ivf_pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_centroids: int | None = None,
    n_probe: int = 4,
    m_sub: int = 8,
    n_codes: int = 256,
    refine: int = 4,
    seed: int = 42,
    query_id_col: str | None = None,
    hot_cell_cap: int = 65536,
) -> DataFrame:
    """IVF-PQ ANN with exact re-rank — the compressed-index path for a
    corpus whose RAW vectors are too big to keep hot. The serving
    index stores m_sub bytes per vector (PQ codes) plus a cell id
    instead of 4*dim bytes of floats — 32x smaller at dim=64/m_sub=8 —
    so at 100 TB of raw embeddings the scannable index is ~3 TB and
    each query still touches only ~n_probe/n_centroids of it.

    Pipeline (the standard FAISS IVFPQ+refine shape, built from public
    literature: Jegou et al. 2011, "Product Quantization for Nearest
    Neighbor Search"):
      1. normalize vectors (cosine == L2 order on the unit sphere);
      2. coarse k-means quantizer, SAMPLE-fit (_fit_quantizer);
      3. per-subspace PQ codebooks, driver-fit on a bounded seeded
         residual sample (_pq_fit_codebooks), corpus encoded to
         m_sub uint8 codes in one Arrow-batched pass;
      4. queries probe n_probe cells; each (cell, block) cogroup is
         scored by ADC — one (m_sub x n_codes) lookup table per query
         against the block's code matrix, no float vectors touched —
         keeping the refine*k best candidates per block under the
         same _split_hot_groups bound as every other fast path;
      5. exact re-rank: the surviving candidate ids (nq * refine * k
         rows — tiny) broadcast-join back to the RAW vectors and the
         final top-k is exact cosine over them.

    Approximate (k-means cells + PQ distances decide the candidate
    set) -> rows-only gate; recall vs brute force and split==unsplit
    equivalence live in tests/test_ann_clusters.py.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import types as T

    from dozer_spark.operators.hints import cache_materialized, maybe_broadcast

    qid = query_id_col or id_col
    c_raw = corpus.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).alias("cv"))
    dim = len(c_raw.select("cv").first()[0])
    if dim % m_sub != 0:
        raise ValueError(
            f"ivf_pq_ann_topk: dim {dim} not divisible by m_sub {m_sub}")
    dsub = dim // m_sub

    # normalized corpus: cosine order == L2 order on the unit sphere,
    # so the coarse cells, residuals, and ADC all live in one metric
    nrm = F.sqrt(F.aggregate(
        F.transform(F.col("cv"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, x: a + x))
    cn = c_raw.withColumn("__nrm", nrm).select(
        "neighbor_id",
        F.transform(
            F.col("cv"),
            lambda x: x.cast("double")
            / F.when(F.col("__nrm") == 0.0, F.lit(1.0)).otherwise(F.col("__nrm")),
        ).alias("cv"),
    )
    n = cn.count()
    if n_centroids is None:
        n_centroids = min(4096, max(16, int(math.sqrt(n))))
    ml = cn.select("neighbor_id", "cv",
                   array_to_vector(F.col("cv")).alias("feat"))
    model = _fit_quantizer(ml, n, n_centroids, seed)
    c_cells = cache_materialized(
        model.transform(ml).select("neighbor_id", "cv", "cell"))
    centroids = np.array([list(map(float, v)) for v in model.clusterCenters()])

    # PQ codebooks: driver Lloyd on a bounded seeded residual sample
    target = 39 * n_codes
    fit_set = c_cells
    if n > target:
        ppm = max(1, min(1_000_000, int(1_000_000 * target * 1.05 / n)))
        fit_set = c_cells.filter(
            F.pmod(F.xxhash64(F.col("neighbor_id"), F.lit(seed + 1)),
                   F.lit(1_000_000)) < F.lit(ppm))
    sample = fit_set.select("cv", "cell").collect()
    V = np.array([list(map(float, r["cv"])) for r in sample])
    R = V - centroids[np.array([r["cell"] for r in sample])]
    books = _pq_fit_codebooks(R, m_sub, n_codes, seed)

    # encode: ONE Arrow-batched pass corpus -> (neighbor_id, cell,
    # m_sub-byte code) — the compressed index
    code_schema = T.StructType([
        T.StructField("neighbor_id", corpus.schema[id_col].dataType),
        T.StructField("cell", T.IntegerType()),
        T.StructField("codes", T.BinaryType()),
    ])

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            Vb = np.array([list(map(float, v)) for v in pdf["cv"]])
            Rb = Vb - centroids[pdf["cell"].to_numpy()]
            codes = np.empty((len(pdf), m_sub), dtype=np.uint8)
            for j in range(m_sub):
                S = Rb[:, j * dsub:(j + 1) * dsub]
                B = books[j]
                d2 = ((S * S).sum(1)[:, None] + (B * B).sum(1)[None, :]
                      - 2.0 * (S @ B.T))
                codes[:, j] = np.argmin(d2, axis=1).astype(np.uint8)
            yield pd.DataFrame({
                "neighbor_id": pdf["neighbor_id"],
                "cell": pdf["cell"].astype("int32"),
                "codes": [codes[i].tobytes() for i in range(len(pdf))],
            })

    c_codes = c_cells.mapInPandas(encode, code_schema)

    # query probe: normalize, n_probe nearest cells
    q_raw = queries.select(F.col(qid).alias("query_id"),
                           F.col(vec_col).alias("qv"))
    probe_schema = T.StructType([
        T.StructField("query_id", queries.schema[qid].dataType),
        T.StructField("qv", T.ArrayType(T.DoubleType())),
        T.StructField("cell", T.IntegerType()),
    ])

    def probe_cells(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            Q = _normalize_rows(
                np.array([list(map(float, v)) for v in pdf["qv"]]))
            top = _nearest_cells(Q, centroids, n_probe)
            rows = []
            for i in range(len(pdf)):
                for cell in top[i]:
                    rows.append((pdf["query_id"].iloc[i],
                                 list(Q[i]), int(cell)))
            yield pd.DataFrame(rows, columns=["query_id", "qv", "cell"])

    probed = q_raw.mapInPandas(probe_cells, probe_schema)

    # ADC candidate stage: per-(cell, block) cogroup, LUT per query,
    # keep refine*k best per block (same bound as every fast path)
    n_cand = refine * k
    adc_schema = T.StructType([
        T.StructField("query_id", queries.schema[qid].dataType),
        T.StructField("neighbor_id", corpus.schema[id_col].dataType),
        T.StructField("adc", T.DoubleType()),
    ])

    def adc_score(key, cdf, qdf):
        if cdf.empty or qdf.empty:
            return pd.DataFrame(
                {f.name: pd.Series(dtype=object) for f in adc_schema})
        cell = int(cdf["cell"].iloc[0])
        C = np.frombuffer(b"".join(cdf["codes"]), dtype=np.uint8)
        C = C.reshape(len(cdf), m_sub)
        nids = cdf["neighbor_id"].to_numpy()
        rows = []
        sub = np.arange(m_sub)
        for qi in range(len(qdf)):
            qres = (np.array(list(map(float, qdf["qv"].iloc[qi])))
                    - centroids[cell])
            Rq = qres.reshape(m_sub, 1, dsub)
            lut = ((Rq - books) ** 2).sum(-1)  # (m_sub, n_codes)
            d = lut[sub[None, :], C].sum(axis=1)
            qid_val = qdf["query_id"].iloc[qi]
            mask = nids != qid_val
            dd, ids = d[mask], nids[mask]
            if len(dd) > n_cand:
                # O(n) pre-cut (see _topk_block_scores): <= the
                # n_cand-th smallest distance is a tie-safe superset
                kth = np.partition(dd, n_cand - 1)[n_cand - 1]
                cand = np.nonzero(dd <= kth)[0]
                dd, ids = dd[cand], ids[cand]
            order = np.lexsort((ids, dd))[:n_cand]
            for oi in order:
                rows.append((qid_val, ids[oi], float(dd[oi])))
        return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "adc"])

    c_blk, q_blk = _split_hot_groups(c_codes, probed, ["cell"],
                                     "neighbor_id", hot_cell_cap)
    scored = (
        c_blk.groupBy("cell", "__blk", "__qblk")
        .cogroup(q_blk.groupBy("cell", "__blk", "__qblk"))
        .applyInPandas(adc_score, adc_schema)
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"),
                                               F.asc("neighbor_id"))
    cands = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_cand)
        .select("query_id", "neighbor_id")
    )

    # exact re-rank on RAW vectors: candidate ids are nq*refine*k rows
    # — broadcast them into the corpus scan, never the reverse
    refined = (
        c_raw.join(maybe_broadcast(cache_materialized(cands)), "neighbor_id")
        .join(maybe_broadcast(q_raw), "query_id")
        .withColumn("cosine", cosine_sim(F.col("qv"), F.col("cv")))
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                                F.asc("neighbor_id"))
    return (
        refined.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _resent_tombstones(ids_tx, rows: DataFrame, bucket_col: str):
    """O(matched id-buckets) resent-id probe for a streaming ANN index:
    the slim (neighbor_id -> bucket/cell) state is bucketed by id, so
    reading only the batch ids' hash buckets provably sees every
    previously-indexed image of those ids. Returns old-bucket tombstone
    rows (key + payload + __del) for re-sent ids, or None when the
    batch is append-only — replacing the per-epoch full-state id scan
    (ADVICE r11: durable ingest must stay O(batch), not O(accumulated
    state), for append-only streams)."""
    bids = ids_tx.touched_bucket_ids(rows.select("neighbor_id"))
    prev = ids_tx.read_live_pruned(bids).select(
        "neighbor_id", F.col(bucket_col).alias("__old"))
    tomb = (
        rows.join(prev, "neighbor_id")
        .select("neighbor_id", "cv", F.col("__old").alias(bucket_col))
        .withColumn("__del", F.lit(True))
    )
    return tomb if tomb.limit(1).count() > 0 else None


def _open_ids_state(spark, store, state_dir: str, name: str,
                    meta_key: str, cls: str):
    """The slim per-id DiffStateTable of a durable ANN index, resuming
    its committed log position. A pre-r12 state dir (wide state only,
    no slim id table) cannot resume — fail loudly with the rebuild
    instruction, mirroring StreamingFuzzyIndex."""
    from dozer_spark.streaming.incstate import (
        DiffStateTable,
        diff_state_path,
    )

    ids_tx = DiffStateTable(
        spark, diff_state_path(state_dir, name), key_cols=["neighbor_id"])
    if store.epoch > 0:
        ids_meta = store.load_meta(meta_key)
        if ids_meta is None:
            raise ValueError(
                f"{cls}: durable state at {state_dir!r} predates the "
                "slim id-table layout (no per-id state); delete the "
                "state dir to rebuild"
            )
        ids_tx.read_committed(ids_meta)
    return ids_tx


class StreamingAnnIndex:
    """Incrementally maintained LSH ANN index: vector batches append to
    a bucketed corpus state (one bucket computation per NEW vector,
    never recomputing old ones); query batches probe only their bucket
    — the streaming-ingest face of lsh_ann_topk.

    State = (neighbor_id, cv, bucket): one row per vector, delta-log
    DiffStateTable when durable (O(batch) epoch IO, shared crash
    contract), hash-laid-out BY THE LSH BUCKET (bucket_cols=["bucket"])
    so a serving probe reads only the state buckets the queries hash
    to — O(probed buckets), not O(corpus). The bucket assignment is a
    deterministic function of the vector (md5-derived hyperplanes), so
    an index built across ANY batch partitioning serves identical
    results to the one-shot batch build — which is the exact oracle
    cdc_streaming_ann_index replays.
    """

    def __init__(self, spark, vec_col: str, id_col: str,
                 n_planes: int = 8, dim: int = 64,
                 state_dir: str | None = None, state_buckets: int = 64):
        self.spark = spark
        self.vec_col = vec_col
        self.id_col = id_col
        self.n_planes = n_planes
        self.dim = dim
        self._corpus = None  # ephemeral: (neighbor_id, cv, bucket)
        self._store = None
        if state_dir is not None:
            from dozer_spark.streaming.incstate import (
                DiffStateTable,
                diff_state_path,
            )
            from dozer_spark.streaming.state import StateStore

            self._store = StateStore(spark, state_dir)
            from dozer_spark.streaming.dedup import _check_state_geometry

            _check_state_geometry(
                self._store, "ann_geom",
                {"n_planes": self.n_planes, "dim": self.dim},
                "StreamingAnnIndex",
            )
            self._tx = DiffStateTable(
                spark, diff_state_path(state_dir, "ann"),
                key_cols=["neighbor_id"],
                bucket_cols=["bucket"], n_buckets=state_buckets,
            )
            self._ids_tx = _open_ids_state(
                spark, self._store, state_dir, "ann_ids", "ann_ids_txv",
                "StreamingAnnIndex")
            if self._store.epoch > 0:
                # restore the log position; probes read bucket-pruned
                self._tx.read_committed(self._store.load_meta("ann_txv"))

    def add_batch(self, vectors: DataFrame) -> None:
        """Index a batch of new vectors (upsert by id: a re-sent vector
        replaces its old image — its bucket moves with it). Duplicate
        ids WITHIN a batch reduce to one row deterministically (the
        lexicographically-greatest vector digest wins) — otherwise topk
        could return the same neighbor at two ranks."""
        planes = _hyperplanes(self.n_planes, self.dim)
        vdigest = F.md5(
            F.concat_ws(
                ",", F.transform(F.col(self.vec_col),
                                 lambda x: x.cast("string"))
            )
        )
        w = Window.partitionBy(self.id_col).orderBy(F.desc(vdigest))
        rows = (
            vectors.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .select(
                F.col(self.id_col).alias("neighbor_id"),
                F.col(self.vec_col).alias("cv"),
                lsh_bucket(self.vec_col, planes).alias("bucket"),
            )
        )
        if self._store is not None:
            rows = rows.persist()
            # re-sent ids may MOVE buckets (the bucket is a function of
            # the vector), so the bucket-laid-out state must tombstone
            # the old image in its old bucket before inserting the new
            # one. Append-only epochs (the common case) skip the probe
            # via the limit(1) short-circuit and land as fresh-keys
            # deltas (shuffle-free probe reads).
            delta = rows.withColumn("__del", F.lit(False))
            fresh = True
            if self._store.epoch > 0:
                # resent-id probe on the slim (id -> bucket) state,
                # pruned to the batch ids' hash buckets — O(batch) per
                # append-only epoch, never a full-state scan; the old
                # image's bucket comes from the slim state, so the
                # tombstones never read the wide vector state at all
                tomb = _resent_tombstones(self._ids_tx, rows, "bucket")
                if tomb is not None:
                    fresh = False
                    delta = delta.unionByName(tomb)
            meta = self._tx.advance(
                delta, epoch=self._store.epoch + 1, app_id="ann_idx",
                fresh_keys=fresh,
            )
            ids_meta = self._ids_tx.advance(
                rows.select("neighbor_id", "bucket")
                .withColumn("__del", F.lit(False)),
                epoch=self._store.epoch + 1, app_id="ann_idx_ids",
                fresh_keys=fresh,
            )
            self._store.stage_meta("ann_txv", meta)
            self._store.stage_meta("ann_ids_txv", ids_meta)
            self._store.stage_meta(
                "ann_geom", {"n_planes": self.n_planes, "dim": self.dim})
            self._store.commit()
            rows.unpersist()
        else:
            merged = (
                rows if self._corpus is None
                else self._corpus.join(
                    rows.select("neighbor_id"), "neighbor_id", "left_anti"
                ).unionByName(rows)
            )
            self._corpus = merged.localCheckpoint(eager=True)

    def _live_corpus(self, probe_buckets) -> DataFrame:
        """The corpus rows a probe can match: durable indexes read ONLY
        the state buckets the probe's LSH buckets hash to; ephemeral
        indexes return the in-memory frame."""
        if self._store is not None:
            if self._store.epoch == 0:
                raise ValueError("index is empty — add_batch first")
            bids = self._tx.touched_bucket_ids(probe_buckets)
            return self._tx.read_live_pruned(bids)
        if self._corpus is None:
            raise ValueError("index is empty — add_batch first")
        return self._corpus

    def topk(self, queries: DataFrame, k: int = 5,
             query_id_col: str | None = None) -> DataFrame:
        """Top-k neighbors from the CURRENT index for each query vector
        (same plan as the batch lsh_ann_topk probe: bounded query set
        broadcast into the bucket join, per-query window top-k; durable
        state is read bucket-pruned — O(probed buckets))."""
        planes = _hyperplanes(self.n_planes, self.dim)
        qid = query_id_col or self.id_col
        q = queries.select(
            F.col(qid).alias("query_id"),
            F.col(self.vec_col).alias("qv"),
            lsh_bucket(self.vec_col, planes).alias("bucket"),
        )
        corpus = self._live_corpus(q.select("bucket"))
        # per-side norms below the join: same bits, 2/3 less per-pair
        # fold work (see brute_force_topk)
        q = q.withColumn("__qn", _norm(F.col("qv")))
        corpus = corpus.withColumn("__cn", _norm(F.col("cv")))
        scored = (
            corpus.join(F.broadcast(q), "bucket")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn(
                "cosine",
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("__qn") * F.col("__cn")),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id", "neighbor_id",
                F.round("cosine", 6).alias("cosine"),
                F.col("rank").cast("long").alias("rank"),
            )
        )

    def topk_fast(self, queries: DataFrame, k: int = 5,
                  query_id_col: str | None = None,
                  hot_bucket_cap: int = 65536) -> DataFrame:
        """BLAS serving probe: same candidates as topk, scored as one
        matmul per (bucket, block) cogroup instead of the interpreted
        zip_with/aggregate fold — the serving-rate path when query
        batches are large (the fold probe was the last interpreted
        cosine in the ANN family). Results can differ from topk in the
        last ulp (BLAS summation order), so topk stays the oracle-gated
        contract (cdc_streaming_ann_index) and this path is
        equivalence-tested against it, same as the batch fast variants.
        Hot buckets split at hot_bucket_cap via the shared
        _bucketed_blas_topk bound."""
        planes = _hyperplanes(self.n_planes, self.dim)
        qid = query_id_col or self.id_col
        q = queries.select(
            F.col(qid).alias("query_id"),
            F.col(self.vec_col).alias("qv"),
            lsh_bucket(self.vec_col, planes).alias("bucket"),
        )
        corpus = self._live_corpus(q.select("bucket"))
        return _bucketed_blas_topk(
            corpus, q, ["bucket"], k,
            queries.schema[qid].dataType,
            corpus.schema["neighbor_id"].dataType,
            hot_bucket_cap,
        )


class IvfAnnIndex:
    """Incrementally maintained IVF ANN index — the clustered-space
    counterpart of StreamingAnnIndex and the API that actually delivers
    the fit-amortization the batch path can only note in prose: the
    coarse quantizer is fit ONCE (sample-fit via _fit_quantizer, on the
    first batch), then FROZEN — every later batch assigns its vectors
    to the existing cells and every probe reuses them, the standard IVF
    serving contract (FAISS: train once, add forever; reference parity:
    dozer has no ANN surface — this is part of the beyond-reference
    training-data layer).

    State = (neighbor_id, cv, cell): one row per vector, delta-log
    DiffStateTable when durable. The centroid matrix persists in
    StateStore meta, so a resumed index serves the IDENTICAL cells;
    geometry (n_centroids, dim, seed) is guarded the same way as the
    other durable operators — a mismatched resume raises instead of
    silently assigning against different centroids.

    Because the quantizer freezes at the first batch, recall depends on
    that batch being representative of the stream (the same assumption
    FAISS's add-after-train makes). For a drifted corpus, rebuild the
    index; detecting drift is the caller's policy, not the index's.
    """

    def __init__(self, spark, vec_col: str, id_col: str,
                 n_centroids: int | None = None, seed: int = 42,
                 state_dir: str | None = None, state_buckets: int = 64):
        self.spark = spark
        self.vec_col = vec_col
        self.id_col = id_col
        self.n_centroids = n_centroids
        self.seed = seed
        self._centroids = None  # list[list[float]] once fit
        self._corpus = None     # ephemeral: (neighbor_id, cv, cell)
        self._store = None
        if state_dir is not None:
            from dozer_spark.streaming.dedup import _check_state_geometry
            from dozer_spark.streaming.incstate import (
                DiffStateTable,
                diff_state_path,
            )
            from dozer_spark.streaming.state import StateStore

            self._store = StateStore(spark, state_dir)
            _check_state_geometry(
                self._store, "ivf_geom",
                {"n_centroids": self.n_centroids, "seed": self.seed},
                "IvfAnnIndex",
            )
            self._tx = DiffStateTable(
                spark, diff_state_path(state_dir, "ivf"),
                key_cols=["neighbor_id"],
                bucket_cols=["cell"], n_buckets=state_buckets,
            )
            self._ids_tx = _open_ids_state(
                spark, self._store, state_dir, "ivf_ids", "ivf_ids_txv",
                "IvfAnnIndex")
            if self._store.epoch > 0:
                meta = self._store.load_meta("ivf_centroids")
                self._centroids = meta["centroids"]
                # restore the log position; probes read cell-pruned
                self._tx.read_committed(self._store.load_meta("ivf_txv"))

    def _fit(self, batch: DataFrame) -> None:
        import math

        from pyspark.ml.functions import array_to_vector

        c = batch.select(F.col(self.id_col).alias("neighbor_id"),
                         F.col(self.vec_col).alias("cv"))
        n = c.count()
        if n == 0:
            raise ValueError("cannot fit the IVF quantizer on an "
                             "empty first batch")
        k = self.n_centroids or min(4096, max(16, int(math.sqrt(n))))
        ml = c.select(
            "neighbor_id", "cv",
            array_to_vector(F.col("cv").cast("array<double>")).alias("feat"))
        model = _fit_quantizer(ml, n, k, self.seed)
        self._centroids = [list(map(float, v))
                           for v in model.clusterCenters()]

    def _assign(self, vectors: DataFrame) -> DataFrame:
        """(neighbor_id, cv, cell) for a batch — one matmul-expanded
        nearest-centroid pass per Arrow batch, centroids in the UDF
        closure (tiny)."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        C = np.array(self._centroids)
        schema = T.StructType([
            T.StructField("neighbor_id",
                          vectors.schema[self.id_col].dataType),
            T.StructField("cv", vectors.schema[self.vec_col].dataType),
            T.StructField("cell", T.IntegerType()),
        ])
        src = vectors.select(F.col(self.id_col).alias("neighbor_id"),
                             F.col(self.vec_col).alias("cv"))

        def assign(batches):
            for pdf in batches:
                Q = np.array([list(map(float, v)) for v in pdf["cv"]])
                cells = _nearest_cells(Q, C, 1)[:, 0]
                yield pd.DataFrame({
                    "neighbor_id": pdf["neighbor_id"],
                    "cv": pdf["cv"],
                    "cell": cells.astype("int32"),
                })

        return src.mapInPandas(assign, schema)

    def add_batch(self, vectors: DataFrame) -> None:
        """Index a batch (upsert by id, same within-batch dedup rule as
        StreamingAnnIndex: the lexicographically-greatest vector digest
        wins). The FIRST batch also fits the quantizer."""
        if self._centroids is None:
            self._fit(vectors)
        vdigest = F.md5(
            F.concat_ws(
                ",", F.transform(F.col(self.vec_col),
                                 lambda x: x.cast("string"))
            )
        )
        w = Window.partitionBy(self.id_col).orderBy(F.desc(vdigest))
        uniq = (
            vectors.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        rows = self._assign(uniq)
        if self._store is not None:
            rows = rows.persist()
            # bucket-moving re-sends: tombstone old images (see
            # StreamingAnnIndex.add_batch); append-only epochs are
            # fresh-keys deltas
            delta = rows.withColumn("__del", F.lit(False))
            fresh = True
            if self._store.epoch > 0:
                # O(batch) resent probe on the slim (id -> cell) state
                # (see StreamingAnnIndex / _resent_tombstones)
                tomb = _resent_tombstones(self._ids_tx, rows, "cell")
                if tomb is not None:
                    fresh = False
                    delta = delta.unionByName(tomb)
            meta = self._tx.advance(
                delta, epoch=self._store.epoch + 1, app_id="ivf_idx",
                fresh_keys=fresh,
            )
            ids_meta = self._ids_tx.advance(
                rows.select("neighbor_id", "cell")
                .withColumn("__del", F.lit(False)),
                epoch=self._store.epoch + 1, app_id="ivf_idx_ids",
                fresh_keys=fresh,
            )
            self._store.stage_meta("ivf_txv", meta)
            self._store.stage_meta("ivf_ids_txv", ids_meta)
            self._store.stage_meta("ivf_geom", {
                "n_centroids": self.n_centroids, "seed": self.seed})
            self._store.stage_meta("ivf_centroids",
                                   {"centroids": self._centroids})
            self._store.commit()
            rows.unpersist()
        else:
            merged = (
                rows if self._corpus is None
                else self._corpus.join(
                    rows.select("neighbor_id"), "neighbor_id", "left_anti"
                ).unionByName(rows)
            )
            self._corpus = merged.localCheckpoint(eager=True)

    def topk(self, queries: DataFrame, k: int = 5, n_probe: int = 4,
             query_id_col: str | None = None,
             hot_cell_cap: int = 65536) -> DataFrame:
        """Top-k neighbors from the CURRENT index: each query probes its
        n_probe nearest cells (matmul-expanded, no driver work), scored
        through the shared _bucketed_blas_topk bound. BLAS-summed ->
        rows-only gate; equivalence vs the one-shot batch build is
        pytest-pinned. Durable state is laid out by cell and read
        CELL-pruned — O(probed cells), not O(corpus)."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        if self._corpus is None and (
                self._store is None or self._store.epoch == 0):
            raise ValueError("index is empty — add_batch first")
        C = np.array(self._centroids)
        qid = query_id_col or self.id_col
        q = queries.select(F.col(qid).alias("query_id"),
                           F.col(self.vec_col).alias("qv"))
        probe_schema = T.StructType([
            T.StructField("query_id", queries.schema[qid].dataType),
            T.StructField("qv", queries.schema[self.vec_col].dataType),
            T.StructField("cell", T.IntegerType()),
        ])

        def probe(batches):
            for pdf in batches:
                Q = np.array([list(map(float, v)) for v in pdf["qv"]])
                top = _nearest_cells(Q, C, n_probe)
                rows = []
                for i in range(len(pdf)):
                    for cell in top[i]:
                        rows.append((pdf["query_id"].iloc[i],
                                     pdf["qv"].iloc[i], int(cell)))
                yield pd.DataFrame(rows,
                                   columns=["query_id", "qv", "cell"])

        probed = q.mapInPandas(probe, probe_schema)
        if self._store is not None:
            from dozer_spark.operators.hints import cache_materialized

            probed = cache_materialized(probed)
            corpus = self._tx.read_live_pruned(
                self._tx.touched_bucket_ids(probed.select("cell")))
        else:
            corpus = self._corpus
        return _bucketed_blas_topk(
            corpus, probed, ["cell"], k,
            queries.schema[qid].dataType,
            corpus.schema["neighbor_id"].dataType,
            hot_cell_cap,
        )
