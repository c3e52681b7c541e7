"""Size-gated join hints.

A hard-coded `F.broadcast(df)` is a scale landmine: the hint overrides
Spark's own size checks, so a table that fits at sf0.1 OOM-kills
executors when the corpus is 1000x bigger. The fix is to make the hint
conditional on Catalyst's own size estimate (file-size based for scans,
propagated through projections/filters) and otherwise emit NO hint —
AQE then picks broadcast at runtime if the actual size allows, or a
shuffled join if not. Either way the plan is valid at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Default gate for doc-side tables (id + token/gram arrays). Deliberately
# larger than spark.sql.autoBroadcastJoinThreshold (the estimate is of the
# pre-projection plan; the joined payload is one row per doc), but small
# enough that a real corpus (>> GB) never gets pinned to a broadcast.
BROADCAST_GATE_BYTES = 256 << 20


def estimated_plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes estimate for df's optimized logical plan.

    File-backed scans report real file sizes; unknown relations report
    spark.sql.defaultSizeInBytes (Long.MaxValue) which correctly fails
    the gate. Returns None when the JVM plan is unreachable (e.g. Spark
    Connect) — callers must treat None as "too big"."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


# Rebalance bound for CPU-heavy scans: a shuffle under this many bytes
# is trivial next to per-token hashing, so spending it to GUARANTEE
# slot-wide balance is always worth it. Past it, real corpora have
# enough actual row groups/files that the split count is trustworthy.
CHEAP_REBALANCE_BYTES = 8 << 30


# An UNDERPARTITIONED in-memory frame is exempted from the skip when
# Catalyst knows its size and it is at least this many bytes: a cached
# changelog / createDataFrame result coalesced to 1 partition above
# this would otherwise pin heavy downstream ops to one task. Unknown
# estimates (defaultSizeInBytes ~ Long.MaxValue, e.g. applyInPandas
# outputs) stay skipped — treating "unknown" as "big" would re-insert
# the per-epoch shuffle the gate exists to avoid.
IN_MEMORY_REBALANCE_BYTES = 64 << 20
_UNKNOWN_EST = 1 << 60


def ensure_min_partitions(df: DataFrame, min_parts: int | None = None,
                          force: bool = False) -> DataFrame:
    """Repartition a CPU-heavy scan input so every slot gets real work.

    Two triggers:
    - fewer planned partitions than ~half the cluster's slots (a small
      file would pin per-token hashing to one task);
    - partition count LOOKS fine but the input is a FILE scan small
      enough that rebalancing is trivial (estimated bytes under
      CHEAP_REBALANCE_BYTES). This catches the single-giant-row-group
      pathology: parquet splits can only begin at row-group boundaries,
      so a 150 MB file written as ONE row group (single-writer default)
      plans ~30 splits of which 29 are EMPTY — partition count alone
      can't prove balance, and the whole hash scan lands on one task
      (measured 20x stragglers on the generated 100x corpus). At real
      data sizes the estimate exceeds the bound and the input's own
      splits carry the parallelism — no shuffle is paid.

    BOTH triggers are gated to file-backed plans: only file scans have
    the few-splits / empty-splits problems, while in-memory frames
    (streaming micro-batches, cached changelogs) are row-balanced by
    whatever produced them and are usually small — paying a
    repartition shuffle PER EPOCH inside Streaming{MinHash,SimHash}
    Dedup is pure overhead, so an underpartitioned in-memory frame
    keeps its partitioning. Two escape hatches for the case that skip
    would hurt (a LARGE in-memory frame squeezed to few partitions):
    an underpartitioned in-memory frame whose Catalyst estimate is
    KNOWN and >= IN_MEMORY_REBALANCE_BYTES is rebalanced anyway, and a
    batch caller that knows better can pass force=True to apply the
    underpartition trigger regardless of backing.
    `file_backed` is a leaf test: a plan that JOINS a file scan
    against cached state, or a cached file-scan df, still qualifies —
    acceptable, since the file side's splits still dominate its
    balance; revisit with an InMemoryRelation check only if per-epoch
    shuffles on cached frames show up in profiles.
    """
    try:
        sc = df.sparkSession.sparkContext
        target = min_parts or sc.defaultParallelism
        n_parts = df.rdd.getNumPartitions()
    except Exception:
        # Spark Connect (no JVM-local rdd access) or any estimator
        # failure: degrade to the unhinted frame, mirroring
        # estimated_plan_bytes' None fallback.
        return df
    try:
        file_backed = bool(df.inputFiles())
    except Exception:
        file_backed = False
    # A/B knob (SCALING.md evidence): "always" restores the pre-gate
    # behavior — both rebalance triggers fire regardless of file
    # backing — so the cost/benefit of the in-memory skip is measurable
    # under bench.py without a code edit. Default is the gated design.
    import os as _os

    if _os.environ.get("SPARK_GRAFT_REBALANCE_MODE") == "always":
        file_backed = True
    underpartitioned = n_parts < max(2, target // 2)
    if not file_backed:
        if force and underpartitioned:
            return df.repartition(target)
        if underpartitioned:
            est = estimated_plan_bytes(df)
            if (est is not None
                    and IN_MEMORY_REBALANCE_BYTES <= est < _UNKNOWN_EST):
                return df.repartition(target)
        return df
    if underpartitioned:
        return df.repartition(target)
    est = estimated_plan_bytes(df)
    if est is not None and est < CHEAP_REBALANCE_BYTES:
        return df.repartition(max(target, n_parts))
    return df


def cache_materialized(df: DataFrame) -> DataFrame:
    """Cache df and force materialization so Catalyst's stats for the
    InMemoryRelation reflect the REAL cached size. Plans built afterward
    (e.g. `maybe_broadcast` of a key set derived from a micro-batch) then
    gate on actual bytes instead of the unknown-relation default, which
    would otherwise refuse the hint for every in-memory changelog. The
    count is one cheap job; the scan it pays for would run anyway at the
    first downstream action (and lands in the cache)."""
    c = df.cache()
    c.count()
    return c


def cache_for_gate(df: DataFrame) -> DataFrame:
    """Cache df for a `maybe_broadcast` gate that plans read later, and
    pay the materializing count only when the gate needs it. A lazy
    cache reports its child's estimate: a file scan or a materialized
    cache upstream already gives a size that clears the gate, while an
    unknown one (a checkpoint-backed LogicalRDD, createDataFrame rows)
    reads near Long.MaxValue and would refuse the hint for every ordinary
    batch — only then does the count run, after which the
    InMemoryRelation reports real bytes. The estimate is read off a
    fresh projection: a frame keeps the stats of its first planning."""
    c = df.cache()
    est = estimated_plan_bytes(c.select("*"))
    if est is None or est > BROADCAST_GATE_BYTES:
        c.count()
    return c


# Catalyst's defaultSize for ArrayType/MapType is ONE element's width,
# so a projection carrying a 50-element token-hash array is estimated
# ~50x under its real bytes. Found empirically at the 1000x corpus: the
# minhash verify side (5M docs x 55-long arrays, ~2.4 GB real) cleared
# the 256 MB gate on a ~200 MB estimate and the pinned broadcast blew
# spark.driver.maxResultSize. Frames carrying variable-width container
# columns therefore gate at 1/16th — small frames (the gate's purpose)
# still hint; anything near the boundary falls back to AQE's
# runtime-sized decision, which is always valid.
_ARRAY_ESTIMATE_SLACK = 16


def maybe_broadcast(df: DataFrame, gate_bytes: int | None = None) -> DataFrame:
    """`F.broadcast(df)` only when Catalyst estimates df under the gate;
    otherwise the UNHINTED df (AQE/planner picks the join strategy from
    runtime sizes). gate_bytes=0 disables the hint unconditionally."""
    from pyspark.sql import types as T

    gate = BROADCAST_GATE_BYTES if gate_bytes is None else gate_bytes
    if gate <= 0:
        return df
    if any(isinstance(f.dataType, (T.ArrayType, T.MapType))
           for f in df.schema.fields):
        gate //= _ARRAY_ESTIMATE_SLACK
    est = estimated_plan_bytes(df)
    if est is not None and 0 <= est <= gate:
        return F.broadcast(df)
    return df
