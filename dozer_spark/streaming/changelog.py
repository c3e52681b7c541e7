"""Changelog primitives.

Reference semantics being reproduced:
- Operation::{Insert, Update, Delete} (dozer-types/src/types/mod.rs:293-298)
- OpIdentifier {txid, seq_in_tx} ordering (dozer-types/src/node.rs:81-86)
- PrimaryKeyLookupRecordWriter: latest-row-per-PK materialization
  (dozer-core/src/record_store.rs:29-87)
- Selection processor's Update splitting: when a WHERE predicate flips
  between a row's old and new image, the Update becomes an Insert or a
  Delete downstream (dozer-sql/src/selection/processor.rs:30-106).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dozer_spark.operators.hints import maybe_broadcast

CHANGELOG_COLS = ["__op", "__txid", "__seq"]

_NULL_MARK = "\x00NULL\x00"


def keys_join(df: DataFrame, keys: DataFrame, how: str,
              gate_bytes: int | None = None) -> DataFrame:
    """Null-safe semi/anti join of df against a small key table
    (columns of `keys` must exist in df under the same names).

    NULL keys matter everywhere in the changelog operators: GROUP BY
    treats NULL as one ordinary group and UNION compares NULL columns as
    equal — plain equi-joins (NULL != NULL) would strand those rows in
    operator state forever. Key columns are renamed before joining:
    `keys` often derives from the same lineage as `df`, and same-name
    column references would resolve as trivially-true self comparisons.
    Only semi/anti joins are accepted: they never fan out, so `keys`
    may repeat a key and needs no distinct (one exchange fewer).

    The broadcast hint on the key side is SIZE-GATED, not pinned: the
    dirty-key set is bounded by the micro-batch in steady state, but a
    first backfill batch is corpus-sized — an unconditional hint would
    OOM the build side at scale. Callers materialize key sets
    (cache_materialized), so the gate reads real bytes and decides per
    batch; when the gate refuses, AQE still picks a broadcast at runtime
    if the actual size allows.
    """
    if how not in ("semi", "anti"):
        raise ValueError(f"keys_join is semi/anti only, got {how!r}")
    renamed = keys.select(
        *[F.col(c).alias(f"__k_{c}") for c in keys.columns]
    )
    kdf = maybe_broadcast(renamed, gate_bytes)
    c = None
    for kc in keys.columns:
        e = df[kc].eqNullSafe(kdf[f"__k_{kc}"])
        c = e if c is None else c & e
    return df.join(kdf, c, how)


def row_digest(cols: list[str], prefix: str = "") -> Column:
    """Null-distinguishing md5 digest over columns — used as the join key
    for full-outer diff joins so rows with NULL key columns still pair up
    (a plain multi-column full_outer would split a NULL-keyed group into
    an unmatched old + unmatched new -> spurious D+I instead of U)."""
    parts = [
        F.coalesce(F.col(prefix + c).cast("string"), F.lit(_NULL_MARK)) for c in cols
    ]
    return F.md5(F.concat_ws("\x01", *parts))


def diff_changelog(new: DataFrame, old: DataFrame | None,
                   id_cols: list[str], key: str) -> DataFrame:
    """One epoch's I/U/D diff of a retracting operator: the rows it
    recomputed (`new`) against the rows it emitted before for the same
    dirty keys (`old`, same columns; None when nothing was emitted yet),
    paired on a row_digest of `id_cols` so NULL-keyed rows pair up too.
    Columns: `key` (the digest), `__op`, then new's columns — the new
    image for I/U, the old image for D (Operation::Delete{old}).

    Materialized ONCE, as an eager local checkpoint. The operator's
    output changelog (the diff without `key`) and its state advance
    (`diff_upserts`) both read it, so the diff joins run once per epoch.
    A lazy checkpoint would save nothing: under AQE, building its RDD
    already runs every query stage."""
    cols = new.columns

    def image(df: DataFrame, name: str) -> DataFrame:
        return df.select(row_digest(id_cols).alias(key),
                         F.struct(*[F.col(c) for c in cols]).alias(name))

    n = image(new, "__new")
    if old is None:
        diffed = n.select(key, F.lit("I").alias("__op"),
                          F.col("__new").alias("__img"))
    else:
        op = (
            F.when(F.col("__old").isNull(), F.lit("I"))
            .when(F.col("__new").isNull(), F.lit("D"))
            .when(F.col("__new") != F.col("__old"), F.lit("U"))
        )
        diffed = (
            n.join(image(old, "__old"), key, "full_outer")
            .withColumn("__op", op)
            .filter(F.col("__op").isNotNull())
            .select(key, "__op",
                    F.when(F.col("__op") == "D", F.col("__old"))
                    .otherwise(F.col("__new")).alias("__img"))
        )
    return diffed.select(
        key, "__op", *[F.col(f"__img.{c}").alias(c) for c in cols]
    ).localCheckpoint(eager=True)


def diff_upserts(diff: DataFrame) -> DataFrame:
    """A diff_changelog frame as diff-state advance rows: digest, image
    and `__del` (a D deletes its digest, I/U upsert the image)."""
    return diff.withColumn("__del", F.col("__op") == "D").drop("__op")


class MemoryDiffState:
    """Ephemeral twin of incstate.DiffStateTable (internal_key=True):
    the same advance()/read_live() surface, so a retracting operator
    advances its diff state from its materialized diff the same way
    with or without a state_dir. Live rows keep the digest, so an
    advance replaces rows by digest without recomputing it; each
    advance is an eager local checkpoint (flat lineage across epochs)."""

    def __init__(self, key: str):
        self.key = key
        self._live: DataFrame | None = None

    def advance(self, changed: DataFrame, epoch: int | None = None,
                app_id: str | None = None) -> dict:
        live = changed.filter(~F.col("__del")).drop("__del")
        if self._live is not None:
            live = self._live.join(
                maybe_broadcast(changed.select(self.key)), self.key,
                "left_anti",
            ).unionByName(live)
        self._live = live.localCheckpoint(eager=True)
        return {}

    def read_live(self) -> DataFrame:
        return self._live.drop(self.key)


def with_op(df: DataFrame, op: str = "I", txid: int = 0, seq_col: Column | None = None) -> DataFrame:
    """Stamp plain rows as changelog operations (batch-insert ingest)."""
    seq = seq_col if seq_col is not None else F.monotonically_increasing_id()
    return df.select(
        F.lit(op).alias("__op"),
        F.lit(txid).cast("long").alias("__txid"),
        seq.cast("long").alias("__seq"),
        "*",
    )


def _latest_per_pk(changelog: DataFrame, pk: list[str]) -> DataFrame:
    w = Window.partitionBy(*pk).orderBy(F.desc("__txid"), F.desc("__seq"))
    return (
        changelog.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def changelog_upserts(changelog: DataFrame, pk: list[str]) -> DataFrame:
    """Changelog -> delta-log advance input: ONE final image per PK
    (last writer by (txid, seq) wins), a boolean `__del` marking PKs
    whose final op is a Delete, changelog bookkeeping dropped. The
    shared shape every durable operator feeds DiffStateTable.advance."""
    latest = _latest_per_pk(changelog, pk)
    return latest.withColumn("__del", F.col("__op") == "D").drop(
        *CHANGELOG_COLS
    )


def apply_changelog(changelog: DataFrame, pk: list[str]) -> DataFrame:
    """Materialize the table snapshot a changelog describes: last op per PK
    in (txid, seq) order wins; a final Delete removes the row.

    This is the batch replay of PrimaryKeyLookupRecordWriter. One shuffle
    on PK; at scale this is the standard CDC-compaction pattern (and maps
     1:1 onto a MERGE INTO against a materialized table)."""
    latest = _latest_per_pk(changelog, pk)
    return latest.filter(F.col("__op") != "D").drop(*CHANGELOG_COLS)


def snapshot_diff(old: DataFrame, new: DataFrame, pk: list[str], txid: int = 1) -> DataFrame:
    """Diff two table snapshots into a changelog (I/U/D) — CDC from
    periodic full dumps, the batch-world entry into the changelog
    operators. Output rows carry the NEW image for I/U and the OLD image
    for D (Operation::Delete{old} semantics, types/mod.rs:293-298)."""
    data_cols = [c for c in new.columns]
    o = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in data_cols]
    )
    cond = None
    for k in pk:
        e = F.col(k).eqNullSafe(F.col(f"__o_{k}"))
        cond = e if cond is None else cond & e
    j = new.join(o, cond, "full_outer")
    new_pk_null = F.col(pk[0]).isNull()
    old_pk_null = F.col(f"__o_{pk[0]}").isNull()
    non_pk = [c for c in data_cols if c not in pk]
    if non_pk:
        differs = None
        for c in non_pk:
            d = ~F.col(c).eqNullSafe(F.col(f"__o_{c}"))
            differs = d if differs is None else differs | d
    else:
        differs = F.lit(False)
    op = (
        F.when(old_pk_null & ~new_pk_null, F.lit("I"))
        .when(new_pk_null & ~old_pk_null, F.lit("D"))
        .when(differs, F.lit("U"))
        .otherwise(F.lit(None))
    )
    image = [
        F.when(F.col("__op") == "D", F.col(f"__o_{c}")).otherwise(F.col(c)).alias(c)
        for c in data_cols
    ]
    return (
        j.withColumn("__op", op)
        .filter(F.col("__op").isNotNull())
        .select(
            "__op",
            F.lit(txid).cast("long").alias("__txid"),
            F.monotonically_increasing_id().alias("__seq"),
            *image,
        )
    )


def old_images(changelog: DataFrame, pk: list[str]) -> DataFrame:
    """For each op, attach the previous image of the same PK (NULL columns
    when none) as `__old_<col>` columns — the PK-lookup the reference does
    in record_store.rs:49-75, expressed as a lag() window."""
    data_cols = [c for c in changelog.columns if c not in CHANGELOG_COLS]
    w = Window.partitionBy(*pk).orderBy("__txid", "__seq")
    out = changelog
    for c in data_cols:
        if c in pk:
            continue
        out = out.withColumn(f"__old_{c}", F.lag(c).over(w))
    return out


def changelog_project(changelog: DataFrame, *cols: Column | str) -> DataFrame:
    """Changelog-aware projection: apply expressions to each op's row
    image, preserving the op metadata. Projections are stateless in the
    reference too (pass-through processors) — this helper just keeps the
    __op/__txid/__seq columns out of the caller's way."""
    return changelog.select(*CHANGELOG_COLS, *cols)


def changelog_filter(
    changelog: DataFrame,
    pk: list[str],
    predicate: Column,
    prior: DataFrame | None = None,
) -> DataFrame:
    """Changelog-aware WHERE (selection/processor.rs:30-106).

    Truth table (old image = previous row of this PK; D rows carry the
    deleted image themselves, matching Operation::Delete{old}):
      I, pred(row)               -> I
      D, pred(row)               -> D
      U, pred(old) & pred(new)   -> U
      U, !pred(old) & pred(new)  -> I   (row enters the view)
      U, pred(old) & !pred(new)  -> D   (row leaves the view)
      otherwise                  -> dropped

    Old images resolve via lag() WITHIN `changelog`. If the changelog is
    processed in slices (micro-batches), a U whose prior image arrived in
    an earlier slice has no in-slice predecessor — pass `prior` (the
    materialized snapshot BEFORE this slice, e.g. apply_changelog of all
    earlier slices) and the first op of each PK resolves its old image
    from there. Without `prior`, the input must be the COMPLETE changelog
    from the beginning of the stream or enters-filter Updates degrade to
    Inserts (duplicating rows downstream of a distinct-less sink).
    """
    data_cols = [c for c in changelog.columns if c not in CHANGELOG_COLS]
    w = Window.partitionBy(*pk).orderBy("__txid", "__seq")

    pred_new = predicate
    # old image: lagged columns; for the first op of a PK in this slice,
    # fall back to the prior snapshot's row (matched null-safely by PK)
    pred_old_df = changelog
    if prior is not None:
        p = prior.select(*[F.col(c).alias(f"__p_{c}") for c in data_cols])
        cond = None
        for k in pk:
            e = pred_old_df[k].eqNullSafe(p[f"__p_{k}"])
            cond = e if cond is None else cond & e
        pred_old_df = pred_old_df.join(p, cond, "left")
        pred_old_df = pred_old_df.withColumn("__rn", F.row_number().over(w))
        for c in data_cols:
            pred_old_df = pred_old_df.withColumn(
                f"__old_{c}",
                F.when(F.col("__rn") == 1, F.col(f"__p_{c}")).otherwise(
                    F.lag(c).over(w)
                ),
            )
        pred_old_df = pred_old_df.drop("__rn", *[f"__p_{c}" for c in data_cols])
    else:
        for c in data_cols:
            pred_old_df = pred_old_df.withColumn(f"__old_{c}", F.lag(c).over(w))
    # Build pred over renamed old cols by re-expressing predicate on a
    # selection where data col names point at the old image.
    old_view = pred_old_df.select(
        *CHANGELOG_COLS,
        *[F.col(f"__old_{c}").alias(c) for c in data_cols],
        *[F.col(c).alias(f"__new_{c}") for c in data_cols],
    )
    old_flag = old_view.select(
        *CHANGELOG_COLS,
        predicate.alias("__pred_old"),
        *[F.col(f"__new_{c}").alias(c) for c in data_cols],
    )
    out = old_flag.withColumn("__pred_new", pred_new)
    keep_i = (F.col("__op") == "I") & F.col("__pred_new")
    keep_d = (F.col("__op") == "D") & F.col("__pred_new")
    u = F.col("__op") == "U"
    po = F.coalesce(F.col("__pred_old"), F.lit(False))
    pn = F.coalesce(F.col("__pred_new"), F.lit(False))
    new_op = (
        F.when(keep_i, F.lit("I"))
        .when(keep_d, F.lit("D"))
        .when(u & po & pn, F.lit("U"))
        .when(u & ~po & pn, F.lit("I"))
        .when(u & po & ~pn, F.lit("D"))
        .otherwise(F.lit(None))
    )
    return (
        out.withColumn("__op", new_op)
        .filter(F.col("__op").isNotNull())
        .drop("__pred_old", "__pred_new")
    )
