"""Incremental durable operator state — a delta-log (LSM) over a
bucketed TransactionalTable.

EVERY retracting-operator durable state lives here: the input
snapshots (keyed by the source PK — the reference's biggest state,
both join sides fully materialized), and the diff states keyed by a
row digest (the aggregate table, the emitted-output snapshot, the
union presence set). The designs this replaced both scale with STATE
size per epoch: full-rewrite StateStore staging is O(state) parquet
IO per micro-batch, and a per-epoch bucketed MERGE rewrites every
bucket the batch touches — which for a UNIFORM tiny batch is every
bucket, i.e. the whole state again (and it costs two fixed jobs per
epoch besides). At corpus scale the snapshot IS the corpus and the
aggregate table is corpus-cardinality (GROUP BY customer); per-epoch
work must be O(batch), not O(state).

`DiffStateTable` is the classic delta-log split:

- **per epoch**: the changed rows (the batch's per-PK images / the
  I/U/D diff the operator already computed) are written as ONE small
  parquet delta dir `deltas/__e=<epoch>` — one write job, O(changed);
- **every `compact_every` epochs**: the pending deltas are reduced
  (each key's newest delta wins) and MERGEd into the bucketed base
  table — two jobs, touched buckets only, amortized across the window;
- **reads** reconstruct base ⊕ pending deltas in one pass: ONE scan of
  the pending `__e=` dirs (the same plan and compiled code every epoch),
  each key keeping the newest delta's rows, one base anti-join against
  every pending key — the same Spark work at every pending count.
  Compaction reduces with the same latest-delta rule (`_latest`).

Crash contract (the reference's epoch-commit semantics, dozer-core
checkpoint.rs): the StateStore manifest commit is the epoch boundary;
`advance` returns a small meta dict — base-table version + pending
delta epochs + delta schema — that the caller publishes WITH the epoch
(StateStore.stage_meta). Every crash window replays cleanly:

- crash after the delta write: the delta dir is orphaned (not in the
  committed pending list); the replayed epoch OVERWRITES the same dir.
- crash after a compaction MERGE: the base is one version ahead;
  `read_committed` rewinds it by applying the change feed INVERSELY
  (drop insert/update_postimage digests, restore update_preimage/
  delete rows) before applying the committed pending deltas, so the
  replayed batch re-diffs against the exact committed state and
  RE-EMITS its output — the at-least-once contract the
  kill-and-resume tests pin. The replayed compaction itself is a
  batch_id no-op, so the base never double-advances.

Compacted delta dirs are kept for one full compaction cycle (previous
window's dirs are deleted at the NEXT compaction), so lazy output
changelogs holding the previous epoch's read plan stay valid.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from dozer_spark.storage import TransactionalTable
from dozer_spark.storage.txtable import inverse_rewind


def rewind_to_version(tx: TransactionalTable, cur: DataFrame,
                      committed_version: int,
                      key_cols: list[str]) -> DataFrame | None:
    """State AS OF committed_version (None when <= 0: nothing was
    committed). The inverse-CDF loop itself lives in storage/txtable.py
    (inverse_rewind), shared with the public time-travel read.

    Same vacuumed-feed guard as read_as_of: TransactionalTable.
    read_changes silently SKIPS missing version dirs, so a rewind over
    a vacuumed window would reconstruct a state that never existed.
    DiffStateTable never sets change_retention, so this never fires
    there — the check makes the invariant enforced, not incidental."""
    if committed_version <= 0:
        return None
    cd = os.path.join(tx.path, "changes")
    have = (
        {int(v[1:]) for v in os.listdir(cd) if v.startswith("v")}
        if os.path.isdir(cd) else set()
    )
    missing = sorted(
        set(range(committed_version + 1, tx.version + 1)) - have
    )
    if missing:
        raise ValueError(
            f"cannot rewind to v{committed_version}: change feed for "
            f"versions {missing} was vacuumed — resume would "
            "reconstruct a state that never existed"
        )
    return inverse_rewind(tx, cur, committed_version, key_cols)


class DiffStateTable:
    """A key-addressed delta-log state table for operator state.

    key_cols: the state key — either the operator's source PK columns
    (input snapshots; must be non-null, the TransactionalTable
    contract) or a single synthetic (non-null) md5 digest column the
    operator's diff join already computes (aggregate table, emitted
    output, presence set; internal_key=True drops it on read). Delta
    rows carry the key, the payload columns, and a boolean `__del`.
    """

    def __init__(self, spark: SparkSession, path: str, key_cols: list[str],
                 n_buckets: int = 16, compact_every: int = 8,
                 internal_key: bool = False,
                 bucket_cols: list[str] | None = None):
        """bucket_cols: bucket the base table by these PAYLOAD columns
        instead of the key (see TransactionalTable.bucket_cols). They
        MUST be functionally determined by key_cols — true when the key
        is a digest computed over them — so a row's bucket never moves
        across upsert/delete. With probe-key bucketing,
        read_live_pruned(touched_bucket_ids(batch_keys)) gives a state
        view that provably contains every row whose bucket columns
        equal some batch row's — the O(matched buckets) per-epoch probe
        the streaming dedup/fuzzy/BM25 indexes use."""
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.bucket_cols = (list(bucket_cols) if bucket_cols is not None
                            else list(key_cols))
        self.internal_key = internal_key
        self.compact_every = compact_every
        if (os.path.exists(os.path.join(path, "MANIFEST.json"))
                or glob.glob(os.path.join(glob.escape(path), "deltas", "e*"))):
            # a ROOT TransactionalTable manifest (pre-delta-log) or
            # `deltas/e000123` dirs (before `__e=`): a resume would read
            # an empty base / none of those deltas and silently corrupt
            # aggregates — fail loudly instead
            raise ValueError(
                f"{path} holds an older state layout (a pre-delta-log "
                "manifest or `deltas/e*` dirs); delete the state dir (the "
                "pipeline re-backfills) or migrate it before resuming")
        self.tx = TransactionalTable(spark, os.path.join(path, "base"),
                                     pk=self.key_cols, n_buckets=n_buckets,
                                     bucket_cols=self.bucket_cols)
        # live (uncommitted-manifest) view of the log; callers publish
        # the returned meta at their epoch commit
        self._pending: list[int] = []
        self._schema_json: str | None = None
        self._compacted_prev: list[int] = []
        # per-epoch fresh-keys flags (see advance): True = the delta is
        # pure inserts whose keys exist nowhere else in the log, so
        # reads union it without the latest-delta window or the base
        # anti-join
        self._fresh: dict[int, bool] = {}

    # -- paths ---------------------------------------------------------------

    def _delta_dir(self, epoch: int) -> str:
        return os.path.join(self.path, "deltas", f"__e={epoch}")

    def _delta_schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self._schema_json))

    # -- write path ----------------------------------------------------------

    def advance(self, changed: DataFrame, epoch: int, app_id: str,
                fresh_keys: bool = False) -> dict:
        """One epoch's state advance. `changed` carries digest + payload
        + `__del`. Compacts first when the pending window is full, then
        appends the epoch's delta (a single small write). Returns the
        meta dict to publish with the epoch commit. Replays are
        idempotent: the delta overwrite rewrites the same dir, the
        compaction MERGE is a batch_id no-op.

        fresh_keys: the CALLER asserts this delta is pure inserts
        (no `__del` rows) whose keys appear nowhere else in the log —
        true for every append-only streaming-index epoch, where new
        rows are keyed by digests over just-arrived ids that passed the
        seen filter. Reads then union the delta WITHOUT the
        latest-delta window or the base anti-join (each a shuffle),
        which is what keeps bucket-pruned probe reads shuffle-free.
        Epochs that tombstone or overwrite (TTL prunes,
        re-sent-document rewrites) must leave it False."""
        if self._schema_json is None:
            self._schema_json = changed.schema.json()
        if len(self._pending) >= self.compact_every:
            self._compact(epoch, app_id)
        changed.write.mode("overwrite").parquet(self._delta_dir(epoch))
        if epoch not in self._pending:
            self._pending.append(epoch)
        self._fresh[epoch] = bool(fresh_keys)
        # a replayed epoch's dir may have been classified as orphaned at
        # resume; it is live again now
        self._compacted_prev = [e for e in self._compacted_prev
                                if e not in self._pending]
        return {"v": self.tx.version, "pending": list(self._pending),
                "schema": self._schema_json,
                "fresh": {str(e): self._fresh.get(e, False)
                          for e in self._pending}}

    def _compact(self, epoch: int, app_id: str) -> None:
        """Fold the pending deltas into the bucketed base: each key's
        rows from its newest delta win (`_latest`; a later D after an
        earlier I reduces to the delete). Touched buckets only;
        batch_id = the triggering epoch so a crash-replayed compaction
        no-ops.

        Probe-key bucketing (bucket_cols != key_cols) needs one more
        rule: a bucket-moving re-send encodes as tombstone(old bucket) +
        insert(new bucket) for the SAME key. The latest-image reduction
        alone keeps only the newest such pair, the merge would never
        touch an older bucket, and the stale pre-epoch image would
        survive compaction as a duplicate key. So besides the newest
        delta's rows per key (the merge lets a same-epoch insert beat
        the tombstone), the reduction CARRIES every window tombstone per
        (key, bucket) so the merge rewrites every bucket the key ever
        occupied; a tombstone for a key the merge also re-inserts is a
        no-op there (the matched-new branch wins), never a lost row.

        ALL-FRESH windows take the O(window) fast path instead: when
        every pending delta carries the fresh-keys assertion (pure
        inserts, keys nowhere else in the log — and therefore distinct
        ACROSS the window's deltas too), there is nothing to reduce and
        no bucket to rewrite. The stacked rows append bucket-clustered
        in one pass (TransactionalTable.append_fresh: one clustering
        shuffle + one write; existing bucket files carry forward by
        hardlink). This is what keeps compaction O(new rows) for
        append-only streaming indexes — the merge path rewrites every
        bucket a uniform window touches, i.e. the WHOLE accumulated
        state, every compact_every epochs."""
        stacked = self._stacked_deltas(self._pending)
        if all(self._fresh.get(e, False) for e in self._pending):
            self.tx.append_fresh(
                stacked.filter(~F.col("__del")).drop("__del", "__e"),
                batch_id=epoch, app_id=app_id)
        else:
            reduced = self._latest(stacked).drop("__e")
            # key-bucketed state needs no tombstone carry: a tombstone
            # can only live in the key's own bucket, which the newest
            # delta's rows already touch
            if self.bucket_cols != self.key_cols:
                tombs = (
                    stacked.filter(F.col("__del")).drop("__e")
                    .dropDuplicates(self.key_cols + self.bucket_cols)
                )
                reduced = reduced.unionByName(tombs).dropDuplicates(
                    self.key_cols + self.bucket_cols + ["__del"])
            self.tx.merge(reduced, delete_col="__del", batch_id=epoch,
                          app_id=app_id)
        # previous window's dirs leave retention only NOW — one full
        # cycle after they were compacted (lazy readers; see module doc)
        for e in self._compacted_prev:
            shutil.rmtree(self._delta_dir(e), ignore_errors=True)
        self._compacted_prev = list(self._pending)
        self._pending = []
        self._fresh = {}

    # -- read path -----------------------------------------------------------

    def _stacked_deltas(self, epochs: list[int],
                        bucket_ids: list[int] | None = None) -> DataFrame:
        """All rows of the given deltas: ONE scan of just their dirs, the
        epoch `__e` from partition discovery (no per-epoch literal); with
        bucket_ids, only the rows that hash into those buckets."""
        out = (self.spark.read
               .schema(self._delta_schema().add("__e", T.LongType()))
               .option("basePath", os.path.join(self.path, "deltas"))
               .parquet(*[self._delta_dir(e) for e in epochs]))
        if bucket_ids is not None:
            out = out.filter(self.tx._bucket_col().isin(*bucket_ids)
                             if bucket_ids else F.lit(False))
        return out

    def _latest(self, stacked: DataFrame) -> DataFrame:
        """Each key's rows from the newest delta that names it. ALL of
        that delta's rows, not one: a bucket move writes a tombstone and
        an insert for the same key in one delta."""
        w = Window.partitionBy(*self.key_cols)
        return (stacked.withColumn("__m", F.max("__e").over(w))
                .filter(F.col("__e") == F.col("__m")).drop("__m"))

    def _live(self, base: DataFrame | None, epochs: list[int],
              bucket_ids: list[int] | None = None) -> DataFrame | None:
        """base ⊕ deltas in one pass: the deltas are stacked once and
        reduced by `_latest`; the base is anti-joined once against every
        key the non-fresh deltas name; `__del` rows drop out. Fresh-keys
        deltas (see advance) name no key of the base or of an earlier
        delta, so with one delta, or only fresh ones, there is nothing
        to reduce: no window, no anti-join, no shuffle."""
        if not epochs:
            return base
        stacked = self._stacked_deltas(epochs, bucket_ids)
        plain = [e for e in epochs if not self._fresh.get(e, False)]
        if plain and base is not None:
            keys = (stacked if len(plain) == len(epochs)
                    else stacked.filter(F.col("__e").isin(*plain)))
            base = base.join(keys.select(*self.key_cols), self.key_cols,
                             "left_anti")
        if plain and len(epochs) > 1:
            stacked = self._latest(stacked)
        live = stacked.filter(~F.col("__del")).drop("__del", "__e")
        return live if base is None else base.unionByName(live)

    def _strip(self, df: DataFrame) -> DataFrame:
        # synthetic digest keys are internal: operators recompute them
        # deterministically in their diff joins; source-PK keys are payload
        return df.drop(*self.key_cols) if self.internal_key else df

    def read_live(self) -> DataFrame:
        """Current payload rows (base at head + all pending deltas)."""
        base = self.tx.read() if self.tx.version > 0 else None
        out = self._live(base, self._pending)
        if out is None:
            raise ValueError("no state advanced yet")
        return self._strip(out)

    # -- bucket-pruned probe reads --------------------------------------------

    def touched_bucket_ids(self, probe: DataFrame) -> list[int]:
        """Distinct hash buckets of `probe`'s bucket columns — one small
        job bounded by n_buckets output rows. Rows of this table whose
        bucket columns equal some probe row's can ONLY live in these
        buckets (bucket = pure hash of bucket_cols)."""
        return sorted(
            r[0] for r in
            probe.select(self.tx._bucket_col().alias("__pb"))
            .distinct().collect()
        )

    def bucket_ids_for_values(self, values: list[list]) -> list[int]:
        """Driver-side bucket resolution for literal bucket-key values
        (e.g. a query's terms) — no Spark job at all."""
        return sorted({self.tx._bucket_of(v) for v in values})

    def read_live_pruned(self, bucket_ids: list[int]) -> DataFrame:
        """read_live restricted to the given buckets: the base's
        matching bucket dirs plus the pending deltas filtered by the
        same bucket hash. Because bucket_cols are functionally
        determined by key_cols (the constructor contract), a key's rows
        all live in one bucket, so restricting the base, the latest-delta
        window and the anti-join to the same bucket set yields exactly
        read_live().where(bucket in bucket_ids)."""
        base = (self.tx.read_buckets(bucket_ids)
                if self.tx.version > 0 else None)
        out = self._live(base, self._pending, bucket_ids)
        if out is None:
            raise ValueError("no state advanced yet")
        return self._strip(out)

    def read_committed(self, meta: dict | None) -> DataFrame | None:
        """Payload rows AS OF a committed meta dict: the base rewound to
        the committed version (inverse change feed over any
        crash-orphaned ahead versions), plus the committed pending
        deltas. Returns None when nothing was committed. Also restores
        the in-memory log position for subsequent advances."""
        if not meta:
            return None
        self._schema_json = meta["schema"]
        self._pending = list(meta["pending"])
        # missing flags (pre-fresh-keys meta) default to the safe False
        self._fresh = {int(e): bool(v)
                       for e, v in (meta.get("fresh") or {}).items()}
        if self.tx.version > meta["v"]:
            # crash window: a compaction's tx.merge durably advanced the
            # base PAST the committed version before the StateStore
            # commit landed. read_live/read_live_pruned read the base at
            # HEAD — which already CONTAINS the compacted pending
            # epochs' rows — so a fresh-keys union would duplicate every
            # row of those epochs (double dedup pairs, doubled BM25
            # tf/df). Drop the flags: the base anti-join + latest-delta
            # union is idempotent over the ahead base (each key's rows
            # are replaced by the same latest image).
            self._fresh = {e: False for e in self._fresh}
        # delta dirs on disk that are NOT in the committed pending list
        # were compacted (or orphaned) before the restart — schedule them
        # for removal at the NEXT compaction, else they leak forever
        dd = os.path.join(glob.escape(self.path), "deltas")
        on_disk = [int(d.rsplit("=", 1)[1])
                   for d in glob.glob(os.path.join(dd, "__e=*"))]
        self._compacted_prev = [e for e in on_disk if e not in self._pending]
        base = (rewind_to_version(self.tx, self.tx.read(), meta["v"],
                                  self.key_cols)
                if self.tx.version > 0 else None)
        out = self._live(base, self._pending)
        return None if out is None else self._strip(out)


def diff_state_path(state_dir: str, name: str) -> str:
    return os.path.join(state_dir, f"{name}_tx")
