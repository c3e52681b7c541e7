"""Retraction-capable incremental equi-join over changelogs.

Mirrors the reference's symmetric hash join
(dozer-sql/src/product/join/operator/mod.rs:38-193):
- both sides' state fully maintained (there: in-memory hashmaps keyed by
  join key -> PK hash, operator/table.rs:24-145; here: PK-keyed snapshot
  DataFrames)
- INNER/LEFT/RIGHT equi-joins (factory.rs:116-130)
- outer joins emit a NULL-padded default row while a key has no match and
  RETRACT it when the first match appears (operator/mod.rs:75-135) — and
  the reverse when the last match disappears.

Spark-first "dirty-key recompute": each micro-batch updates the two
snapshots, recomputes the join restricted to the join-key values touched
by the batch, and diffs against the previously-emitted output for those
keys. Emitted changelog rows are keyed by the concatenation of both
sides' PKs (join/factory.rs:169-191), NULL right-PK for the padded rows.

Work per batch is O(batch + rows-sharing-touched-keys): the recompute
joins are partition-pruned to dirty keys, and state lives in DataFrames
(executors), not the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dozer_spark.operators.hints import cache_for_gate, maybe_broadcast

from dozer_spark.streaming.changelog import (
    CHANGELOG_COLS,
    MemoryDiffState,
    apply_changelog,
    diff_changelog,
    diff_upserts,
    keys_join as _keys_join,
    materialize_keys,
)


@dataclass
class RetractingJoin:
    """Incremental JOIN: feed left/right changelogs, get the join's output
    changelog. `on` is [(left_col, right_col), ...] (conjunction of
    equalities — the only constraint the reference accepts,
    factory.rs:193-235)."""

    spark: SparkSession
    left_pk: list[str]
    right_pk: list[str]
    on: list[tuple[str, str]]
    how: str = "inner"  # inner | left | right
    # TTL state eviction (join/operator/table.rs:117-136): rows whose
    # event time falls more than `ttl` behind the side's max seen time
    # are dropped from the snapshot on merge. Divergence from the
    # reference: dozer's eviction silently forgets state (sinks keep the
    # stale rows); here the next batch touching an evicted row's join key
    # RETRACTS its previously-emitted output — the materialized view stays
    # consistent with the live state.
    ttl: str | None = None
    left_ts: str | None = None
    right_ts: str | None = None
    # durable state (StateStore): set to resume across restarts
    state_dir: str | None = None

    _left: DataFrame | None = field(default=None, init=False)
    _right: DataFrame | None = field(default=None, init=False)
    _prev: DataFrame | None = field(default=None, init=False)  # emitted output rows
    _store: object = field(default=None, init=False)
    # previous batch's caches, released at the start of the next batch
    _prev_caches: list = field(default_factory=list, init=False)

    _snaptx: dict = field(default_factory=dict, init=False)  # side DiffStateTables
    _sidetx: dict = field(default_factory=dict, init=False)  # TTL DiffStateTables
    # emitted rows: a DiffStateTable, or a MemoryDiffState without a
    # state_dir
    _prevtx: object = field(default=None, init=False)

    def __post_init__(self):
        if self.how not in ("inner", "left", "right"):
            raise ValueError(f"unsupported join type {self.how!r} (factory.rs:120)")
        self._prevtx = MemoryDiffState("__ok")
        if self.state_dir is not None:
            from dozer_spark.streaming.incstate import (
                DiffStateTable,
                diff_state_path,
            )
            from dozer_spark.streaming.state import StateStore

            self._store = StateStore(self.spark, self.state_dir)
            # the emitted-output snapshot is a digest-keyed DiffStateTable
            # (O(changed) epoch IO — at scale the output is corpus-sized)
            self._prevtx = DiffStateTable(
                self.spark, diff_state_path(self.state_dir, "prev"),
                key_cols=["__ok"], internal_key=True,
            )
            # side snapshots: PK-keyed delta-logs (O(batch) epoch IO —
            # see stateful.py). A TTL side (ttl set AND the side has an
            # event-time column) additionally carries eviction tombstones
            # for newly-expired rows in its epoch delta (see
            # _merge_ttl_durable) and is keyed by a PK digest.
            for name, pk, ts in (("left", self.left_pk, self.left_ts),
                                 ("right", self.right_pk, self.right_ts)):
                if self.ttl is not None and ts is not None:
                    self._sidetx[name] = DiffStateTable(
                        self.spark, diff_state_path(self.state_dir, name),
                        key_cols=["__sk"], internal_key=True,
                    )
                else:
                    self._snaptx[name] = DiffStateTable(
                        self.spark,
                        diff_state_path(self.state_dir, f"{name}_snap"),
                        key_cols=pk,
                    )
            if self._store.epoch > 0:
                sides = {}
                for name in ("left", "right"):
                    # AS OF the committed epoch (an ahead snapshot
                    # poisons the dirty-key probe — see stateful.py)
                    tbl = self._sidetx.get(name) or self._snaptx[name]
                    sides[name] = tbl.read_committed(
                        self._store.load_meta(f"{name}_txv")
                    )
                self._left, self._right = sides["left"], sides["right"]
                # rewind a crash-orphaned ahead compaction (see incstate.py)
                self._prev = self._prevtx.read_committed(
                    self._store.load_meta("prev_txv")
                )

    def _ckpt(self, name: str, df: DataFrame) -> DataFrame:
        # ephemeral-only lineage break (durable state -> DiffStateTable)
        return df.localCheckpoint(eager=True)

    # -- snapshot maintenance ------------------------------------------------

    def _merge(self, name: str, prev: DataFrame | None, changelog: DataFrame,
               pk: list[str], ts_col: str | None = None) -> DataFrame:
        if self._store is not None and name in self._sidetx:
            return self._merge_ttl_durable(name, prev, changelog, pk, ts_col)
        if self._store is not None and name in self._snaptx:
            # durable non-TTL side: one O(batch) epoch delta (see
            # stateful.py)
            from dozer_spark.streaming.changelog import changelog_upserts

            upsert = changelog_upserts(changelog, pk)
            meta = self._snaptx[name].advance(
                upsert, epoch=self._store.epoch + 1, app_id=name
            )
            self._store.stage_meta(f"{name}_txv", meta)
            return self._snaptx[name].read_live()
        batch_snap = apply_changelog(changelog, pk)
        if prev is None:
            merged = batch_snap
        else:
            kept = prev.join(maybe_broadcast(changelog.select(*pk)), pk,
                             "left_anti")
            merged = kept.unionByName(batch_snap)
        if self.ttl is not None and ts_col is not None:
            from dozer_spark.operators.ttl import ttl as apply_ttl

            merged = apply_ttl(merged, ts_col, self.ttl)
        return self._ckpt(name, merged)

    def _merge_ttl_durable(self, name: str, prev: DataFrame | None,
                           changelog: DataFrame, pk: list[str],
                           ts_col: str) -> DataFrame:
        """Durable TTL side: a delta-log whose epoch delta is the batch
        upserts PLUS eviction tombstones for newly-expired state rows —
        O(batch + evicted) epoch WRITE IO, never a full state rewrite.

        The TTL reference is max(event time) over the live rows
        (state ∪ batch), evaluated LAZILY as a 1-row broadcast inside
        the delta write — identical semantics to the in-memory
        apply_ttl path (rows with a NULL event time expire once any
        reference exists; nothing expires while the reference is NULL).
        A batch row whose new image is already expired becomes a delete
        (it must displace the PK's older state row, exactly as the
        merged-then-filtered path did)."""
        from dozer_spark.streaming.changelog import _latest_per_pk, row_digest

        from dozer_spark.operators.window import interval_ms

        tbl = self._sidetx[name]
        ivl = F.expr(f"INTERVAL {interval_ms(self.ttl) // 1000} SECOND")
        latest = _latest_per_pk(changelog, pk)
        upsert = latest.withColumn(
            "__op_del", F.col("__op") == "D"
        ).drop(*CHANGELOG_COLS)

        # reference = max event time over the POST-batch live rows (state
        # rows the batch superseded or deleted no longer contribute) —
        # the exact reference the merged-then-filtered in-memory path uses
        batch_keys = changelog.select(*pk)  # anti-joins: no distinct
        live_ts = upsert.filter(~F.col("__op_del")).select(
            F.col(ts_col).alias("__t")
        )
        if prev is not None:
            kept = prev.join(maybe_broadcast(batch_keys), pk, "left_anti")
            live_ts = kept.select(F.col(ts_col).alias("__t")).unionByName(live_ts)
        ref = live_ts.agg(F.max("__t").alias("__ref"))

        alive = F.coalesce(F.col(ts_col) >= F.col("__ref") - ivl, F.lit(False))
        up = (
            upsert.crossJoin(F.broadcast(ref))
            .withColumn("__sk", row_digest(pk))
            .withColumn(
                "__del",
                F.when(F.col("__ref").isNull(), F.col("__op_del"))
                .otherwise(F.col("__op_del") | ~alive),
            )
            .drop("__op_del", "__ref")
        )
        changed = up
        if prev is not None:
            # newly-expired state rows -> tombstones; PKs the batch also
            # touched are excluded (their batch row decides their fate,
            # and one digest must appear at most once per delta)
            expired = (
                prev.crossJoin(F.broadcast(ref))
                .filter(F.col("__ref").isNotNull() & ~alive)
                .drop("__ref")
                .join(maybe_broadcast(batch_keys), pk, "left_anti")
                .withColumn("__sk", row_digest(pk))
                .withColumn("__del", F.lit(True))
            )
            changed = changed.unionByName(expired)
        meta = tbl.advance(changed, epoch=self._store.epoch + 1,
                           app_id=f"{name}_ttl")
        self._store.stage_meta(f"{name}_txv", meta)
        return tbl.read_live()

    def _dirty_keys(self, changelog: DataFrame | None, snap_before: DataFrame | None,
                    pk: list[str], key_cols: list[str]) -> DataFrame | None:
        """Join-key values touched by this batch on one side: keys of the
        new images plus keys of the displaced old images (not distinct:
        process_batch takes the union of both sides distinct once)."""
        if changelog is None:
            return None
        keys = changelog.select(*key_cols)
        if snap_before is not None:
            # gated broadcast of the batch's PK column (see stateful.py)
            keys = keys.unionByName(snap_before.join(
                maybe_broadcast(changelog.select(*pk)), pk, "left_semi"
            ).select(*key_cols))
        return keys

    # -- per-batch -----------------------------------------------------------

    def process_batch(
        self,
        left_changelog: DataFrame | None = None,
        right_changelog: DataFrame | None = None,
    ) -> DataFrame:
        lk = [l for l, _ in self.on]
        rk = [r for _, r in self.on]

        for df in self._prev_caches:
            df.unpersist()
        # the snapshot probes gate their broadcast hint on the batch's
        # size at plan-build time (see stateful.py)
        if left_changelog is not None:
            left_changelog = cache_for_gate(left_changelog)
        if right_changelog is not None:
            right_changelog = cache_for_gate(right_changelog)

        dl = self._dirty_keys(left_changelog, self._left, self.left_pk, lk)
        dr = self._dirty_keys(right_changelog, self._right, self.right_pk, rk)
        if dr is not None:  # normalize right-side key names to left's
            dr = dr.select(*[F.col(r).alias(l) for (l, r) in self.on])
        dirty = dl if dr is None else (dr if dl is None else dl.unionByName(dr))
        if dirty is None:
            raise ValueError("process_batch needs at least one side's changelog")
        dirty = materialize_keys(dirty)

        if left_changelog is not None:
            self._left = self._merge("left", self._left, left_changelog,
                                     self.left_pk, self.left_ts)
        if right_changelog is not None:
            self._right = self._merge("right", self._right, right_changelog,
                                      self.right_pk, self.right_ts)

        if self._left is None or self._right is None:
            # schemas come from the changelogs themselves; an outer join can
            # emit padded rows from batch one, so both schemas are needed —
            # send a (possibly empty) changelog for the quiet side.
            raise ValueError(
                "join needs both sides' schemas; send an (empty) changelog "
                "for the missing side in the first batch"
            )

        # restrict both sides to the dirty join keys — only rows sharing a
        # touched key can appear in, or vanish from, the output. Null-safe
        # semi-join: a left row with a NULL join key still owes its padded
        # row, and NULL keys do appear in the dirty set.
        dirty_r = dirty.select(*[F.col(l).alias(r) for (l, r) in self.on])
        lsub = _keys_join(self._left, dirty, "semi")
        rsub = _keys_join(self._right, dirty_r, "semi")

        cond = None
        for l, r in self.on:
            c = lsub[l] == rsub[r]
            cond = c if cond is None else cond & c

        # diff against previously-emitted rows for the dirty keys.
        # output identity = concatenated PKs (factory.rs:169-191), NULLs
        # preserved for padded rows.
        id_cols = [*self.left_pk, *[c for c in self.right_pk if c not in self.left_pk]]
        diff = diff_changelog(
            lsub.join(rsub, cond, self.how),
            None if self._prev is None else self._prev_for_keys(dirty),
            id_cols, "__ok",
        )

        # advance emitted-output state from the same diff: ONLY the rows
        # it changed (O(changed) epoch IO, not an output-snapshot rewrite)
        epoch = None if self._store is None else self._store.epoch + 1
        meta = self._prevtx.advance(diff_upserts(diff), epoch=epoch,
                                    app_id="rjoin_prev")
        self._prev = self._prevtx.read_live()
        if self._store is not None:
            self._store.stage_meta("prev_txv", meta)
            self._store.commit()  # epoch commit: all three states together
        self._prev_caches = [
            cl for cl in (left_changelog, right_changelog) if cl is not None
        ] + [dirty]
        return diff.drop("__ok")

    def _prev_for_keys(self, dirty: DataFrame) -> DataFrame:
        """Previously-emitted rows whose join key is dirty. An output
        row's join key lives on whichever side is non-NULL (outer-padded
        rows have one side all-NULL), so match on coalesce(left, right)."""
        prev = self._prev
        key_exprs = [
            F.coalesce(F.col(l), F.col(r)).alias(l) for (l, r) in self.on
        ]
        keyed = prev.select(F.struct(*[F.col(c) for c in prev.columns]).alias("__row"),
                            *key_exprs)
        return _keys_join(keyed, dirty, "semi").select("__row.*")

    def current(self) -> DataFrame:
        if self._prev is None:
            raise ValueError("no batches processed yet")
        return self._prev
