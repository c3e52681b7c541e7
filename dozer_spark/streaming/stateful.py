"""Retraction-capable incremental GROUP BY over changelogs.

Mirrors the reference's Projection+Aggregation processor
(dozer-sql/src/aggregation/processor.rs:48-586):
- per-group aggregate state updated by Insert/Delete/Update
  (agg_delete :183, agg_insert :263, agg_update :414)
- emits the correct downstream changelog: Insert when a group appears,
  Update when its aggregate changes, Delete when its count drops to 0
  (processor.rs:286-338)
- HAVING transitions re-evaluated on old+new aggregate rows
  (processor.rs:339-386): enters-filter -> Insert, leaves-filter ->
  Delete, stays -> Update
- a group-key change inside an Update becomes Delete(old group) +
  Insert(new group) (processor.rs:538-546)

Spark-first design — "dirty-group recompute" instead of per-record
state mutation: each micro-batch
  1. updates the materialized input snapshot (MERGE by PK),
  2. collects the DISTINCT group keys touched by the batch (old + new
     images both — that's how key changes retract correctly),
  3. recomputes aggregates ONLY for those dirty groups from the snapshot,
  4. diffs against the previous aggregate state for those groups,
     emitting I/U/D.
This scales: work per batch is O(batch + dirty_groups), recompute is a
partition-pruned scan, and every aggregate (incl. MIN/MAX, which need a
value multiset for true retraction — aggregator.rs:64-239) is correct
without bespoke state structures. All state lives in DataFrames
(parquet/memory), so executors do the heavy lifting, not the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession

from dozer_spark.operators.hints import cache_for_gate, maybe_broadcast

from dozer_spark.streaming.changelog import (
    MemoryDiffState,
    apply_changelog,
    changelog_upserts,
    diff_changelog,
    diff_upserts,
    keys_join,
    materialize_keys,
)


@dataclass
class RetractingAggregation:
    """Incremental GROUP BY with retraction changelog output.

    group_by: group key columns; aggs: aggregate Columns (aliased);
    having: optional Column over the aggregate row.
    """

    spark: SparkSession
    pk: list[str]
    group_by: list[str]
    aggs: list[Column]
    having: Column | None = None
    # durable state: set to resume across restarts; None keeps the fast
    # localCheckpoint path for ephemeral pipelines. Both the INPUT
    # SNAPSHOT (PK-keyed) and the aggregate table (group-digest-keyed)
    # are delta-log DiffStateTables: O(batch)/O(changed) epoch IO with
    # periodic compaction into a bucketed base — at scale the snapshot
    # is the corpus and anything per-epoch that scales with state size
    # (full rewrites, every-bucket merges) is the difference between
    # O(batch) and O(corpus) durable IO.
    state_dir: str | None = None
    snapshot_buckets: int = 16

    _snapshot: DataFrame | None = field(default=None, init=False)
    _state: DataFrame | None = field(default=None, init=False)  # aggregate rows
    _store: object = field(default=None, init=False)
    _snaptx: object = field(default=None, init=False)  # DiffStateTable
    # aggregate rows: a DiffStateTable, or a MemoryDiffState without
    # a state_dir
    _aggtx: object = field(default=None, init=False)
    # the previous batch's caches, released at the start of the next
    _prev_caches: list = field(default_factory=list, init=False)

    def __post_init__(self):
        self._aggtx = MemoryDiffState("__gk")
        if self.state_dir is not None:
            from dozer_spark.streaming.incstate import (
                DiffStateTable,
                diff_state_path,
            )
            from dozer_spark.streaming.state import StateStore

            self._store = StateStore(self.spark, self.state_dir)
            # BOTH durable states are delta-logs: the input snapshot is
            # keyed by the source PK, the aggregate table by the group
            # digest — each epoch appends only the batch's rows / the
            # diff's changed groups (O(batch) write IO; the previous
            # bucketed MERGE per epoch rewrote EVERY bucket a uniform
            # batch touched — at n_buckets=16 that was the whole state)
            self._snaptx = DiffStateTable(
                self.spark, diff_state_path(self.state_dir, "snapshot"),
                key_cols=self.pk, n_buckets=self.snapshot_buckets,
            )
            self._aggtx = DiffStateTable(
                self.spark, diff_state_path(self.state_dir, "agg"),
                key_cols=["__gk"], n_buckets=self.snapshot_buckets,
                internal_key=True,
            )
            if self._store.epoch > 0:  # resume from the last committed epoch
                # AS OF the committed epoch (orphaned deltas ignored,
                # orphaned compactions rewound): an ahead snapshot would
                # poison the dirty-key probe — a PK whose group key
                # changed in the crashed batch probes to its NEW group
                # only and the old group's retraction is lost
                self._snapshot = self._snaptx.read_committed(
                    self._store.load_meta("snap_txv")
                )
                # the aggregate diff must also see the COMMITTED state so
                # the replayed batch re-diffs and re-emits
                self._state = self._aggtx.read_committed(
                    self._store.load_meta("agg_txv")
                )

    # -- helpers ------------------------------------------------------------

    def _ckpt(self, name: str, df: DataFrame) -> DataFrame:
        """Break lineage for one EPHEMERAL state advance (durable state
        goes through DiffStateTable; this path only runs store-less)."""
        return df.localCheckpoint(eager=True)

    def _agg_for(self, snapshot: DataFrame, keys: DataFrame | None) -> DataFrame:
        # null-safe: a NULL group key forms one ordinary group (SQL GROUP
        # BY semantics, aggregation/processor.rs treats it as any other key)
        src = snapshot if keys is None else keys_join(snapshot, keys, "semi")
        out = src.groupBy(*self.group_by).agg(*self.aggs)
        if self.having is not None:
            out = out.filter(self.having)
        return out

    # -- per-batch processing ------------------------------------------------

    def process_batch(self, changelog: DataFrame) -> DataFrame:
        """Consume one changelog micro-batch; return the output changelog of
        the aggregation (rows = aggregate records with __op I/U/D)."""
        for df in self._prev_caches:
            df.unpersist()
        # the snapshot probe below gates its broadcast hint on the
        # batch's size at plan-build time (see cache_for_gate)
        changelog = cache_for_gate(changelog)

        # 1. dirty group keys = keys of new images + keys of old images
        dirty = changelog.select(*self.group_by)
        if self._snapshot is not None:
            # gated broadcast of the batch's PK column: an ordinary
            # batch probes the snapshot without shuffling it; a
            # corpus-sized backfill batch fails the gate and AQE plans
            # the join. A semi-join never fans out, so the PK column
            # needs no distinct.
            dirty = dirty.unionByName(self._snapshot.join(
                maybe_broadcast(changelog.select(*self.pk)), self.pk,
                "left_semi",
            ).select(*self.group_by))
        dirty = materialize_keys(dirty)

        # 2. update the input snapshot (replay semantics of record_store.rs)
        if self._store is not None:
            # durable path: append the batch's final per-PK images as one
            # epoch delta (O(batch) write IO; compaction into the
            # bucketed base is amortized) — an orphaned delta is
            # overwritten on crash replay
            upsert = changelog_upserts(changelog, self.pk)
            snap_meta = self._snaptx.advance(
                upsert, epoch=self._store.epoch + 1, app_id="ragg"
            )
            self._store.stage_meta("snap_txv", snap_meta)
            merged = self._snaptx.read_live()  # file-backed: flat lineage
        else:
            batch_snapshot = apply_changelog(changelog, self.pk)
            if self._snapshot is None:
                merged = batch_snapshot
            else:
                kept = self._snapshot.join(
                    maybe_broadcast(changelog.select(*self.pk)), self.pk,
                    "left_anti")
                merged = kept.unionByName(batch_snapshot)
            # materialize to break lineage growth across batches
            merged = self._ckpt("snapshot", merged)
        self._snapshot = merged

        # 3. recompute aggregates for dirty groups only, and 4. diff
        # them against the previous state for those groups -> the one
        # materialized I/U/D diff of this batch
        old_agg = (None if self._state is None
                   else keys_join(self._state, dirty, "semi"))
        diff = diff_changelog(self._agg_for(merged, dirty), old_agg,
                              self.group_by, "__gk")

        # 5. advance aggregate state from the same diff: ONLY the changed
        # groups (O(dirty) write IO per epoch). D rows delete their
        # digest; I/U upsert the new image.
        epoch = None if self._store is None else self._store.epoch + 1
        meta = self._aggtx.advance(diff_upserts(diff), epoch=epoch,
                                   app_id="ragg_agg")
        self._state = self._aggtx.read_live()
        if self._store is not None:
            # bind the log position to the epoch: the crash-rewind anchor
            self._store.stage_meta("agg_txv", meta)
            self._store.commit()  # epoch commit: both states become visible
        self._prev_caches = [changelog, dirty]
        return diff.drop("__gk")

    def current(self) -> DataFrame:
        """Current materialized aggregate table."""
        if self._state is None:
            raise ValueError("no batches processed yet")
        return self._state
