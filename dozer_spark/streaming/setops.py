"""Retraction-capable UNION (distinct) over changelogs.

Mirrors the reference's set processor (dozer-sql/src/product/set/
operator.rs:27-96): a counting record map emits Insert only when a
value's total count across all inputs goes 0 -> 1 and Delete only on
1 -> 0; intermediate count changes emit nothing. (The reference offers an
exact HashMap or a counting-Bloom variant, record_map/mod.rs:16-106 — the
probabilistic variant is a single-process memory optimization we don't
need: our "map" is a distributed DataFrame.)

Implementation: per-side PK-keyed snapshots (updates/deletes need the PK
to find the displaced row, like every operator here); the union's state
is the set of VALUE rows present (count > 0). Each batch recomputes
presence only for the dirty values and diffs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

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
class RetractingUnion:
    """UNION (distinct) over n changelog inputs with identical value
    schemas. `pks` gives each input's PK columns; `value_cols` the
    compared columns (defaults to all non-PK, non-changelog columns)."""

    spark: SparkSession
    pks: list[list[str]]
    value_cols: list[str]
    # durable state (StateStore): set to resume across restarts
    state_dir: str | None = None

    _snaps: list[DataFrame | None] = field(default=None, init=False)
    _present: DataFrame | None = field(default=None, init=False)
    _store: object = field(default=None, init=False)
    # previous batch's caches, released at the start of the next batch
    _prev_caches: list = field(default_factory=list, init=False)

    _snaptx: list = field(default=None, init=False)  # per-input DiffStateTables
    # present values: a DiffStateTable, or a MemoryDiffState without a
    # state_dir
    _presenttx: object = field(default=None, init=False)

    def __post_init__(self):
        self._snaps = [None] * len(self.pks)
        self._presenttx = MemoryDiffState("__pr")
        if self.state_dir is not None:
            from dozer_spark.streaming.incstate import (
                DiffStateTable,
                diff_state_path,
            )
            from dozer_spark.streaming.state import StateStore

            self._store = StateStore(self.spark, self.state_dir)
            # per-input snapshots: PK-keyed delta-logs (O(batch) epoch
            # IO — see stateful.py). The present set is a digest-keyed
            # DiffStateTable: the 0->1 inserts and 1->0 deletes the
            # batch computed are exactly its delta.
            self._snaptx = [
                DiffStateTable(self.spark,
                               diff_state_path(self.state_dir, f"snap{i}"),
                               key_cols=pk)
                for i, pk in enumerate(self.pks)
            ]
            self._presenttx = DiffStateTable(
                self.spark, diff_state_path(self.state_dir, "present"),
                key_cols=["__pr"], internal_key=True,
            )
            if self._store.epoch > 0:
                # AS OF the committed epoch (an ahead snapshot poisons
                # the dirty-value probe; orphaned compactions rewound —
                # see stateful.py / incstate.py)
                self._snaps = [
                    t.read_committed(self._store.load_meta(f"snap{i}_txv"))
                    for i, t in enumerate(self._snaptx)
                ]
                self._present = self._presenttx.read_committed(
                    self._store.load_meta("present_txv")
                )

    def _ckpt(self, name: str, df: DataFrame) -> DataFrame:
        # ephemeral-only lineage break (durable state -> DiffStateTable)
        return df.localCheckpoint(eager=True)

    def process_batch(self, changelogs: list[DataFrame | None]) -> DataFrame:
        if len(changelogs) != len(self.pks):
            raise ValueError(f"expected {len(self.pks)} changelogs")

        for df in self._prev_caches:
            df.unpersist()
        # the snapshot probes gate their broadcast hint on the batch's
        # size at plan-build time (see stateful.py)
        changelogs = [
            cache_for_gate(cl) if cl is not None else None for cl in changelogs
        ]

        # dirty values: new images + displaced old images, across inputs
        dirty = None
        for i, cl in enumerate(changelogs):
            if cl is None:
                continue
            vals = cl.select(*self.value_cols)
            if self._snaps[i] is not None:
                # gated broadcast of the batch's PK column (see stateful.py)
                vals = vals.unionByName(self._snaps[i].join(
                    maybe_broadcast(cl.select(*self.pks[i])), self.pks[i],
                    "left_semi",
                ).select(*self.value_cols))
            dirty = vals if dirty is None else dirty.unionByName(vals)
        if dirty is None:
            raise ValueError("process_batch needs at least one changelog")
        dirty = materialize_keys(dirty)

        # advance per-input snapshots
        for i, cl in enumerate(changelogs):
            if cl is None:
                continue
            if self._store is not None:
                upsert = changelog_upserts(cl, self.pks[i])
                meta = self._snaptx[i].advance(
                    upsert, epoch=self._store.epoch + 1, app_id=f"snap{i}"
                )
                self._store.stage_meta(f"snap{i}_txv", meta)
                self._snaps[i] = self._snaptx[i].read_live()
                continue
            batch_snap = apply_changelog(cl, self.pks[i])
            if self._snaps[i] is None:
                self._snaps[i] = self._ckpt(f"snap{i}", batch_snap)
            else:
                kept = self._snaps[i].join(
                    maybe_broadcast(cl.select(*self.pks[i])), self.pks[i],
                    "left_anti")
                self._snaps[i] = self._ckpt(f"snap{i}", kept.unionByName(batch_snap))

        # presence for dirty values = exists in ANY input snapshot
        # (null-safe: UNION's distinct treats NULL columns as equal —
        # record_map compares whole records)
        new_present = None
        for snap in self._snaps:
            if snap is not None:
                sub = keys_join(snap.select(*self.value_cols), dirty, "semi")
                new_present = sub if new_present is None else new_present.unionByName(sub)
        old_present = (None if self._present is None
                       else keys_join(self._present, dirty, "semi"))
        # 0->1 -> Insert; 1->0 -> Delete (operator.rs:54-80); a value is
        # its own identity, so the diff never emits an Update
        diff = diff_changelog(new_present.distinct(), old_present,
                              self.value_cols, "__pr")

        # advance union state from the same diff: the 0->1 / 1->0
        # transitions ARE the changed rows
        epoch = None if self._store is None else self._store.epoch + 1
        meta = self._presenttx.advance(diff_upserts(diff), epoch=epoch,
                                       app_id="runion_present")
        self._present = self._presenttx.read_live()
        if self._store is not None:
            self._store.stage_meta("present_txv", meta)
            self._store.commit()
        self._prev_caches = [cl for cl in changelogs if cl is not None] + [dirty]
        return diff.drop("__pr")

    def current(self) -> DataFrame:
        if self._present is None:
            raise ValueError("no batches processed yet")
        return self._present
