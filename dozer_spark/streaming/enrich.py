"""Streaming temporal enrichment — the "temporal table join" of an
append-only fact stream against a CDC-versioned dimension.

The reference can only equi-join two changelogs on CURRENT state
(dozer-sql/src/product/join/operator/mod.rs): a fact that arrives
after the dimension row changed joins the NEW image, even if the fact
happened before the change. Point-in-time enrichment — "which price
was valid WHEN the order happened" — needs the dimension's version
history, which is the Flink temporal-table-join contract: probe side
append-only, build side a versioned table, match = the version whose
valid-from is the greatest one <= the fact's event time.

Composition, not new machinery:
- each dimension changelog batch appends VERSION rows (key, valid-from
  ts, payload, tombstone flag for deletes) — an append-only log of the
  dimension, exactly what `DiffStateTable` stores in O(batch) epoch IO
  when durable;
- each fact batch runs the batch AS-OF join (operators/temporal.py:
  union-window, one key shuffle) against the version state; a matched
  tombstone nulls the payload (the key did not exist at that time);
- retention: versions older than (watermark - retain) are pruned,
  KEEPING the newest version at-or-before the cutoff per key — it is
  still the valid image for any in-horizon fact. The prune is a
  per-key window over state, so it runs every `prune_every` batches
  (amortized O(state/prune_every) per batch), not every batch.

Epoch commit/crash contract matches the other stateful operators
(streaming/stateful.py): the version log advances as one epoch delta,
the StateStore manifest commit publishes it, crash replays re-append
idempotently and read_committed rewinds orphaned compactions.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dozer_spark.operators.temporal import asof_join
from dozer_spark.streaming.changelog import row_digest
from dozer_spark.streaming.state import EventTimeRetention


@dataclass
class TemporalEnrich(EventTimeRetention):
    """Enrich an append-only fact stream with the dimension version
    valid at each fact's event time.

    keys: join key columns (same names on both sides; the dimension's
    PK). fact_ts / dim_ts: event-time columns. payload_cols: dimension
    columns to attach. retain: SQL interval string for version
    retention (None keeps all versions). lateness: extra SQL-interval
    slack subtracted from the prune cutoff (Flink-watermark style) so
    facts up to `lateness` behind the stream's max event time still
    meet real versions; a fact later than retain+lateness gets
    boundary-version semantics (the oldest retained image, or NULL).
    payload_types: optional {payload_col: Spark DDL type} — when set,
    a facts-before-any-dimension batch emits TYPED null payloads, so
    the output schema is identical across that boundary (a parquet /
    transactional sink or a cross-batch union never sees NullType).
    state_dir: durable resume.
    """

    spark: SparkSession
    keys: list[str]
    fact_ts: str
    dim_ts: str
    payload_cols: list[str]
    retain: str | None = None
    lateness: str | None = None
    payload_types: dict[str, str] | None = None
    prune_every: int = 8
    state_dir: str | None = None

    _versions: DataFrame | None = field(default=None, init=False)
    _store: object = field(default=None, init=False)
    _vtx: object = field(default=None, init=False)
    _watermark = None
    _batches: int = field(default=0, init=False)

    def __post_init__(self):
        if self.state_dir is not None:
            from dozer_spark.streaming.incstate import (
                DiffStateTable,
                diff_state_path,
            )
            from dozer_spark.streaming.state import StateStore

            self._store = StateStore(self.spark, self.state_dir)
            # version log: one row per (key, valid-from) — keyed by a
            # synthetic digest so updates to the same version slot
            # (rare: two dim changes with identical event time) reduce
            # to the latest image, and retention can delete via __del
            self._vtx = DiffStateTable(
                self.spark, diff_state_path(self.state_dir, "versions"),
                key_cols=["__vk"], internal_key=True,
            )
            if self._store.epoch > 0:
                self._versions = self._vtx.read_committed(
                    self._store.load_meta("versions_txv")
                )
                self._watermark = self._store.load_watermark("enrich_wm")
                self._batches = self._store.epoch

    # -- internals -----------------------------------------------------------

    def _version_rows(self, dim_changelog: DataFrame) -> DataFrame:
        """Changelog batch -> version rows. NULL keys / NULL ts can
        never match any fact (SQL semantics, same rule asof_join
        enforces) so they are dropped here rather than stored forever."""
        v = dim_changelog.select(
            *self.keys,
            F.col(self.dim_ts).alias("__vts"),
            *[F.col(c) for c in self.payload_cols],
            (F.col("__op") == "D").alias("__tomb"),
            F.col("__txid"), F.col("__seq"),
        )
        for k in [*self.keys, "__vts"]:
            v = v.filter(F.col(k).isNotNull())
        # one image per (key, valid-from) slot: the batch's latest op wins
        w = Window.partitionBy(*self.keys, "__vts").orderBy(
            F.desc("__txid"), F.desc("__seq")
        )
        return (
            v.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__txid", "__seq")
        )

    def _prune(self, versions: DataFrame) -> DataFrame:
        """Drop versions older than the horizon, keeping the newest
        at-or-before-cutoff version per key (still the valid image for
        any fact inside the horizon)."""
        cutoff = self._cutoff()
        if self.lateness is not None:
            cutoff = cutoff - F.expr(f"INTERVAL {self.lateness}")
        old = F.col("__vts") < cutoff
        ranked = versions.withColumn(
            "__old_rn",
            F.row_number().over(
                Window.partitionBy(*self.keys)
                .orderBy(F.desc(F.when(old, F.col("__vts"))))
            ),
        )
        # rank 1 among the old versions survives — UNLESS it is a
        # tombstone: matching a tombstone and matching nothing both
        # yield NULL payload once every earlier version is gone, so
        # keeping it would leak one state row per ever-deleted key
        keep_boundary = (F.col("__old_rn") == 1) & ~F.col("__tomb")
        return ranked.filter(~old | keep_boundary).drop("__old_rn")

    # -- per-batch processing ------------------------------------------------

    def process_batch(
        self, dim_changelog: DataFrame | None, facts: DataFrame | None
    ) -> DataFrame | None:
        """Consume one micro-batch: dimension changes first (a fact in
        the same batch sees this batch's versions — the deterministic
        convention), then enrich the facts. Either side may be None.
        Returns the enriched fact rows (append-only), or None when the
        batch has no facts."""
        epoch = (self._store.epoch + 1) if self._store is not None else 0

        new_versions = None
        if dim_changelog is not None:
            new_versions = self._version_rows(dim_changelog)

        # advance the version state
        if self._store is not None:
            changed = None
            if new_versions is not None:
                changed = new_versions.withColumn(
                    "__vk", row_digest([*self.keys, "__vts"])
                ).withColumn("__del", F.lit(False))
            if (self.retain is not None and self._watermark is not None
                    and self._versions is not None
                    and self._prune_due()):
                live = self._versions
                kept = self._prune(live)
                pruned_keys = live.join(
                    kept.select(*self.keys, "__vts"),
                    [*self.keys, "__vts"], "left_anti",
                )
                if new_versions is not None:
                    # a slot re-upserted THIS batch must not also carry a
                    # prune tombstone in the same epoch delta — two rows
                    # with one digest and one epoch would make compaction
                    # pick arbitrarily; the fresher upsert wins
                    pruned_keys = pruned_keys.join(
                        new_versions.select(*self.keys, "__vts"),
                        [*self.keys, "__vts"], "left_anti",
                    )
                pruned_keys = (
                    pruned_keys
                    .withColumn("__vk", row_digest([*self.keys, "__vts"]))
                    .withColumn("__del", F.lit(True))
                )
                changed = (pruned_keys if changed is None
                           else changed.unionByName(pruned_keys))
            if changed is not None:
                meta = self._vtx.advance(changed, epoch=epoch,
                                         app_id="enrich")
                self._store.stage_meta("versions_txv", meta)
                self._versions = self._vtx.read_live()
        else:
            if new_versions is not None:
                merged = (
                    new_versions if self._versions is None
                    else self._versions
                    .join(new_versions.select(*self.keys, "__vts"),
                          [*self.keys, "__vts"], "left_anti")
                    .unionByName(new_versions)
                )
                self._versions = merged.localCheckpoint(eager=True)
            if (self.retain is not None and self._watermark is not None
                    and self._versions is not None
                    and self._prune_due()):
                self._versions = self._prune(
                    self._versions
                ).localCheckpoint(eager=True)

        out = None
        if facts is not None and self._versions is not None:
            out = asof_join(
                facts, self._versions,
                self.keys, self.fact_ts, "__vts",
                ["__tomb", *self.payload_cols],
            )
            # a tombstone match means "no dimension row at that time"
            nulled = [
                F.when(~F.coalesce(F.col("__tomb"), F.lit(True)), F.col(c))
                .alias(c)
                for c in self.payload_cols
            ]
            out = out.select(*facts.columns, *nulled)
        elif facts is not None:
            # no versions yet: every fact is unmatched. With
            # payload_types the NULLs are cast to the dimension's real
            # types so this batch's schema equals every later matched
            # batch's; without it they are NullType (void — unwritable
            # to parquet) and the caller owns the schema alignment.
            def _null(c):
                lit = F.lit(None)
                if self.payload_types and c in self.payload_types:
                    lit = lit.cast(self.payload_types[c])
                return lit.alias(c)

            out = facts.select(
                *facts.columns,
                *[_null(c) for c in self.payload_cols],
            )
        if facts is not None:
            # advance the event-time watermark from the facts
            self._advance_watermark(facts, self.fact_ts)

        if self._store is not None:
            self._store.stage_watermark("enrich_wm", self._watermark)
            self._store.commit()
        self._batches += 1
        return out

    def current_versions(self) -> DataFrame:
        if self._versions is None:
            raise ValueError("no dimension batches processed yet")
        return self._versions
