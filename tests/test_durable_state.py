"""Durable operator state: kill-and-resume semantics.

Mirrors the reference's epoch checkpointing contract
(dozer-core/src/node.rs:61-67 + checkpoint_ns.rs): state serialized per
epoch on commit, restored on restart, and a crash between state writes
and the commit point must roll back to the previous epoch.
"""

from __future__ import annotations

import pytest
import os

import pyspark.sql.functions as F
from pyspark.sql import types as T

from dozer_spark.streaming import RetractingAggregation
from dozer_spark.streaming.join import RetractingJoin
from dozer_spark.streaming.setops import RetractingUnion
from dozer_spark.streaming.state import StateStore


def _cl(spark, rows):
    schema = T.StructType(
        [
            T.StructField("__op", T.StringType()),
            T.StructField("__txid", T.LongType()),
            T.StructField("__seq", T.LongType()),
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _ragg(spark, state_dir):
    return RetractingAggregation(
        spark,
        pk=["id"],
        group_by=["grp"],
        aggs=[F.sum("amount").alias("s"), F.count(F.lit(1)).cast("long").alias("n")],
        state_dir=state_dir,
    )


class TestStateStore:
    def test_stage_then_commit_then_load(self, spark, tmp_path):
        st = StateStore(spark, str(tmp_path / "s"))
        st.stage_meta("t", {"v": 1})
        assert st.load_meta("t") is None  # staged ≠ committed
        assert st.commit() == 1
        assert st.load_meta("t") == {"v": 1}

    def test_crash_before_commit_rolls_back(self, spark, tmp_path):
        root = str(tmp_path / "s")
        st = StateStore(spark, root)
        st.stage_meta("t", {"v": 1})
        st.commit()
        # epoch 2 staged but NOT committed (simulated crash)
        st.stage_meta("t", {"v": 2})
        st2 = StateStore(spark, root)  # restart
        assert st2.epoch == 1
        assert st2.load_meta("t") == {"v": 1}

    def test_empty_state_roundtrip(self, spark, tmp_path):
        root = str(tmp_path / "s")
        st = StateStore(spark, root)
        st.stage_meta("none", None)
        st.stage_meta("empty", {})
        st.commit()
        for s in (st, StateStore(spark, root)):
            assert s.load_meta("none") is None
            assert s.load_meta("absent") is None
            assert s.load_meta("empty") == {}

    def test_restart_reads_committed_meta(self, spark, tmp_path):
        root = str(tmp_path / "s")
        st = StateStore(spark, root)
        for i in range(5):
            st.stage_meta("t", {"v": i})
            if i % 2:
                st.stage_meta("odd", {"v": i})
            st.commit()
        st2 = StateStore(spark, root)  # restart
        assert st2.epoch == 5
        assert st2.load_meta("t") == {"v": 4}
        # an entry not staged in the last epoch keeps its prior value
        assert st2.load_meta("odd") == {"v": 3}
        st.stage_meta("t", {"v": 5})  # staged after the restart's read
        assert StateStore(spark, root).load_meta("t") == {"v": 4}


class TestAggregationResume:
    B1 = [("I", 1, 1, 1, "a", 10.0), ("I", 1, 2, 2, "b", 7.0)]
    B2 = [("U", 2, 1, 1, "a", 20.0), ("I", 2, 2, 3, "a", 5.0)]
    B3 = [("D", 3, 1, 2, "b", 7.0), ("U", 3, 2, 3, "c", 5.0)]

    @pytest.mark.slow
    def test_restart_mid_stream_matches_uninterrupted(self, spark, tmp_path):
        # uninterrupted run (ephemeral state)
        ref = _ragg(spark, None)
        ref.process_batch(_cl(spark, self.B1))
        ref.process_batch(_cl(spark, self.B2))
        ref_out3 = ref.process_batch(_cl(spark, self.B3))

        # durable run with a "crash" after batch 2: a NEW operator instance
        # on a NEW session resumes from the committed state
        sd = str(tmp_path / "agg_state")
        first = _ragg(spark, sd)
        first.process_batch(_cl(spark, self.B1))
        first.process_batch(_cl(spark, self.B2))
        del first

        spark2 = spark.newSession()
        resumed = _ragg(spark2, sd)
        out3 = resumed.process_batch(_cl(spark2, self.B3))

        def norm(df):
            return sorted((r["__op"], r.grp, r.s, r.n) for r in df.collect())

        assert norm(out3) == norm(ref_out3)
        assert sorted((r.grp, r.s) for r in resumed.current().collect()) == sorted(
            (r.grp, r.s) for r in ref.current().collect()
        )


class TestJoinResume:
    def _cl2(self, spark, rows, cols):
        return spark.createDataFrame(rows, ["__op", "__txid", "__seq", *cols])

    def test_join_restart_resumes(self, spark, tmp_path):
        sd = str(tmp_path / "join_state")
        j1 = RetractingJoin(
            spark, left_pk=["lid"], right_pk=["rid"], on=[("k", "k2")],
            how="left", state_dir=sd,
        )
        l1 = self._cl2(spark, [("I", 1, 1, 1, 10), ("I", 1, 2, 2, 20)], ["lid", "k"])
        r1 = self._cl2(spark, [("I", 1, 1, 100, 10)], ["rid", "k2"])
        j1.process_batch(l1, r1)
        del j1

        j2 = RetractingJoin(
            spark, left_pk=["lid"], right_pk=["rid"], on=[("k", "k2")],
            how="left", state_dir=sd,
        )
        # right row for k=20 arrives after restart: padded row must retract
        r2 = self._cl2(spark, [("I", 2, 1, 200, 20)], ["rid", "k2"])
        l2 = spark.createDataFrame([], l1.schema)
        out = j2.process_batch(l2, r2)
        got = sorted(((r["__op"], r.lid, r.rid) for r in out.collect()), key=str)
        # padded (2, NULL) retracts; matched (2, 200) inserts
        # (operator/mod.rs:75-135 semantics — resume must preserve them)
        assert got == [("D", 2, None), ("I", 2, 200)]
        cur = sorted((r.lid, r.rid) for r in j2.current().collect())
        assert cur == [(1, 100), (2, 200)]


class TestUnionResume:
    def test_union_restart_resumes(self, spark, tmp_path):
        sd = str(tmp_path / "union_state")
        schema = T.StructType(
            [
                T.StructField("__op", T.StringType()),
                T.StructField("__txid", T.LongType()),
                T.StructField("__seq", T.LongType()),
                T.StructField("id", T.LongType()),
                T.StructField("val", T.StringType()),
            ]
        )
        u1 = RetractingUnion(spark, pks=[["id"], ["id"]], value_cols=["val"],
                             state_dir=sd)
        a1 = spark.createDataFrame([("I", 1, 1, 1, "x")], schema)
        b1 = spark.createDataFrame([("I", 1, 1, 9, "x")], schema)
        u1.process_batch([a1, b1])
        del u1

        u2 = RetractingUnion(spark, pks=[["id"], ["id"]], value_cols=["val"],
                             state_dir=sd)
        # remove one holder of "x": still present (count 2->1), no output
        a2 = spark.createDataFrame([("D", 2, 1, 1, "x")], schema)
        out = u2.process_batch([a2, None])
        assert out.count() == 0
        # remove the last holder: Delete
        b3 = spark.createDataFrame([("D", 3, 1, 9, "x")], schema)
        out2 = u2.process_batch([None, b3])
        assert [(r["__op"], r.val) for r in out2.collect()] == [("D", "x")]


class TestIncrementalSnapshot:
    def test_snapshot_epoch_delta_is_batch_sized(self, spark, tmp_path):
        """The durable snapshot is a delta-log: a 1-row batch against a
        200-row state writes a 1-row epoch delta — never a rewrite of
        untouched state, regardless of how the PKs spread over buckets
        (the flaw of per-epoch bucketed MERGE: a uniform tiny batch
        touched EVERY bucket). Compaction then folds the window into
        the bucketed base and the state survives unchanged."""
        import os

        import pyspark.sql.functions as F

        sd = str(tmp_path / "sd")
        ragg = RetractingAggregation(
            spark, pk=["id"], group_by=["grp"],
            aggs=[F.sum("amount").alias("s"), F.count(F.lit(1)).alias("n")],
            state_dir=sd, snapshot_buckets=8,
        )
        ragg._snaptx.compact_every = 2
        schema = "__op string, __txid long, __seq long, id long, grp string, amount double"
        big = spark.createDataFrame(
            [("I", 1, i, i, f"g{i % 3}", float(i)) for i in range(200)], schema
        )
        ragg.process_batch(big)
        small = spark.createDataFrame(
            [("U", 2, 1, 5, "g2", 500.0)], schema
        )
        ragg.process_batch(small)
        # epoch-2 delta holds exactly the one batch row
        tbl = ragg._snaptx
        d2 = spark.read.schema(tbl._delta_schema()).parquet(tbl._delta_dir(2))
        assert [(r.id, r.amount) for r in d2.collect()] == [(5, 500.0)]
        # third batch triggers compaction (window=2) into the bucketed base
        ragg.process_batch(spark.createDataFrame(
            [("U", 3, 1, 7, "g1", 700.0)], schema))
        assert tbl.tx.version == 1  # compaction committed
        # and the aggregate state is still exactly right
        got = {(r.grp, r.s, r.n) for r in ragg.current().collect()}
        want_s = sum(range(200)) - 5.0 + 500.0 - 7.0 + 700.0
        total = sum(s for _, s, _ in got)
        assert abs(total - want_s) < 1e-9

    def test_crash_between_merge_and_commit_replays_clean(self, spark, tmp_path):
        """Crash AFTER the snapshot merge but BEFORE the epoch commit:
        the replayed batch's merge is a batch_id no-op, the aggregate
        state recomputes, and the final state matches the uninterrupted
        run (the at-least-once contract of the split manifests)."""
        import pyspark.sql.functions as F

        sd = str(tmp_path / "sd")

        def make():
            return RetractingAggregation(
                spark, pk=["id"], group_by=["grp"],
                aggs=[F.sum("amount").alias("s")], state_dir=sd,
            )

        schema = "__op string, __txid long, __seq long, id long, grp string, amount double"
        b1 = spark.createDataFrame([("I", 1, 1, 1, "a", 5.0),
                                    ("I", 1, 2, 2, "b", 7.0)], schema)
        b2 = spark.createDataFrame([("U", 2, 1, 1, "a", 9.0)], schema)

        first = make()
        first.process_batch(b1)
        # simulate the crash BETWEEN the two state advances: the snapshot
        # delta lands, the aggregate advance dies (split-state window)
        import pytest

        def boom(*a, **kw):
            raise RuntimeError("crash between snapshot and aggstate advance")
        first._aggtx.advance = boom
        with pytest.raises(RuntimeError):
            first.process_batch(b2)
        import os
        assert os.path.isdir(first._snaptx._delta_dir(2))  # snapshot half on disk
        del first

        resumed = make()
        assert resumed._store.epoch == 1  # the epoch did NOT advance
        out = resumed.process_batch(b2)  # replay: delta overwritten, agg re-diffs
        rows = sorted((r["__op"], r.grp, r.s) for r in out.collect())
        assert rows == [("U", "a", 9.0)]
        assert sorted((r.grp, r.s) for r in resumed.current().collect()) == [
            ("a", 9.0), ("b", 7.0)
        ]


class TestDiffStateRewind:
    def test_crash_after_aggstate_merge_reemits_on_replay(self, spark, tmp_path):
        """The OTHER crash window: snapshot AND aggregate DiffStateTable
        merged, but the manifest commit never happened. The aggregate
        table is one version ahead; a resume must rewind it to the
        committed version (inverse change feed) so the replayed batch
        re-diffs against the committed state and RE-EMITS its output —
        otherwise a consumer that died with the process loses the batch."""
        import pytest

        sd = str(tmp_path / "sd")

        b1 = _cl(spark, [("I", 1, 1, 1, "a", 5.0), ("I", 1, 2, 2, "b", 7.0)])
        b2 = _cl(spark, [("U", 2, 1, 1, "a", 9.0), ("D", 2, 2, 2, "b", 7.0)])

        first = _ragg(spark, sd)
        first.process_batch(b1).collect()
        # crash at the LAST possible moment: both txtable merges done,
        # manifest commit refused
        def boom():
            raise RuntimeError("simulated crash before manifest commit")
        first._store.commit = boom
        with pytest.raises(RuntimeError):
            first.process_batch(b2)
        # the epoch-2 delta IS on disk, but not in the committed pending list
        assert os.path.isdir(first._aggtx._delta_dir(2))
        del first

        resumed = _ragg(spark, sd)
        assert resumed._store.epoch == 1
        out = resumed.process_batch(b2)
        rows = sorted((r["__op"], r.grp) for r in out.collect())
        # the replay re-emits BOTH changes (at-least-once), instead of
        # the empty changelog a non-rewound diff would produce
        assert rows == [("D", "b"), ("U", "a")]
        assert sorted((r.grp, r.s) for r in resumed.current().collect()) == [
            ("a", 9.0)
        ]

    def test_aggstate_epoch_delta_carries_only_changed_groups(self, spark, tmp_path):
        """Epoch IO contract: a batch touching ONE group writes ONE
        group's row into the epoch delta — never a full aggregate-table
        rewrite (O(changed) epoch IO, the delta-log design)."""
        sd = str(tmp_path / "sd")
        agg = _ragg(spark, sd)
        agg.process_batch(
            _cl(spark, [("I", 1, i, i, f"g{i % 8}", float(i)) for i in range(64)])
        ).collect()
        agg.process_batch(_cl(spark, [("U", 2, 1, 1, "g1", 100.0)])).collect()
        delta = spark.read.schema(agg._aggtx._delta_schema()).parquet(
            agg._aggtx._delta_dir(2)
        )
        touched_groups = {r.grp for r in delta.select("grp").distinct().collect()}
        assert touched_groups == {"g1"}, touched_groups
        # and the live state still reflects ALL groups
        assert agg.current().count() == 8

    @pytest.mark.slow
    def test_compaction_folds_deltas_and_preserves_state(self, spark, tmp_path):
        """After compact_every epochs the pending deltas fold into the
        bucketed base (latest image per digest wins, deletes drop out)
        and the live state equals the from-scratch aggregate."""
        sd = str(tmp_path / "sd")
        agg = _ragg(spark, sd)
        agg._aggtx.compact_every = 2
        batches = [
            _cl(spark, [("I", 1, 1, 1, "a", 5.0), ("I", 1, 2, 2, "b", 7.0)]),
            _cl(spark, [("U", 2, 1, 1, "a", 9.0)]),
            _cl(spark, [("D", 3, 1, 2, "b", 7.0)]),
            _cl(spark, [("I", 4, 1, 3, "c", 1.0)]),
            _cl(spark, [("U", 5, 1, 3, "c", 2.0)]),
        ]
        for b in batches:
            agg.process_batch(b).collect()
        assert agg._aggtx.tx.version >= 1  # at least one compaction ran
        got = sorted((r.grp, r.s, r.n) for r in agg.current().collect())
        assert got == [("a", 9.0, 1), ("c", 2.0, 1)]
        # a fresh resume sees the same state
        agg2 = _ragg(spark, sd)
        got2 = sorted((r.grp, r.s, r.n) for r in agg2._state.collect())
        assert got2 == got


class TestDiffStateRewindJoinUnion:
    def _cl2(self, spark, rows, cols):
        return spark.createDataFrame(rows, ["__op", "__txid", "__seq", *cols])

    def test_join_crash_after_prev_merge_reemits(self, spark, tmp_path):
        """Crash between the prev DiffStateTable merge and the manifest
        commit: resume rewinds prev and the replayed batch re-emits."""
        import pytest

        sd = str(tmp_path / "join_state")

        def make():
            return RetractingJoin(
                spark, left_pk=["lid"], right_pk=["rid"], on=[("k", "k2")],
                how="left", state_dir=sd,
            )

        j1 = make()
        l1 = self._cl2(spark, [("I", 1, 1, 1, 10), ("I", 1, 2, 2, 20)],
                       ["lid", "k"])
        r1 = self._cl2(spark, [("I", 1, 1, 100, 10)], ["rid", "k2"])
        j1.process_batch(l1, r1).collect()

        r2 = self._cl2(spark, [("I", 2, 1, 200, 20)], ["rid", "k2"])
        l2 = spark.createDataFrame([], l1.schema)

        # force a compaction during batch 2: the crash then leaves the
        # BASE table one version ahead (the deep rewind path), plus an
        # orphaned epoch-2 delta
        j1._prevtx.compact_every = 1

        def boom():
            raise RuntimeError("simulated crash before manifest commit")
        j1._store.commit = boom
        with pytest.raises(RuntimeError):
            j1.process_batch(l2, r2)
        assert j1._prevtx.tx.version == 1  # compaction committed, epoch did not
        del j1

        j2 = make()
        out = j2.process_batch(l2, r2)
        got = sorted(((r["__op"], r.lid, r.rid) for r in out.collect()), key=str)
        assert got == [("D", 2, None), ("I", 2, 200)]
        cur = sorted((r.lid, r.rid) for r in j2.current().collect())
        assert cur == [(1, 100), (2, 200)]

    def test_union_crash_after_present_merge_reemits(self, spark, tmp_path):
        import pytest

        sd = str(tmp_path / "union_state")
        schema = "__op string, __txid long, __seq long, id long, val string"

        def make():
            return RetractingUnion(spark, pks=[["id"], ["id"]],
                                   value_cols=["val"], state_dir=sd)

        u1 = make()
        a1 = spark.createDataFrame([("I", 1, 1, 1, "x")], schema)
        b1 = spark.createDataFrame([("I", 1, 1, 9, "y")], schema)
        u1.process_batch([a1, b1]).collect()

        a2 = spark.createDataFrame([("D", 2, 1, 1, "x")], schema)

        def boom():
            raise RuntimeError("simulated crash before manifest commit")
        u1._store.commit = boom
        with pytest.raises(RuntimeError):
            u1.process_batch([a2, None])
        assert os.path.isdir(u1._presenttx._delta_dir(2))
        del u1

        u2 = make()
        out = u2.process_batch([a2, None])
        assert [(r["__op"], r.val) for r in out.collect()] == [("D", "x")]
        assert sorted(r.val for r in u2.current().collect()) == ["y"]


class TestDurableTtlJoin:
    def _ev(self, spark, rows):
        return (
            spark.createDataFrame(
                rows, ["__op", "__txid", "__seq", "eid", "key", "ts_s"]
            )
            .withColumn("ts", F.col("ts_s").cast("timestamp"))
            .drop("ts_s")
        )

    def _users(self, spark, rows):
        return spark.createDataFrame(
            rows, ["__op", "__txid", "__seq", "uid", "name", "country_id"]
        )

    @pytest.mark.slow
    def test_ttl_eviction_survives_restart(self, spark, tmp_path):
        """Durable TTL side = delta-log with eviction tombstones: the
        eviction and the retract-on-next-touch semantics must match the
        in-memory path ACROSS a restart, and the epoch delta must carry
        the evicted row as a tombstone (O(batch + evicted) IO proof)."""
        sd = str(tmp_path / "ttl_state")

        def make():
            return RetractingJoin(
                spark, ["uid"], ["eid"], [("country_id", "key")], "inner",
                ttl="1 HOUR", right_ts="ts", state_dir=sd,
            )

        j = make()
        out1 = j.process_batch(
            self._users(spark, [("I", 1, 1, 1, "ann", 7)]),
            self._ev(spark, [("I", 1, 1, 100, 7, "2024-01-01 10:00:00")]),
        )
        assert out1.count() == 1
        # advancing the right max ts by 2.5h evicts the 10:00 row; the
        # epoch-2 delta must hold a tombstone for it (not a full rewrite)
        empty_left = spark.createDataFrame(
            [], "__op string, __txid long, __seq long, uid long, "
                "name string, country_id long")
        j.process_batch(
            empty_left,
            self._ev(spark, [("I", 2, 1, 101, 99, "2024-01-01 12:30:00")]),
        )
        tbl = j._sidetx["right"]
        delta2 = spark.read.schema(tbl._delta_schema()).parquet(tbl._delta_dir(2))
        dels = {r.eid for r in delta2.filter("__del").collect()}
        assert dels == {100}, dels
        del j

        # restart: evicted row must STAY evicted; touching its key
        # retracts the stale output, fresh keys still join
        j2 = make()
        out3 = j2.process_batch(
            self._users(spark, [("I", 3, 1, 2, "bob", 7)]), None
        )
        assert [(r["__op"], r.name) for r in out3.collect()] == [("D", "ann")]
        out4 = j2.process_batch(
            self._users(spark, [("I", 4, 1, 3, "cat", 99)]), None
        )
        assert [(r["__op"], r.name) for r in out4.collect()] == [("I", "cat")]


class TestSnapshotRewindOnResume:
    @pytest.mark.slow
    def test_group_key_change_in_crashed_batch_retracts_old_group(
        self, spark, tmp_path
    ):
        """A PK whose GROUP KEY changes in the crashed batch: the
        snapshot TransactionalTable commits mid-batch, so a resume that
        read it at head would probe the dirty keys to the NEW group only
        and the old group's retraction would be lost forever. Resume
        must read the snapshot AS OF the committed epoch (batch_id
        ledger decides whether it is ahead; inverse-CDF rewind)."""
        import pytest

        sd = str(tmp_path / "sd")

        b1 = _cl(spark, [("I", 1, 1, 1, "a", 5.0), ("I", 1, 2, 2, "b", 7.0)])
        # id=1 MOVES from group a to group b
        b2 = _cl(spark, [("U", 2, 1, 1, "b", 9.0)])

        first = _ragg(spark, sd)
        first.process_batch(b1).collect()

        def boom():
            raise RuntimeError("simulated crash before manifest commit")
        first._store.commit = boom
        with pytest.raises(RuntimeError):
            first.process_batch(b2)
        # the crashed epoch's snapshot delta IS on disk (orphaned)
        import os
        assert os.path.isdir(first._snaptx._delta_dir(2))
        del first

        resumed = _ragg(spark, sd)
        # resume reads the snapshot AS OF epoch 1: id=1 still in group a
        snap = {(r.grp, r.amount) for r in resumed._snapshot.collect()}
        assert snap == {("a", 5.0), ("b", 7.0)}
        out = resumed.process_batch(b2)
        rows = sorted((r["__op"], r.grp, r.s) for r in out.collect())
        # group a must be DELETED (its only row moved), group b updated
        assert rows == [("D", "a", 5.0), ("U", "b", 16.0)]
        assert sorted((r.grp, r.s) for r in resumed.current().collect()) == [
            ("b", 16.0)
        ]


def test_pre_delta_log_layout_fails_loudly(spark, tmp_path):
    """A state dir written by the pre-delta-log layout (TransactionalTable
    manifest at the root) must be rejected at construction — silently
    reading the empty base/ while other states restore would corrupt
    aggregates."""
    import json

    import pytest

    from dozer_spark.streaming.incstate import DiffStateTable

    p = tmp_path / "snapshot_tx"
    p.mkdir()
    (p / "MANIFEST.json").write_text(json.dumps({"version": 3}))
    with pytest.raises(ValueError, match="pre-delta-log"):
        DiffStateTable(spark, str(p), key_cols=["id"])


class TestTimeTravel:
    def _mk(self, spark, tmp_path, **kw):
        from dozer_spark.storage.txtable import TransactionalTable

        return TransactionalTable(
            spark, str(tmp_path / "tt"), pk=["id"], n_buckets=4, **kw
        )

    def test_read_as_of_reconstructs_every_version(self, spark, tmp_path):
        tx = self._mk(spark, tmp_path)
        snaps = {}
        tx.merge(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]))
        snaps[1] = {(1, "a"), (2, "b")}
        tx.merge(spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"]))
        snaps[2] = {(1, "a"), (2, "B"), (3, "c")}
        tx.merge(
            spark.createDataFrame([(1, "x", True), (4, "d", False)],
                                  ["id", "v", "del"]),
            delete_col="del",
        )
        snaps[3] = {(2, "B"), (3, "c"), (4, "d")}
        for ver, want in snaps.items():
            got = {tuple(r) for r in tx.read_as_of(ver).collect()}
            assert got == want, ver
        assert tx.read_as_of(0).count() == 0
        # head shortcut and range validation
        assert {tuple(r) for r in tx.read_as_of(3).collect()} == snaps[3]
        import pytest

        with pytest.raises(ValueError, match="out of range"):
            tx.read_as_of(4)

    @pytest.mark.slow
    def test_read_as_of_fails_loudly_past_retention(self, spark, tmp_path):
        import pytest

        tx = self._mk(spark, tmp_path, change_retention=1)
        for i in range(4):
            tx.merge(spark.createDataFrame([(i, i)], ["id", "v"]))
        # retention kept only the newest change dirs; deep travel must
        # raise, not silently return a state that never existed
        with pytest.raises(ValueError, match="vacuumed"):
            tx.read_as_of(1)
