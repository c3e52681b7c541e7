"""Streaming/CDC tests — retraction semantics ported from the reference's
aggregation tests (dozer-sql/src/aggregation/tests/) and changelog replay
harness (dozer-tests/src/sql_tests/logic_test.rs:81-94)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from dozer_spark.streaming import (
    with_op,
    apply_changelog,
    changelog_filter,
    streaming_tumble_agg,
    RetractingAggregation,
)
from dozer_spark.storage import TransactionalTable
from dozer_spark.storage.txtable import foreach_batch_merge


def _cl(spark, rows):
    """rows: (op, txid, seq, id, grp, amount)"""
    return spark.createDataFrame(
        rows, ["__op", "__txid", "__seq", "id", "grp", "amount"]
    )


def test_apply_changelog_latest_per_pk(spark):
    cl = _cl(
        spark,
        [
            ("I", 1, 1, 1, "a", 10.0),
            ("I", 1, 2, 2, "a", 20.0),
            ("U", 2, 1, 1, "a", 15.0),
            ("D", 3, 1, 2, "a", 20.0),
            ("I", 3, 2, 3, "b", 5.0),
        ],
    )
    snap = {r.id: r for r in apply_changelog(cl, ["id"]).collect()}
    assert set(snap) == {1, 3}
    assert snap[1].amount == 15.0


def test_changelog_filter_update_flip(spark):
    """selection/processor.rs:30-106 — U becomes I/D when the predicate
    flips between old and new image."""
    cl = _cl(
        spark,
        [
            ("I", 1, 1, 1, "a", 10.0),   # pred false (amount<50)
            ("I", 1, 2, 2, "a", 60.0),   # pred true -> I
            ("U", 2, 1, 1, "a", 70.0),   # false->true -> I
            ("U", 2, 2, 2, "a", 30.0),   # true->false -> D
            ("U", 3, 1, 1, "a", 80.0),   # true->true -> U
            ("D", 4, 1, 1, "a", 80.0),   # pred true -> D
        ],
    )
    out = changelog_filter(cl, ["id"], F.col("amount") > 50).orderBy("__txid", "__seq")
    got = [(r["__op"], r.id, r.amount) for r in out.collect()]
    assert got == [
        ("I", 2, 60.0),
        ("I", 1, 70.0),
        ("D", 2, 30.0),
        ("U", 1, 80.0),
        ("D", 1, 80.0),
    ]


def test_snapshot_diff_ops_and_images(spark):
    """snapshot_diff: unchanged rows emit nothing, a value change is ONE
    U with the new image (NULL->value and value->NULL on a non-PK
    column included), a removed key is D with the old image, a new key
    is I; columns are __op, __txid, __seq, then new's columns."""
    from dozer_spark.streaming import snapshot_diff

    schema = "id long, name string, amt long"
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, "d", 40),
         (6, "f", None)], schema)
    new = spark.createDataFrame(
        [(1, "a", 10),      # unchanged
         (2, "b", 20),      # NULL -> value
         (3, "c", None),    # value -> NULL
         (4, "d2", 40),     # value change
         (5, "e", 50)],     # new key; 6 removed
        schema)
    out = snapshot_diff(old, new, ["id"], txid=7)
    assert out.columns == ["__op", "__txid", "__seq", "id", "name", "amt"]
    got = sorted((r["__op"], r["__txid"], r.id, r.name, r.amt)
                 for r in out.collect())
    assert got == [
        ("D", 7, 6, "f", None),
        ("I", 7, 5, "e", 50),
        ("U", 7, 2, "b", 20),
        ("U", 7, 3, "c", None),
        ("U", 7, 4, "d2", 40),
    ]
    assert out.select("__seq").distinct().count() == 5


def test_upsert_parquet_roundtrip(spark, tmp_path):
    """Upsert by PK into a parquet TransactionalTable, deletes included."""
    path = str(tmp_path / "target")
    tx = TransactionalTable(spark, path, ["id"])
    b1 = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
    tx.merge(b1)
    b2 = spark.createDataFrame([(2, "y2"), (3, "z")], ["id", "v"])
    tx.merge(b2)
    got = {r.id: r.v for r in TransactionalTable(spark, path, ["id"]).read().collect()}
    assert got == {1: "x", 2: "y2", 3: "z"}
    # delete handling
    b3 = spark.createDataFrame([(1, "x", True), (4, "w", False)], ["id", "v", "is_del"])
    tx.merge(b3, delete_col="is_del")
    got = {r.id: r.v for r in TransactionalTable(spark, path, ["id"]).read().collect()}
    assert got == {2: "y2", 3: "z", 4: "w"}


class TestRetractingAggregation:
    """Port of the reference's per-aggregator retraction test shapes
    (dozer-sql/src/aggregation/tests/aggregation_sum_tests.rs etc.):
    insert -> Insert, update -> Update, delete-to-empty -> Delete,
    group-key change -> Delete+Insert, HAVING transitions."""

    def _ragg(self, spark, having=None):
        return RetractingAggregation(
            spark,
            pk=["id"],
            group_by=["grp"],
            aggs=[
                F.sum("amount").alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
                F.min("amount").alias("mn"),
                F.max("amount").alias("mx"),
            ],
            having=having,
        )

    def test_insert_update_delete_cycle(self, spark):
        ragg = self._ragg(spark)
        out1 = ragg.process_batch(_cl(spark, [("I", 1, 1, 1, "a", 10.0), ("I", 1, 2, 2, "a", 5.0)]))
        assert [(r["__op"], r.grp, r.s, r.n) for r in out1.collect()] == [("I", "a", 15.0, 2)]

        # update changes the aggregate -> U
        out2 = ragg.process_batch(_cl(spark, [("U", 2, 1, 1, "a", 20.0)]))
        assert [(r["__op"], r.grp, r.s, r.n, r.mx) for r in out2.collect()] == [("U", "a", 25.0, 2, 20.0)]

        # MIN retraction: delete the row holding the min -> min re-derives
        out3 = ragg.process_batch(_cl(spark, [("D", 3, 1, 2, "a", 5.0)]))
        assert [(r["__op"], r.grp, r.s, r.n, r.mn) for r in out3.collect()] == [("U", "a", 20.0, 1, 20.0)]

        # delete last row -> group Delete (processor.rs agg_delete:183)
        out4 = ragg.process_batch(_cl(spark, [("D", 4, 1, 1, "a", 20.0)]))
        assert [(r["__op"], r.grp) for r in out4.collect()] == [("D", "a")]

    def test_group_key_change_emits_delete_and_insert(self, spark):
        """processor.rs:538-546."""
        ragg = self._ragg(spark)
        ragg.process_batch(_cl(spark, [("I", 1, 1, 1, "a", 10.0)]))
        out = ragg.process_batch(_cl(spark, [("U", 2, 1, 1, "b", 10.0)]))
        got = sorted((r["__op"], r.grp) for r in out.collect())
        assert got == [("D", "a"), ("I", "b")]

    def test_having_transitions(self, spark):
        """processor.rs:339-386 — entering/leaving the HAVING filter."""
        ragg = self._ragg(spark, having=F.col("n") >= 2)
        out1 = ragg.process_batch(_cl(spark, [("I", 1, 1, 1, "a", 10.0)]))
        assert out1.count() == 0  # below HAVING: nothing emitted
        out2 = ragg.process_batch(_cl(spark, [("I", 2, 1, 2, "a", 1.0)]))
        assert [(r["__op"], r.grp, r.n) for r in out2.collect()] == [("I", "a", 2)]
        out3 = ragg.process_batch(_cl(spark, [("D", 3, 1, 2, "a", 1.0)]))
        assert [(r["__op"], r.grp) for r in out3.collect()] == [("D", "a")]

    def test_unseen_groups_untouched(self, spark):
        ragg = self._ragg(spark)
        ragg.process_batch(_cl(spark, [("I", 1, 1, 1, "a", 10.0), ("I", 1, 2, 2, "b", 7.0)]))
        out = ragg.process_batch(_cl(spark, [("U", 2, 1, 1, "a", 11.0)]))
        assert [(r["__op"], r.grp) for r in out.collect()] == [("U", "a")]
        cur = {r.grp: r.s for r in ragg.current().collect()}
        assert cur == {"a": 11.0, "b": 7.0}


def test_streaming_file_source_tumble_to_upsert(spark, tmp_path):
    """End-to-end micro-batch flow: file stream -> tumble agg (update mode
    semantics via foreachBatch) -> parquet MERGE sink with checkpoint."""
    src = tmp_path / "in"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:05:00", "click", 1.0), (2, "2024-01-01 00:20:00", "click", 2.0),
         (3, "2024-01-01 01:10:00", "view", 3.0)],
        ["event_id", "ts_s", "event_type", "value"],
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    df.coalesce(1).write.mode("overwrite").parquet(str(src / "batch1"))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "10")
        .parquet(str(src / "*"))
    )
    agg = streaming_tumble_agg(
        stream, "ts", "1 HOUR", ["event_type"],
        [F.count(F.lit(1)).cast("long").alias("n"), F.sum("value").alias("sv")],
        watermark="1 minute",
    )
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(foreach_batch_merge(out, ["window_start", "event_type"]))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.window_start.isoformat(), r.event_type): (r.n, r.sv)
           for r in TransactionalTable(
               spark, out, ["window_start", "event_type"]).read().collect()}
    assert got == {
        ("2024-01-01T00:00:00", "click"): (2, 3.0),
        ("2024-01-01T01:00:00", "view"): (1, 3.0),
    }


def test_windowed_retracting_aggregation_composition(spark):
    """TUMBLE composes with RetractingAggregation: the window operator is
    a row-wise map over changelog images, so window_start can join the
    group key (PK extension semantics, window/operator.rs:36-56)."""
    from dozer_spark.operators import tumble

    def cl(rows):
        df = spark.createDataFrame(
            rows, ["__op", "__txid", "__seq", "id", "ts_s", "amount"]
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
        return tumble(df, "ts", "1 HOUR")

    ragg = RetractingAggregation(
        spark, pk=["id"], group_by=["window_start"],
        aggs=[F.sum("amount").alias("s"), F.countDistinct("id").cast("long").alias("nd")],
    )
    out1 = ragg.process_batch(cl([
        ("I", 1, 1, 1, "2024-01-01 10:10:00", 5.0),
        ("I", 1, 2, 2, "2024-01-01 10:40:00", 7.0),
        ("I", 1, 3, 3, "2024-01-01 11:20:00", 1.0),
    ]))
    got1 = {str(r.window_start): (r.s, r.nd) for r in out1.collect()}
    assert got1 == {"2024-01-01 10:00:00": (12.0, 2), "2024-01-01 11:00:00": (1.0, 1)}

    # moving a row across windows retracts from one and inserts/updates the other
    out2 = ragg.process_batch(cl([("U", 2, 1, 2, "2024-01-01 11:50:00", 7.0)]))
    got2 = sorted((r["__op"], str(r.window_start), r.s) for r in out2.collect())
    assert got2 == [
        ("U", "2024-01-01 10:00:00", 5.0),
        ("U", "2024-01-01 11:00:00", 8.0),
    ]
    # delete the last row of the 10:00 window -> window Delete
    out3 = ragg.process_batch(cl([("D", 3, 1, 1, "2024-01-01 10:10:00", 5.0)]))
    assert [(r["__op"], str(r.window_start)) for r in out3.collect()] == [
        ("D", "2024-01-01 10:00:00")
    ]
