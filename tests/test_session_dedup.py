"""Tests: sessionization (batch + streaming) and streaming dedup."""

from __future__ import annotations

import pyspark.sql.functions as F

from dozer_spark.operators.session import sessionize, session_aggregate, streaming_session_agg
from dozer_spark.streaming.dedup import streaming_exact_dedup
from dozer_spark.storage import TransactionalTable
from dozer_spark.storage.txtable import foreach_batch_merge


def _events(spark):
    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:10:00", 2.0),   # same session (10 min gap)
        (1, "2024-01-01 11:30:00", 3.0),   # new session (80 min gap)
        (2, "2024-01-01 10:05:00", 4.0),   # other key
    ]
    return (
        spark.createDataFrame(rows, ["user_id", "ts_s", "value"])
        .withColumn("ts", F.col("ts_s").cast("timestamp"))
        .drop("ts_s")
    )


def test_sessionize_gap_semantics(spark):
    out = sessionize(_events(spark), "ts", ["user_id"], "30 MINUTES")
    got = {(r.user_id, str(r.ts)): r.session_id for r in out.collect()}
    assert got[(1, "2024-01-01 10:00:00")] == 0
    assert got[(1, "2024-01-01 10:10:00")] == 0
    assert got[(1, "2024-01-01 11:30:00")] == 1
    assert got[(2, "2024-01-01 10:05:00")] == 0


def test_session_aggregate_bounds(spark):
    out = session_aggregate(
        _events(spark), "ts", ["user_id"], "30 MINUTES", [F.count(F.lit(1)).alias("n")]
    )
    rows = {(r.user_id, r.session_id): (str(r.session_start), str(r.session_end), r.n)
            for r in out.collect()}
    assert rows[(1, 0)] == ("2024-01-01 10:00:00", "2024-01-01 10:10:00", 2)
    assert rows[(1, 1)] == ("2024-01-01 11:30:00", "2024-01-01 11:30:00", 1)


def test_streaming_session_agg(spark, tmp_path):
    src = tmp_path / "in"
    out = str(tmp_path / "out")
    src.mkdir()
    df = _events(spark)
    df.coalesce(1).write.parquet(str(src / "f1"))
    stream = spark.readStream.schema(df.schema).parquet(str(src / "*"))
    agg = streaming_session_agg(
        stream, "ts", "30 MINUTES", ["user_id"],
        [F.count(F.lit(1)).cast("long").alias("n")], watermark="1 minute",
    )
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(foreach_batch_merge(out, ["user_id", "session_start"]))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    snap = TransactionalTable(spark, out, ["user_id", "session_start"]).read()
    got = {(r.user_id, str(r.session_start)): r.n for r in snap.collect()}
    # native session_window end = last_event + gap; counts are what we assert
    assert got[(1, "2024-01-01 10:00:00")] == 2
    assert got[(1, "2024-01-01 11:30:00")] == 1
    assert got[(2, "2024-01-01 10:05:00")] == 1


def test_streaming_exact_dedup(spark, tmp_path):
    src = tmp_path / "in"
    out = str(tmp_path / "out")
    src.mkdir()
    rows = [
        (1, "2024-01-01 00:00:01", "a"),
        (1, "2024-01-01 00:00:02", "a-dup"),   # duplicate key within watermark
        (2, "2024-01-01 00:00:03", "b"),
    ]
    df = (
        spark.createDataFrame(rows, ["k", "ts_s", "v"])
        .withColumn("ts", F.col("ts_s").cast("timestamp"))
        .drop("ts_s")
    )
    df.coalesce(1).write.parquet(str(src / "f1"))
    stream = spark.readStream.schema(df.schema).parquet(str(src / "*"))
    deduped = streaming_exact_dedup(stream, ["k"], "ts", watermark="1 hour")
    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(foreach_batch_merge(out, ["k"]))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    snap = TransactionalTable(spark, out, ["k"]).read()
    got = {r.k for r in snap.collect()}
    assert got == {1, 2}
    assert snap.count() == 2
