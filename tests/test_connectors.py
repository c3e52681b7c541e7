"""Connector-surface tests: transactional MERGE table + change feed,
wal2json parsing, Mongo change-stream normalization, Snowflake
incremental helpers, Arrow-IPC ingest endpoint, delta/ClickHouse gated."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from dozer_spark.storage import TransactionalTable
from dozer_spark.streaming.changelog import apply_changelog


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


class TestTransactionalTable:
    def test_merge_insert_update_delete_cycle(self, spark, tmp_path):
        p = str(tmp_path / "t")
        t = TransactionalTable(spark, p, pk=["id"], n_buckets=4)
        v1 = t.merge(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]))
        assert v1 == 1
        assert _rows(t.read(), "id", "v") == [(1, "a"), (2, "b")]

        v2 = t.merge(spark.createDataFrame([(2, "b2"), (3, "c")], ["id", "v"]))
        assert _rows(t.read(), "id", "v") == [(1, "a"), (2, "b2"), (3, "c")]

        t.merge(
            spark.createDataFrame([(1, "a", True), (4, "d", False)],
                                  ["id", "v", "is_del"]),
            delete_col="is_del",
        )
        assert _rows(t.read(), "id", "v") == [(2, "b2"), (3, "c"), (4, "d")]
        assert t.version == 3

    def test_reopen_reads_committed_state(self, spark, tmp_path):
        p = str(tmp_path / "t")
        t = TransactionalTable(spark, p, pk=["id"])
        t.merge(spark.createDataFrame([(1, "a")], ["id", "v"]))
        t2 = TransactionalTable(spark, p, pk=["id"])
        assert t2.version == 1
        assert _rows(t2.read(), "id", "v") == [(1, "a")]
        with pytest.raises(ValueError, match="existing table has pk"):
            TransactionalTable(spark, p, pk=["other"])

    def test_merge_rewrites_only_touched_buckets(self, spark, tmp_path):
        p = str(tmp_path / "t")
        t = TransactionalTable(spark, p, pk=["id"], n_buckets=8)
        t.merge(spark.createDataFrame([(i, f"v{i}") for i in range(100)], ["id", "v"]))
        before = dict(t._buckets)
        t.merge(spark.createDataFrame([(7, "v7x")], ["id", "v"]))
        after = dict(t._buckets)
        changed = [b for b in after if after[b] != before.get(b)]
        # exactly one bucket rewritten; the rest carried forward by ref
        assert len(changed) == 1
        untouched = [b for b in after if after[b] == before.get(b)]
        assert len(untouched) == len(before) - 1
        assert _rows(t.read().filter(F.col("id") == 7), "v") == [("v7x",)]

    def test_change_feed_matches_delta_cdf_shape(self, spark, tmp_path):
        p = str(tmp_path / "t")
        t = TransactionalTable(spark, p, pk=["id"], n_buckets=2)
        t.merge(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]))
        t.merge(
            spark.createDataFrame([(2, "b2", False), (1, "x", True)],
                                  ["id", "v", "is_del"]),
            delete_col="is_del",
        )
        ch = t.read_changes(since_version=2)
        got = sorted(
            (r["_change_type"], r.id, r.v) for r in ch.collect()
        )
        assert got == [
            ("delete", 1, "a"),
            ("update_postimage", 2, "b2"),
            ("update_preimage", 2, "b"),
        ]

    def test_changelog_replay_reconstructs_snapshot(self, spark, tmp_path):
        """The CDF-as-changelog must replay (apply_changelog) into exactly
        the table's current snapshot — the contract the changelog
        operators depend on."""
        p = str(tmp_path / "t")
        t = TransactionalTable(spark, p, pk=["id"], n_buckets=4)
        t.merge(spark.createDataFrame([(i, i * 10) for i in range(20)], ["id", "v"]))
        t.merge(spark.createDataFrame([(5, 555), (21, 210)], ["id", "v"]))
        t.merge(
            spark.createDataFrame([(3, 0, True), (21, 211, False)],
                                  ["id", "v", "is_del"]),
            delete_col="is_del",
        )
        replayed = apply_changelog(t.changes_as_changelog(1), ["id"])
        assert _rows(replayed, "id", "v") == _rows(t.read(), "id", "v")

    def test_batch_id_retry_is_idempotent(self, spark, tmp_path):
        """A foreachBatch RETRY (crash between sink commit and checkpoint
        advance) re-merges the same batch_id; it must be a no-op — no new
        version, no duplicate CDF rows."""
        p = str(tmp_path / "t")
        t = TransactionalTable(spark, p, pk=["id"], n_buckets=2)
        b = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
        assert t.merge(b, batch_id=0) == 1
        assert t.merge(b, batch_id=0) == 1  # retry: no-op
        assert t.version == 1
        assert t.read_changes(1).count() == 2
        # survives reopen (manifest records last_batch_id)
        t2 = TransactionalTable(spark, p, pk=["id"])
        assert t2.merge(b, batch_id=0) == 1
        assert t2.merge(b.withColumn("v", F.lit("c")), batch_id=1) == 2

    def test_batch_id_scoped_per_app(self, spark, tmp_path):
        """Idempotency tokens are per app/query id (Delta txn contract):
        a NEW query restarting from batch 0 must merge, not no-op."""
        p = str(tmp_path / "t")
        t = TransactionalTable(spark, p, pk=["id"], n_buckets=2)
        b1 = spark.createDataFrame([(1, "a")], ["id", "v"])
        assert t.merge(b1, batch_id=5, app_id="query1") == 1
        # same app, replayed batch: no-op
        assert t.merge(b1, batch_id=5, app_id="query1") == 1
        # DIFFERENT app restarting at batch 0: must apply
        b2 = spark.createDataFrame([(1, "b")], ["id", "v"])
        assert t.merge(b2, batch_id=0, app_id="query2") == 2
        assert _rows(t.read(), "v") == [("b",)]

    def test_change_retention_vacuums_old_feed(self, spark, tmp_path):
        p = str(tmp_path / "t")
        t = TransactionalTable(spark, p, pk=["id"], n_buckets=2,
                               change_retention=2)
        for i in range(4):
            t.merge(spark.createDataFrame([(i, f"v{i}")], ["id", "v"]))
        vs = sorted(os.listdir(os.path.join(p, "changes")))
        assert vs == ["v000003", "v000004"]  # only the retention window
        # unbounded by default
        p2 = str(tmp_path / "t2")
        t2 = TransactionalTable(spark, p2, pk=["id"], n_buckets=2)
        for i in range(4):
            t2.merge(spark.createDataFrame([(i, f"v{i}")], ["id", "v"]))
        assert len(os.listdir(os.path.join(p2, "changes"))) == 4

    def test_point_lookup_prunes_to_one_bucket(self, spark, tmp_path):
        """Manifest footer stats: a point lookup touches at most ONE
        bucket dir, and a key provably outside the bucket's PK range
        reads ZERO files."""
        p = str(tmp_path / "t")
        t = TransactionalTable(spark, p, pk=["id"], n_buckets=8)
        t.merge(spark.createDataFrame([(i, f"v{i}") for i in range(100)], ["id", "v"]))

        # driver-side bucket function must agree with the Spark column
        got = {
            r.id: r.b for r in
            spark.createDataFrame([(i,) for i in range(100)], ["id"])
            .withColumn("b", t._bucket_col()).collect()
        }
        for i in range(100):
            assert t._bucket_of([i]) == got[i], i

        # present key: exactly the one matching bucket, correct row
        rel = t.lookup_rel([42])
        assert rel == t._buckets[str(t._bucket_of([42]))]
        assert _rows(t.lookup([42]), "id", "v") == [(42, "v42")]

        # absent key outside every bucket's [min, max]: no dir at all
        assert t.lookup_rel([10_000_000]) is None
        assert t.lookup([10_000_000]).count() == 0

        # stats survive reopen via the manifest
        t2 = TransactionalTable(spark, p, pk=["id"])
        assert t2.lookup_rel([10_000_000]) is None
        assert _rows(t2.lookup([7]), "v") == [("v7",)]

    def test_crash_before_commit_invisible(self, spark, tmp_path):
        p = str(tmp_path / "t")
        t = TransactionalTable(spark, p, pk=["id"], n_buckets=2)
        t.merge(spark.createDataFrame([(1, "a")], ["id", "v"]))
        # simulate a crash mid-merge: bucket files written, manifest not
        stray = os.path.join(p, "buckets", "v000099", "b=0")
        os.makedirs(stray)
        spark.createDataFrame([(9, "junk")], ["id", "v"]).write.mode(
            "overwrite").parquet(stray)
        t2 = TransactionalTable(spark, p, pk=["id"])
        assert t2.version == 1
        assert _rows(t2.read(), "id", "v") == [(1, "a")]


def test_wal2json_changelog(spark):
    recs = [
        {"action": "I", "schema": "public", "table": "users", "xid": 100,
         "columns": [{"name": "id", "type": "integer", "value": "1"},
                     {"name": "name", "type": "text", "value": "ann"}]},
        {"action": "U", "schema": "public", "table": "users", "xid": 101,
         "columns": [{"name": "id", "type": "integer", "value": "1"},
                     {"name": "name", "type": "text", "value": "anne"}],
         "identity": [{"name": "id", "value": "1"}]},
        {"action": "I", "schema": "public", "table": "OTHER", "xid": 102,
         "columns": [{"name": "id", "type": "integer", "value": "9"}]},
        {"action": "D", "schema": "public", "table": "users", "xid": 103,
         "identity": [{"name": "id", "value": "1"}]},
        {"action": "B", "xid": 104},  # begin marker: ignored
    ]
    from dozer_spark.sources.wal2json import wal2json_changelog

    raw = spark.createDataFrame([(json.dumps(r),) for r in recs], ["value"])
    cl = wal2json_changelog(raw, "value", "users",
                            {"id": "bigint", "name": "string"})
    got = [(r["__op"], r.id, r.name) for r in
           sorted(cl.collect(), key=lambda r: r["__txid"])]
    assert got == [("I", 1, "ann"), ("U", 1, "anne"), ("D", 1, None)]
    # replays to an empty table (insert -> update -> delete)
    assert apply_changelog(cl, ["id"]).count() == 0


def test_wal2json_pk_changing_update_splits(spark):
    """A PK-changing UPDATE (identity key != new key) must become
    D(old PK) + I(new PK): a single U keyed by the new PK would strand
    the old row in every downstream snapshot. LSN order drives __seq."""
    from dozer_spark.sources.wal2json import wal2json_changelog

    recs = [
        {"action": "I", "table": "users", "xid": 100, "lsn": "0/10",
         "columns": [{"name": "id", "type": "integer", "value": "1"},
                     {"name": "name", "type": "text", "value": "ann"}]},
        # UPDATE users SET id = 2 WHERE id = 1
        {"action": "U", "table": "users", "xid": 101, "lsn": "0/20",
         "columns": [{"name": "id", "type": "integer", "value": "2"},
                     {"name": "name", "type": "text", "value": "ann"}],
         "identity": [{"name": "id", "value": "1"}]},
    ]
    raw = spark.createDataFrame([(json.dumps(r),) for r in recs], ["value"])
    cl = wal2json_changelog(raw, "value", "users",
                            {"id": "bigint", "name": "string"}, pk=["id"])
    got = [(r["__op"], r.id) for r in
           sorted(cl.collect(), key=lambda r: (r["__txid"], r["__seq"]))]
    assert got == [("I", 1), ("D", 1), ("I", 2)]
    snap = apply_changelog(cl, ["id"])
    assert _rows(snap, "id", "name") == [(2, "ann")]


def test_wal2json_seq_is_lsn_ordered(spark):
    """DELETE then re-INSERT of one PK inside one transaction must replay
    in WAL order regardless of input row order (the
    monotonically_increasing_id failure mode from ADVICE r2)."""
    from dozer_spark.sources.wal2json import wal2json_changelog

    recs = [  # deliberately listed re-insert FIRST
        {"action": "I", "table": "t", "xid": 7, "lsn": "0/3F",
         "columns": [{"name": "id", "type": "integer", "value": "1"},
                     {"name": "v", "type": "text", "value": "new"}]},
        {"action": "D", "table": "t", "xid": 7, "lsn": "0/2A",
         "identity": [{"name": "id", "value": "1"}]},
        {"action": "I", "table": "t", "xid": 6, "lsn": "0/10",
         "columns": [{"name": "id", "type": "integer", "value": "1"},
                     {"name": "v", "type": "text", "value": "old"}]},
    ]
    raw = spark.createDataFrame([(json.dumps(r),) for r in recs], ["value"]) \
        .repartition(3)  # spread so partition order != logical order
    cl = wal2json_changelog(raw, "value", "t", {"id": "bigint", "v": "string"},
                            pk=["id"])
    seqs = {r["__op"]: r["__seq"] for r in cl.collect() if r["__txid"] == 7}
    assert seqs["D"] < seqs["I"]  # WAL order, not partition order
    assert _rows(apply_changelog(cl, ["id"]), "id", "v") == [(1, "new")]


def test_mongo_change_stream_to_changelog(spark):
    from dozer_spark.sources.mongo import change_stream_to_changelog

    doc_schema = T.StructType(
        [T.StructField("_id", T.LongType()), T.StructField("name", T.StringType())]
    )
    events = [
        {"operationType": "insert", "clusterTime": 1,
         "documentKey": {"_id": 1}, "fullDocument": {"_id": 1, "name": "ann"}},
        {"operationType": "update", "clusterTime": 2,
         "documentKey": {"_id": 1}, "fullDocument": {"_id": 1, "name": "anne"}},
        {"operationType": "drop", "clusterTime": 3},  # non-doc event: ignored
        {"operationType": "delete", "clusterTime": 4, "documentKey": {"_id": 1}},
    ]
    raw = spark.createDataFrame([(json.dumps(e),) for e in events], ["value"])
    cl = change_stream_to_changelog(raw, "value", doc_schema)
    got = [(r["__op"], r["_id"], r.name) for r in
           sorted(cl.collect(), key=lambda r: r["__txid"])]
    assert got == [("I", 1, "ann"), ("U", 1, "anne"), ("D", 1, None)]
    assert apply_changelog(cl, ["_id"]).count() == 0


class TestSnowflake:
    def test_options_validated(self):
        from dozer_spark.sources.snowflake import snowflake_options

        opts = snowflake_options("acc.snowflakecomputing.com", "u", "db", "sch", "wh",
                                 sfRole="r")
        assert opts["sfRole"] == "r"
        with pytest.raises(ValueError, match="missing"):
            snowflake_options("", "u", "db", "sch", "wh")

    def test_incremental_pull(self, spark):
        from dozer_spark.sources.snowflake import incremental_pull, next_watermark

        df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], ["id", "wm"])
        assert incremental_pull(df, "wm", None).count() == 3
        sl = incremental_pull(df, "wm", 10)
        assert _rows(sl, "id") == [(2,), (3,)]
        assert next_watermark(sl, "wm") == 30


def test_arrow_ingest_end_to_end(spark, tmp_path):
    import pyarrow as pa

    from dozer_spark.sources.ingest_server import ArrowIngestServer, send_arrow

    spool = str(tmp_path / "spool")
    server = ArrowIngestServer(spool).start()
    try:
        t1 = pa.table({"id": [1, 2, 3], "v": ["a", "b", "c"]})
        t2 = pa.table({"id": [4, 5], "v": ["d", "e"]})
        send_arrow(server.host, server.port, t1)
        send_arrow(server.host, server.port, t2)
        import time

        deadline = time.time() + 10
        while server.batches_landed < 2 and time.time() < deadline:
            time.sleep(0.05)
        assert server.batches_landed >= 2
        got = spark.read.parquet(spool)
        assert _rows(got, "id", "v") == [
            (1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")
        ]
        # incremental consumption: the spool is a valid streaming source
        stream = spark.readStream.schema(got.schema).parquet(spool)
        assert stream.isStreaming
    finally:
        server.stop()


def test_delta_gated(spark, tmp_path):
    from dozer_spark.sources.delta import delta_available, delta_merge_upsert

    if not delta_available():
        pytest.skip("delta-spark not installed in this container")
    p = str(tmp_path / "d")
    delta_merge_upsert(spark, spark.createDataFrame([(1, "a")], ["id", "v"]), p, ["id"])
    assert spark.read.format("delta").load(p).count() == 1


def test_clickhouse_integration_gated(spark):
    """Real ClickHouse write path, enabled by SPARK_GRAFT_CLICKHOUSE_URL
    (jdbc:clickhouse://host:8123/db, driver jar on the classpath)."""
    url = os.environ.get("SPARK_GRAFT_CLICKHOUSE_URL")
    if not url:
        pytest.skip("set SPARK_GRAFT_CLICKHOUSE_URL to run")
    from dozer_spark.sinks import ClickHouseSink

    sink = ClickHouseSink(url=url, table="dozer_spark_it")
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    sink.write(df, mode="append")
    back = (
        spark.read.format("jdbc").options(**sink.options()).load()
    )
    assert back.count() >= 1


def test_foreach_batch_merge(spark, tmp_path):
    from dozer_spark.storage.txtable import foreach_batch_merge

    p = str(tmp_path / "t")
    fn = foreach_batch_merge(p, ["id"])
    fn(spark.createDataFrame([(1, "a")], ["id", "v"]), 0)
    fn(spark.createDataFrame([(1, "a2"), (2, "b")], ["id", "v"]), 1)
    t = TransactionalTable(spark, p, ["id"])
    assert _rows(t.read(), "id", "v") == [(1, "a2"), (2, "b")]


@pytest.mark.parametrize("method", ["merge", "append_fresh"])
def test_concurrent_writer_detected(spark, tmp_path, method):
    from dozer_spark.storage.txtable import ConcurrentWriteError

    p = str(tmp_path / "t")
    a = TransactionalTable(spark, p, pk=["id"])
    getattr(a, method)(spark.createDataFrame([(1, "a")], ["id", "v"]))
    b = TransactionalTable(spark, p, pk=["id"])
    # a is now v2
    getattr(a, method)(spark.createDataFrame([(2, "b")], ["id", "v"]))
    with pytest.raises(ConcurrentWriteError, match="another writer"):
        getattr(b, method)(spark.createDataFrame([(3, "c")], ["id", "v"]))
    # the stale writer deleted nothing: the winner's rows read back intact
    t = TransactionalTable(spark, p, pk=["id"])
    assert t.version == 2
    assert _rows(t.read(), "id", "v") == [(1, "a"), (2, "b")]


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP"),
    reason="needs SPARK_GRAFT_KAFKA_BOOTSTRAP (broker + spark-sql-kafka package)",
)
def test_kafka_end_to_end_debezium(spark):
    """Broker -> engine e2e: produce Debezium envelopes through Spark's
    own kafka sink, consume them back (batch over the retained log),
    parse to the changelog, run the retracting aggregation, and check
    the final aggregate equals a direct replay — the same contract as
    the Arrow-ingest e2e above, gated on a real broker."""
    from dozer_spark.sources.kafka import (
        debezium_changelog, kafka_available, kafka_batch, kafka_write,
    )

    if not kafka_available(spark):
        pytest.skip("spark-sql-kafka connector not on the classpath")
    brokers = os.environ["SPARK_GRAFT_KAFKA_BOOTSTRAP"]
    topic = f"dozer_spark_e2e_{os.getpid()}"

    def env(op, txid, seq, rid, grp, amt):
        before = {"id": rid, "grp": grp, "amount": amt} if op == "d" else None
        after = None if op == "d" else {"id": rid, "grp": grp, "amount": amt}
        return json.dumps({"op": op, "ts_ms": txid, "before": before,
                           "after": after,
                           "source": {"txId": txid, "lsn": seq, "ts_ms": txid}})

    msgs = [env("c", 1, 1, 1, "a", 5.0), env("c", 1, 2, 2, "a", 7.0),
            env("u", 2, 3, 1, "a", 9.0), env("d", 3, 4, 2, "a", 0.0)]
    kafka_write(
        spark.createDataFrame([(m,) for m in msgs], ["value"]), brokers, topic
    )

    row_schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("grp", T.StringType()),
        T.StructField("amount", T.DoubleType()),
    ])
    cl = debezium_changelog(kafka_batch(spark, brokers, topic), row_schema)

    from dozer_spark.streaming.stateful import RetractingAggregation
    ragg = RetractingAggregation(
        spark, pk=["id"], group_by=["grp"],
        aggs=[F.sum("amount").alias("s"), F.count(F.lit(1)).cast("long").alias("n")],
    )
    ragg.process_batch(cl)
    got = [(r.grp, r.s, r.n) for r in ragg.current().collect()]
    assert got == [("a", 9.0, 1)]  # id1 updated to 9.0, id2 deleted


def test_webhook_ingest_end_to_end(spark, tmp_path):
    """HTTP -> spool -> engine: post plain rows and changelog envelopes,
    read both back, replay the changelog. Same landing contract as the
    Arrow ingest e2e (atomic files, ack-after-rename)."""
    import urllib.request

    from dozer_spark.sources.webhook import (
        WebhookServer, webhook_changelog, webhook_rows,
    )

    spool = str(tmp_path / "hook")
    srv = WebhookServer(spool).start()
    try:
        def post(path, payload):
            req = urllib.request.Request(
                f"http://{srv.host}:{srv.port}{path}",
                data=json.dumps(payload).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as resp:
                assert resp.status == 200

        post("/", {"id": 1, "v": "a"})
        post("/", [{"id": 2, "v": "b"}, {"id": 3, "v": "c"}])
        post("/changelog", [
            {"op": "I", "txid": 1, "data": {"id": 1, "v": "x"}},
            {"op": "U", "txid": 2, "data": {"id": 1, "v": "y"}},
        ])
        post("/changelog", {"op": "D", "txid": 3, "data": {"id": 1}})
        # malformed posts are rejected and land nothing
        req = urllib.request.Request(
            f"http://{srv.host}:{srv.port}/", data=b"not json")
        try:
            urllib.request.urlopen(req)
            assert False, "expected HTTP 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
        assert srv.requests_landed == 4
    finally:
        srv.stop()

    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    rows = webhook_rows(spark, spool, schema)
    assert _rows(rows, "id", "v") == [(1, "a"), (2, "b"), (3, "c")]

    cl = webhook_changelog(spark, spool, schema)
    got = [(r["__op"], r.id, r.v) for r in
           sorted(cl.collect(), key=lambda r: r["__seq"])]
    assert got == [("I", 1, "x"), ("U", 1, "y"), ("D", 1, None)]
    assert apply_changelog(cl, ["id"]).count() == 0  # I -> U -> D replays empty


def test_two_spool_composition_ordering(spark, tmp_path):
    """SCALE.md's spool-sharding contract, proven: two independent
    tailers (one spool each, private cursors, zero coordination) compose
    by a single glob read. A key's changes land in ONE spool in source
    order (__seq is per-source), so per-key replay order is correct in
    the union; adding a source partition is adding a directory."""
    import urllib.request

    from dozer_spark.sources.webhook import WebhookServer, webhook_changelog

    servers = [WebhookServer(str(tmp_path / f"hook-{i}")).start()
               for i in range(2)]

    def post(srv, payload):
        req = urllib.request.Request(
            f"http://{srv.host}:{srv.port}/changelog",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200

    try:
        # source 0 owns key 1; source 1 owns keys 2 and 3
        post(servers[0], [
            {"op": "I", "txid": 1, "data": {"id": 1, "v": "a"}},
            {"op": "U", "txid": 2, "data": {"id": 1, "v": "a2"}},
        ])
        post(servers[1], [
            {"op": "I", "txid": 1, "data": {"id": 2, "v": "b"}},
            {"op": "I", "txid": 1, "data": {"id": 3, "v": "c"}},
        ])
        post(servers[1], {"op": "D", "txid": 2, "data": {"id": 2}})
    finally:
        for s in servers:
            s.stop()

    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    # ONE glob read over both spools — no per-source plumbing
    cl = webhook_changelog(spark, str(tmp_path / "hook-*"), schema)
    assert cl.count() == 5
    snap = apply_changelog(cl, ["id"])
    assert sorted((r.id, r.v) for r in snap.collect()) == [(1, "a2"), (3, "c")]
    # each spool also still reads alone (a tailer can be drained solo)
    solo = webhook_changelog(spark, str(tmp_path / "hook-0"), schema)
    assert apply_changelog(solo, ["id"]).count() == 1


def test_mongo_seq_orders_same_second_events(spark):
    """Two ops on one PK within the same clusterTime second must keep
    resume-token order (full 16-hex ordinal — truncation collided
    adjacent ordinals)."""
    from dozer_spark.sources.mongo import change_stream_to_changelog

    doc_schema = T.StructType([T.StructField("_id", T.LongType()),
                               T.StructField("v", T.StringType())])
    # same second (0x68000000), ordinals 1 and 2: delete then re-insert
    events = [
        {"operationType": "insert", "clusterTime": 100,
         "_id": {"_data": "826800000000000002AA"},
         "documentKey": {"_id": 1}, "fullDocument": {"_id": 1, "v": "new"}},
        {"operationType": "delete", "clusterTime": 100,
         "_id": {"_data": "826800000000000001AA"},
         "documentKey": {"_id": 1}},
    ]
    raw = spark.createDataFrame([(json.dumps(e),) for e in events], ["value"])
    cl = change_stream_to_changelog(raw, "value", doc_schema)
    seqs = {r["__op"]: r["__seq"] for r in cl.collect()}
    assert seqs["D"] < seqs["I"]
    assert apply_changelog(cl, ["_id"]).count() == 1  # re-insert survives
