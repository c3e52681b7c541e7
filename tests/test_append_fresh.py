"""TransactionalTable.append_fresh + the all-fresh compaction fast
path (round 12): pure-insert windows compact in O(window) — one
bucket-clustered write, existing bucket files carried forward by
hardlink — instead of merge's O(rows sharing touched buckets), which
for a uniform window is the whole accumulated state. Pins:

- append_fresh result state == merge result state (rows, buckets,
  pruned reads), and the carried-forward files are HARDLINKS (same
  inode), not copies;
- the change feed records inserts, so time travel and the incstate
  crash rewind work unchanged over an appended version;
- batch_id idempotency (a replayed append no-ops);
- DiffStateTable routes all-fresh windows through append_fresh and
  mixed/tombstone windows through merge, with identical read_live
  results either way;
- a batch spread over many partitions still writes ONE file per touched
  bucket dir, through merge and append_fresh alike.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dozer_spark.storage import TransactionalTable
from dozer_spark.streaming.incstate import DiffStateTable


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_append_fresh_equals_merge_state(spark, tmp_path):
    data1 = [(f"d{i}", f"key{i % 7}", i) for i in range(40)]
    data2 = [(f"e{i}", f"key{i % 7}", 100 + i) for i in range(40)]

    ta = TransactionalTable(spark, str(tmp_path / "ap"), pk=["digest"],
                            n_buckets=8, bucket_cols=["k"])
    ta.merge(spark.createDataFrame(data1, ["digest", "k", "v"]))
    ta.append_fresh(spark.createDataFrame(data2, ["digest", "k", "v"]))

    tm = TransactionalTable(spark, str(tmp_path / "mg"), pk=["digest"],
                            n_buckets=8, bucket_cols=["k"])
    tm.merge(spark.createDataFrame(data1, ["digest", "k", "v"]))
    tm.merge(spark.createDataFrame(data2, ["digest", "k", "v"]))

    assert _rows(ta.read()) == _rows(tm.read()) == sorted(data1 + data2)
    # bucket layout invariant: every row is in its hash bucket dir
    for b in range(8):
        got = {r["digest"] for r in ta.read_buckets([b]).collect()}
        want = {d for d, k, _ in data1 + data2 if ta._bucket_of([k]) == b}
        assert got == want


def test_append_fresh_carries_old_files_by_hardlink(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "hl"), pk=["digest"],
                           n_buckets=4, bucket_cols=["k"])
    t.merge(spark.createDataFrame(
        [(f"d{i}", f"key{i}", i) for i in range(8)], ["digest", "k", "v"]))
    old_rels = dict(t._buckets)
    old_inodes = {}
    for b, rel in old_rels.items():
        d = os.path.join(t.path, rel)
        old_inodes[b] = {fn: os.stat(os.path.join(d, fn)).st_ino
                         for fn in os.listdir(d) if fn.endswith(".parquet")}
    t.append_fresh(spark.createDataFrame(
        [(f"e{i}", f"key{i}", 100 + i) for i in range(8)],
        ["digest", "k", "v"]))
    carried = 0
    for b, rel in t._buckets.items():
        if rel == old_rels.get(b):
            continue  # untouched bucket carried by reference
        d = os.path.join(t.path, rel)
        inodes = {fn: os.stat(os.path.join(d, fn)).st_ino
                  for fn in os.listdir(d) if fn.endswith(".parquet")}
        for fn, ino in old_inodes.get(b, {}).items():
            assert inodes.get(fn) == ino, (
                "old bucket file must be hardlinked, not copied")
            carried += 1
    assert carried > 0
    # and the data survives vacuuming of the old version dirs: force the
    # age floor past the old version and re-read
    t.append_fresh(spark.createDataFrame(
        [("z1", "key0", 999)], ["digest", "k", "v"]))
    t._vacuum(keep_versions=1)
    assert t.read().count() == 17


def test_append_fresh_cdf_time_travel_and_batch_id(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "cdf"), pk=["digest"],
                           n_buckets=4, bucket_cols=["k"])
    t.merge(spark.createDataFrame([("d1", "a", 1)], ["digest", "k", "v"]),
            batch_id=1, app_id="x")
    t.append_fresh(spark.createDataFrame(
        [("d2", "b", 2), ("d3", "c", 3)], ["digest", "k", "v"]),
        batch_id=2, app_id="x")
    # change feed carries the inserts
    ch = t.read_changes(since_version=2)
    assert sorted((r["digest"], r["_change_type"]) for r in ch.collect()) \
        == [("d2", "insert"), ("d3", "insert")]
    # time travel rewinds across the appended version
    assert _rows(t.read_as_of(1)) == [("d1", "a", 1)]
    # replayed batch_id no-ops (version unchanged, no duplicate rows)
    v = t.version
    t.append_fresh(spark.createDataFrame(
        [("d2", "b", 2), ("d3", "c", 3)], ["digest", "k", "v"]),
        batch_id=2, app_id="x")
    assert t.version == v and t.read().count() == 3


def _new_files_per_bucket(t, before: dict) -> dict:
    """Touched bucket -> parquet files in its data dir that are not in
    its dir from `before` (the bucket map ahead of the last write), so
    files append_fresh hardlinked forward, which keep their names, do
    not count; `before={}` counts every file."""
    vdir = os.path.join("buckets", f"v{t.version:06d}")
    out = {}
    for b, rel in t._buckets.items():
        if not rel.startswith(vdir):
            continue  # untouched: carried by reference
        old = before.get(b)
        old_files = set(os.listdir(os.path.join(t.path, old))) if old else set()
        out[b] = [fn for fn in os.listdir(os.path.join(t.path, rel))
                  if fn.endswith(".parquet") and fn not in old_files]
    return out


def test_multi_partition_batches_write_one_file_per_bucket(spark, tmp_path):
    """The sink clusters its write by bucket with no fixed task count: a
    batch spread over many partitions still writes exactly one file into
    each touched bucket dir, and every row reads back."""
    cols = ["digest", "k", "v"]

    def batch(rows, extra=None):
        df = spark.createDataFrame(rows, cols if extra is None else cols + [extra])
        return df.repartition(8)

    rows = {f"d{i}": (f"key{i % 9}", i) for i in range(60)}
    t = TransactionalTable(spark, str(tmp_path / "mg"), pk=["digest"],
                           n_buckets=8, bucket_cols=["k"])
    t.merge(batch([(d, k, v) for d, (k, v) in rows.items()]))
    files = _new_files_per_bucket(t, {})
    assert len(files) >= 3
    assert all(len(fs) == 1 for fs in files.values()), files

    # second merge: updates, deletes and inserts across the buckets;
    # merge rewrites each touched bucket, so its dir holds one file
    upd = [(d, rows[d][0], -rows[d][1], False) for d in ("d1", "d2", "d5", "d13")]
    dels = [(d, rows[d][0], 0, True) for d in ("d3", "d20", "d31")]
    ins = [(f"n{i}", f"key{i}", 500 + i, False) for i in range(5)]
    t.merge(batch(upd + dels + ins, "__del"), delete_col="__del")
    files = _new_files_per_bucket(t, {})
    assert len(files) >= 3
    assert all(len(fs) == 1 for fs in files.values()), files
    for d, k, v, _ in upd + ins:
        rows[d] = (k, v)
    for d, *_ in dels:
        del rows[d]
    assert _rows(t.read()) == sorted((d, k, v) for d, (k, v) in rows.items())
    ch = t.read_changes(since_version=2).collect()
    assert sorted((r["digest"], r["_change_type"]) for r in ch) == sorted(
        [(d, "update_preimage") for d, *_ in upd]
        + [(d, "update_postimage") for d, *_ in upd]
        + [(d, "delete") for d, *_ in dels]
        + [(d, "insert") for d, *_ in ins])

    # append_fresh: first write into an empty table, then a second one
    # whose touched buckets also carry their earlier file forward
    a = TransactionalTable(spark, str(tmp_path / "ap"), pk=["digest"],
                           n_buckets=8, bucket_cols=["k"])
    fresh = [[(f"a{e}_{i}", f"key{i % 9}", e * 100 + i) for i in range(40)]
             for e in range(2)]
    for e, rs in enumerate(fresh):
        before = dict(a._buckets)
        a.append_fresh(batch(rs))
        files = _new_files_per_bucket(a, before)
        assert len(files) >= 3
        assert all(len(fs) == 1 for fs in files.values()), files
        assert _rows(a.read_changes(since_version=e + 1)) == sorted(
            (*r, "insert", e + 1) for r in rs)
    assert _rows(a.read()) == sorted(fresh[0] + fresh[1])


def _mk(spark, path, append_mode=True, compact_every=2):
    st = DiffStateTable(spark, path, key_cols=["dg"], internal_key=True,
                        bucket_cols=["k"], n_buckets=8,
                        compact_every=compact_every)
    st.append_fresh_compaction = append_mode
    return st


def _adv_fresh(spark, st, e, n=6):
    delta = spark.createDataFrame(
        [(f"dg{e}_{i}", f"key{i}", e * 10 + i) for i in range(n)],
        ["dg", "k", "v"]).withColumn("__del", F.lit(False))
    st.advance(delta, epoch=e, app_id="t", fresh_keys=True)


def test_all_fresh_window_compacts_via_append(spark, tmp_path):
    """Same final state through the append path as through the merge
    path, across two compaction windows, and the append path actually
    ran (version advanced without the merge's key-window reduction —
    witnessed by the base containing the rows and read_live matching)."""
    a = _mk(spark, str(tmp_path / "a"), append_mode=True)
    m = _mk(spark, str(tmp_path / "m"), append_mode=False)
    for e in range(1, 6):  # compactions fire at epochs 3 and 5
        _adv_fresh(spark, a, e)
        _adv_fresh(spark, m, e)
    assert a.tx.version == m.tx.version == 2
    assert _rows(a.read_live()) == _rows(m.read_live())
    bids = a.bucket_ids_for_values([["key1"], ["key4"]])
    assert _rows(a.read_live_pruned(bids)) == _rows(m.read_live_pruned(bids))


def test_mixed_window_still_routes_through_merge(spark, tmp_path):
    """A window containing a tombstone epoch must take the merge path
    (append would resurrect the deleted key) — final state drops the
    tombstoned row."""
    st = _mk(spark, str(tmp_path / "mx"), compact_every=2)
    _adv_fresh(spark, st, 1)
    # epoch 2: tombstone one epoch-1 row -> NOT fresh
    d2 = spark.createDataFrame(
        [("dg1_3", "key3", 13, True), ("dg2_0", "key0", 20, False)],
        ["dg", "k", "v", "__del"])
    st.advance(d2, epoch=2, app_id="t", fresh_keys=False)
    _adv_fresh(spark, st, 3)  # triggers compaction of the mixed window
    live = _rows(st.read_live())
    assert ("key3", 13) not in live
    assert ("key0", 20) in live and ("key3", 33) in live


def test_append_compaction_crash_replay_noop(spark, tmp_path):
    """Crash after the append-compaction but before the epoch commit:
    the replayed compaction is a batch_id no-op and the resumed reads
    are exact (the r12 fresh-flag clearing covers the ahead base)."""
    path = str(tmp_path / "cr")
    st = _mk(spark, path, compact_every=2)
    metas = {}
    for e in (1, 2):
        delta = spark.createDataFrame(
            [(f"dg{e}_{i}", f"key{i}", e * 10 + i) for i in range(6)],
            ["dg", "k", "v"]).withColumn("__del", F.lit(False))
        metas[e] = st.advance(delta, epoch=e, app_id="t", fresh_keys=True)
    _adv_fresh(spark, st, 3)  # append-compacts epochs 1-2, then crash
    assert st.tx.version == 1
    del st

    resumed = _mk(spark, path, compact_every=2)
    resumed.read_committed(metas[2])
    want = sorted((f"key{i}", e * 10 + i) for e in (1, 2) for i in range(6))
    assert _rows(resumed.read_live()) == want
    # replayed epoch 3 re-advances; the re-triggered compaction no-ops
    _adv_fresh(spark, resumed, 3)
    assert resumed.tx.version == 1
    assert ("key0", 30) in _rows(resumed.read_live())


def test_append_fresh_pk_bucketed_lookup_still_works(spark, tmp_path):
    """On a PK-bucketed table, appended buckets must keep point lookups
    correct: footer stats recompute over linked + new files, and the
    lookup prunes to the right bucket."""
    t = TransactionalTable(spark, str(tmp_path / "pk"), pk=["id"],
                           n_buckets=4)
    t.merge(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], ["id", "v"]))
    t.append_fresh(spark.createDataFrame(
        [(i, f"v{i}") for i in range(100, 110)], ["id", "v"]))
    # old and new keys both resolve through the appended layout
    assert [tuple(r) for r in t.lookup([3]).collect()] == [(3, "v3")]
    assert [tuple(r) for r in t.lookup([105]).collect()] == [(105, "v105")]
    assert t.lookup([999]).count() == 0
    assert t.read().count() == 20
