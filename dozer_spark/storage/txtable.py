"""Transactional parquet table: atomic MERGE by PK + change data feed.

The reference materializes operator output via sinks that commit per
epoch (dozer-core/src/node.rs:111-147). The Spark-native ideal is Delta
Lake's MERGE INTO + Change Data Feed; this container has no delta-spark,
so this module implements the same CONTRACT parquet-native, without a
full-table rewrite or a non-atomic swap:

- **Bucketed data layout**: rows live under `buckets/<version>/b=<k>/`
  partition dirs keyed by a PK hash bucket. A MERGE rewrites ONLY the
  buckets containing touched keys; untouched buckets are carried forward
  by reference in the manifest (no data copy). Work per merge is
  O(batch + rows-sharing-touched-buckets), not O(table).
- **Atomic commits**: a version's bucket map is published by a single
  `os.replace` of MANIFEST.json (same epoch contract as
  streaming/state.py). Readers resolve the manifest once; a crash
  mid-merge leaves the previous version intact.
- **Change data feed**: each merge also writes the change rows
  (insert / update_preimage / update_postimage / delete, Delta CDF's
  schema) under `changes/v<version>/`; `read_changes(since)` is the
  Delta `readChangeFeed` equivalent and feeds the changelog operators.

On a cluster, `path` lives on the shared filesystem; swap the manifest
for a Delta/Iceberg transaction log and the call sites don't change
(sinks_delta.py does exactly that when delta-spark is installed).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST = "MANIFEST.json"
CHANGE_TYPES = ("insert", "update_preimage", "update_postimage", "delete")


def _spark_str(v) -> str:
    """Spark CAST(x AS STRING) equivalent for PK scalar types."""
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _role(dest: str, ct: str | None, img: F.Column) -> F.Column:
    """One output row of a version write: its destination ("data" or
    "changes"), its CDF change type (None for data rows) and its image."""
    return F.struct(
        F.lit(dest).alias("__dest"),
        F.lit(ct).cast("string").alias("__ct"),
        img.alias("__img"),
    )


class ConcurrentWriteError(RuntimeError):
    """Another writer committed since this instance loaded the manifest.

    The table is single-writer by design (same assumption as the
    reference's pipeline state); this guard turns a lost-update race
    into a loud failure. For true multi-writer semantics use the Delta
    path (sources/delta.py) whose transaction log does real CAS."""


class TransactionalTable:
    def __init__(self, spark: SparkSession, path: str, pk: list[str],
                 n_buckets: int = 16, change_retention: int | None = None,
                 bucket_cols: list[str] | None = None):
        """change_retention: number of trailing versions whose change-feed
        dirs survive _vacuum (None = keep the full feed). Without a bound
        the feed grows with every merge — set this on long-running CDC
        sinks once downstream consumers are known to be caught up.

        bucket_cols: the columns the hash-bucket layout keys on (default:
        the PK). Setting them to a PROBE key instead (e.g. an LSH band or
        a fuzzy variant key while the PK stays a unique row digest) lets
        readers prune a key-equality probe to the buckets the probe keys
        actually hash to (read_buckets) — the lever that makes a
        streaming index's per-epoch state probe O(matched buckets)
        instead of O(state). The bucket of a row must never change, so
        bucket_cols MUST be functionally determined by the PK (true for
        a digest PK computed over the bucket columns). Point lookups
        (lookup/lookup_rel) require bucket_cols == pk."""
        self.spark = spark
        self.path = path
        self.pk = pk
        self.bucket_cols = list(bucket_cols) if bucket_cols is not None else list(pk)
        self.change_retention = change_retention
        os.makedirs(path, exist_ok=True)
        m = self._read_manifest()
        if m is not None:
            if m["pk"] != pk:
                raise ValueError(f"existing table has pk {m['pk']}, got {pk}")
            stored_bc = m.get("bucket_cols", m["pk"])
            if stored_bc != self.bucket_cols:
                raise ValueError(
                    f"existing table is bucketed by {stored_bc}, got "
                    f"{self.bucket_cols}: the bucket layout is physical — "
                    "delete the state/table dir to rebuild under the new "
                    "bucketing"
                )
            self.n_buckets = m["n_buckets"]
            self.version = m["version"]
            self._buckets: dict[str, str] = dict(m["buckets"])  # bucket -> rel dir
            self._schema_json = m["schema"]
            # batch-id idempotency tokens are SCOPED per app/query id
            # (Delta's txn (appId, version) contract): a different query
            # restarting from batch 0 must not silently no-op. Old
            # manifests' unscoped value migrates to the default scope.
            self._last_batch_ids = m.get("last_batch_ids")
            if self._last_batch_ids is None and m.get("last_batch_id") is not None:
                self._last_batch_ids = {"default": m["last_batch_id"]}
            self._stats: dict[str, dict] = m.get("stats", {})
        else:
            self.n_buckets = n_buckets
            self.version = 0
            self._buckets = {}
            self._schema_json = None
            self._last_batch_ids = None
            self._stats = {}

    # -- manifest ------------------------------------------------------------

    def _read_manifest(self) -> dict | None:
        try:
            with open(os.path.join(self.path, MANIFEST)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _commit(self) -> None:
        m = {
            "version": self.version,
            "pk": self.pk,
            "bucket_cols": self.bucket_cols,
            "n_buckets": self.n_buckets,
            "buckets": self._buckets,
            "schema": self._schema_json,
            # streaming idempotency: a foreachBatch retry of an
            # already-merged (app_id, batch_id) is a no-op (see merge())
            "last_batch_ids": self._last_batch_ids,
            # per-bucket PK min/max (from parquet footers) for
            # point-lookup pruning; absent entry = no claim
            "stats": self._stats,
        }
        tmp = os.path.join(self.path, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(m, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.path, MANIFEST))  # commit point

    # -- helpers -------------------------------------------------------------

    def _bucket_col(self) -> F.Column:
        key = F.concat_ws(
            "\x01", *[F.col(c).cast("string") for c in self.bucket_cols])
        return F.pmod(F.crc32(key), F.lit(self.n_buckets)).cast("int")

    def _bucket_of(self, bucket_values: list) -> int:
        """Driver-side replica of _bucket_col over the BUCKET columns:
        same concat, same CRC32 (Spark's crc32 and zlib.crc32 share the
        polynomial), so a point lookup / probe-key prune can resolve its
        bucket without any Spark job. int/str/bool values only — float
        string-casts differ between Python and Spark ('1e+20' vs
        '1.0E20'), so they are rejected rather than silently routed to
        the wrong bucket."""
        import zlib

        for v in bucket_values:
            if v is None:
                raise ValueError("point lookup requires non-NULL key values")
            if isinstance(v, float):
                raise NotImplementedError(
                    "float key point lookups are unsupported (Python/Spark "
                    "string casts diverge); use read() + filter"
                )
        key = "\x01".join(_spark_str(v) for v in bucket_values).encode("utf-8")
        return zlib.crc32(key) % self.n_buckets

    def _footer_stats(self, rel: str) -> dict | None:
        """Per-bucket min/max of the PK columns, read from the parquet
        FOOTERS of the bucket's files (driver-side pyarrow — no Spark
        job; row-group stats are already there)."""
        try:
            import pyarrow.parquet as pq
        except Exception:
            return None
        d = os.path.join(self.path, rel)
        mins: dict = {}
        maxs: dict = {}
        try:
            for fn in os.listdir(d):
                if not fn.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(d, fn)).metadata
                for rg in range(md.num_row_groups):
                    row_group = md.row_group(rg)
                    for ci in range(row_group.num_columns):
                        col = row_group.column(ci)
                        name = col.path_in_schema
                        if name not in self.pk:
                            continue
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            return None  # incomplete stats: claim nothing
                        mn, mx = st.min, st.max
                        if isinstance(mn, bytes):
                            mn, mx = mn.decode("utf-8", "replace"), mx.decode("utf-8", "replace")
                        # JSON-serializability gate: date/timestamp/decimal
                        # stats would crash the manifest dump and compare
                        # unsafely after a JSON roundtrip - claim nothing
                        if not isinstance(mn, (int, float, str)) or isinstance(mn, bool):
                            return None
                        mins[name] = mn if name not in mins else min(mins[name], mn)
                        maxs[name] = mx if name not in maxs else max(maxs[name], mx)
        except OSError:
            return None
        if not mins:
            return {}  # empty bucket: matches nothing
        return {c: [mins[c], maxs[c]] for c in mins}

    def _schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self._schema_json))

    def _read_bucket(self, rel: str) -> DataFrame:
        return self.spark.read.schema(self._schema()).parquet(
            os.path.join(self.path, rel)
        )

    # -- reads ---------------------------------------------------------------

    def read(self) -> DataFrame:
        """Current snapshot (committed version)."""
        if not self._buckets:
            if self._schema_json is None:
                raise ValueError("table is empty and has no schema yet")
            return self.spark.createDataFrame([], self._schema())
        paths = [os.path.join(self.path, rel) for rel in self._buckets.values()]
        return self.spark.read.schema(self._schema()).parquet(*paths)

    def read_buckets(self, bucket_ids: list[int]) -> DataFrame:
        """Current snapshot restricted to the given hash buckets — the
        pruned read for a key-equality probe: a probe key's rows can
        only live in its own hash bucket, so reading the buckets the
        probe keys hash to yields every possible match while the scan
        stays O(matched buckets), not O(table)."""
        if self._schema_json is None:
            raise ValueError("table is empty and has no schema yet")
        rels = [self._buckets[str(b)] for b in bucket_ids
                if str(b) in self._buckets]
        if not rels:
            return self.spark.createDataFrame([], self._schema())
        return self.spark.read.schema(self._schema()).parquet(
            *[os.path.join(self.path, rel) for rel in rels])

    def read_as_of(self, version: int) -> DataFrame:
        """Time-travel read: the table AS OF a past committed version
        (0 = before the first merge, an empty frame), reconstructed
        from the head snapshot by applying the change feed INVERSELY.

        Requires every CDF dir in (version, head] to still be retained
        (change_retention) — raises instead of silently returning a
        state that never existed when any were vacuumed. Cost is one
        anti-join + union per rewound version over the head snapshot;
        the intended use is recent-history audit/debug (the lakehouse
        `VERSION AS OF` shape), not deep archaeology — keep a longer
        change_retention if deep time travel matters."""
        if not 0 <= version <= self.version:
            raise ValueError(
                f"version {version} out of range [0, {self.version}]"
            )
        if self.version == 0:
            # never merged: no schema exists, so even the v0 "empty
            # frame" contract cannot be typed — fail with the real cause
            raise ValueError(
                "time travel needs at least one committed version "
                "(the table has no schema yet)"
            )
        if version == self.version:
            return self.read()
        return inverse_rewind(self, self.read(), version, self.pk)

    def lookup_rel(self, pk_values: list) -> str | None:
        """Resolve a PK point lookup to AT MOST ONE bucket dir, or None
        when the manifest's footer stats prove the key cannot exist
        (outside the bucket's [min, max] for any PK column) — zero IO in
        that case. Falls back to the hash bucket when stats are absent."""
        if self.bucket_cols != self.pk:
            raise NotImplementedError(
                f"point lookup by PK requires the table to be bucketed by "
                f"its PK (this table buckets by {self.bucket_cols}); use "
                "read_buckets with the bucket-key values instead"
            )
        b = str(self._bucket_of(pk_values))
        rel = self._buckets.get(b)
        if rel is None:
            return None
        st = self._stats.get(b)
        if st is not None:
            if not st:
                return None  # bucket exists but is empty
            for c, v in zip(self.pk, pk_values):
                if c in st:
                    lo, hi = st[c]
                    # compare only like-typed values (stats did a JSON
                    # roundtrip; a mismatch means no pruning claim)
                    if isinstance(v, (int, float)) == isinstance(lo, (int, float)):
                        if v < lo or v > hi:
                            return None
        return rel

    def lookup(self, pk_values: list) -> DataFrame:
        """Point read by PK: reads only the one matching bucket (pruned
        further to zero files by the manifest stats when possible)."""
        if self._schema_json is None:
            raise ValueError("table is empty and has no schema yet")
        rel = self.lookup_rel(pk_values)
        if rel is None:
            return self.spark.createDataFrame([], self._schema())
        df = self._read_bucket(rel)
        for c, v in zip(self.pk, pk_values):
            df = df.filter(F.col(c) == F.lit(v))
        return df

    def read_changes(self, since_version: int = 1) -> DataFrame:
        """Change data feed from `since_version` (inclusive) to the
        current version: Delta CDF columns `_change_type` (insert /
        update_preimage / update_postimage / delete) and
        `_commit_version`."""
        cd = os.path.join(self.path, "changes")
        versions = []
        if os.path.isdir(cd):
            for v in sorted(os.listdir(cd)):
                if v.startswith("v") and since_version <= int(v[1:]) <= self.version:
                    versions.append(os.path.join(cd, v))
        schema = self._schema().add("_change_type", T.StringType()).add(
            "_commit_version", T.LongType()
        )
        if not versions:
            return self.spark.createDataFrame([], schema)
        # recursiveFileLookup: change dirs carry __b=K partition subdirs
        # (an artifact of the combined data+changes write); the bucket id
        # is not part of the CDF schema, so read plain files recursively
        return (
            self.spark.read.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(*versions)
        )

    def changes_as_changelog(self, since_version: int = 1) -> DataFrame:
        """CDF -> the engine's changelog convention (__op/__txid/__seq):
        update_preimage rows drop (the operators resolve old images by
        PK), update_postimage -> U, insert -> I, delete -> D."""
        ch = self.read_changes(since_version)
        op = (
            F.when(F.col("_change_type") == "insert", "I")
            .when(F.col("_change_type") == "update_postimage", "U")
            .when(F.col("_change_type") == "delete", "D")
        )
        return (
            ch.filter(F.col("_change_type") != "update_preimage")
            .select(
                op.alias("__op"),
                F.col("_commit_version").alias("__txid"),
                # INVARIANT: merge() dropDuplicates by PK per version, so
                # each PK appears at most once per __txid and within-version
                # order is immaterial (see sources/delta.py note).
                F.monotonically_increasing_id().alias("__seq"),
                *[c for c in ch.columns if not c.startswith("_")],
            )
        )

    # -- merge ---------------------------------------------------------------

    def merge(self, batch: DataFrame, delete_col: str | None = None,
              batch_id: int | None = None, app_id: str = "default") -> int:
        """MERGE `batch` by PK: update when matched, insert when not;
        rows with `delete_col` true delete instead. Returns the new
        committed version. Only buckets containing batch keys are
        rewritten; the rest carry forward untouched.

        batch_id: streaming idempotency token. foreachBatch retries a
        batch when the job dies between the sink commit and the
        checkpoint advance; re-merging would append a duplicate version
        and duplicate CDF rows. A batch_id at or below the last recorded
        one is a NO-OP returning the current version.

        Cost per merge is TWO Spark actions: the touched-bucket key
        scan, and ONE combined write that produces both the new bucket
        data and the change feed (see _write_version). With adaptive
        execution each query stage of an action runs as its own job, so
        the job count is higher (4 + 6 jobs for a steady CDC epoch's
        aggregate changelog, per tools/epoch_jobs.py).
        """
        if self._applied(batch_id, app_id):
            return self.version
        deletes = None
        if delete_col is not None:
            # carry the bucket columns too (they may not be part of the
            # PK when the table buckets by a probe key) so the
            # touched-bucket scan below can hash delete rows
            dcols = list(dict.fromkeys(self.pk + self.bucket_cols))
            deletes = batch.filter(F.col(delete_col)).select(*dcols)
            batch = batch.filter(~F.col(delete_col)).drop(delete_col)
        # NO dropDuplicates here: last-writer-wins dedup folds into the
        # merge join itself (groupBy PK below shares the join's shuffle
        # partitioning, so the dedup costs no extra shuffle)

        if self._schema_json is None:
            self._schema_json = batch.schema.json()
        new_version = self.version + 1

        # buckets touched by this batch (one job over the slim key columns).
        # keyed/dk/cur are persisted for the duration of the merge: the
        # combined write otherwise recomputes the join chain per branch.
        keyed = batch.withColumn("__b", self._bucket_col()).persist()
        key_src = keyed.select("__b")
        dk = None
        if deletes is not None:
            dk = deletes.withColumn("__b", self._bucket_col()).persist()
            key_src = key_src.unionByName(dk.select("__b"))
        touched = sorted(r["__b"] for r in key_src.distinct().collect())

        # current rows of the touched buckets, with their bucket column
        # re-derived from the PK (buckets are a pure function of the PK)
        old_rels = [self._buckets[str(b)] for b in touched if str(b) in self._buckets]
        if old_rels:
            cur = self.spark.read.schema(self._schema()).parquet(
                *[os.path.join(self.path, rel) for rel in old_rels]
            ).withColumn("__b", self._bucket_col()).persist()
        else:
            cur = self.spark.createDataFrame([], keyed.schema)

        # set-based MERGE over all touched buckets in ONE pass: a single
        # full-outer join on PK classifies every key (matched / new-only /
        # old-only), and each joined row explodes into its 1-3 output
        # rows — the new bucket row plus its CDF rows. One shuffle on PK,
        # one write, instead of the previous 4 semi/anti-join branches.
        data_cols = [c for c in keyed.columns]  # incl. __b
        row_struct = F.struct(*[F.col(c) for c in data_cols])
        # one-per-PK new images (last-writer-wins; any_value because
        # intra-batch order is the transport's concern — callers that
        # care pre-sort and dedup). The groupBy's hash partitioning on
        # pk is exactly the join's, so Catalyst plans ONE shuffle.
        n_side = (
            keyed.select(row_struct.alias("__new"), *self.pk)
            .groupBy(*self.pk)
            .agg(F.any_value(F.col("__new")).alias("__new"))
            .select("__new", *self.pk)
        )
        if old_rels:
            o_side = cur.select(row_struct.alias("__old"), *self.pk)
            joined = o_side.join(n_side, self.pk, "full_outer")
        else:
            # first write into these buckets: every batch row is an
            # insert — no join, no shuffle beyond the batch's own
            struct_t = T.StructType(
                [keyed.schema[c] for c in data_cols]
            )
            joined = n_side.withColumn("__old", F.lit(None).cast(struct_t))
        if dk is not None:
            # distinct: duplicate delete keys must not fan out the join
            joined = joined.join(
                dk.select(*self.pk).distinct().withColumn("__d", F.lit(True)),
                self.pk, "left",
            )
        else:
            joined = joined.withColumn("__d", F.lit(False))

        old_s, new_s = F.col("__old"), F.col("__new")
        roles = (
            F.when(
                new_s.isNotNull() & old_s.isNotNull(),
                F.array(
                    _role("data", None, new_s),
                    _role("changes", "update_preimage", old_s),
                    _role("changes", "update_postimage", new_s),
                ),
            )
            .when(
                new_s.isNotNull(),
                F.array(_role("data", None, new_s),
                        _role("changes", "insert", new_s)),
            )
            # old-only: delete only when flagged AND not re-upserted this
            # batch (the new-image branches above win for matched PKs)
            .when(
                F.coalesce(F.col("__d"), F.lit(False)),
                F.array(_role("changes", "delete", old_s)),
            )
            .otherwise(F.array(_role("data", None, old_s)))
        )
        ddir = self._write_version(joined, roles, new_version)

        keyed.unpersist()
        if dk is not None:
            dk.unpersist()
        if old_rels:
            cur.unpersist()
        return self._publish(ddir, touched, new_version, batch_id, app_id)

    def append_fresh(self, batch: DataFrame, batch_id: int | None = None,
                     app_id: str = "default") -> int:
        """APPEND pure-insert rows whose PKs are absent from the table
        (the caller asserts the fresh-keys contract — same trust as
        DiffStateTable.advance(fresh_keys=True)): the batch is written
        bucket-clustered in ONE pass (one O(batch) clustering shuffle,
        one write job) and every existing file of a touched bucket is
        carried into the new version dir by HARDLINK — no read of
        existing rows, no PK join, no bucket rewrite. This is the
        O(window) compaction path for append-only streaming indexes;
        merge() stays the path for upserts/deletes, whose cost is
        O(rows sharing touched buckets) — which for a uniform batch is
        the WHOLE table, an O(state) rewrite per compaction window that
        grows forever at corpus scale.

        The change feed records every row as an insert, so time travel
        (read_as_of) and the crash rewind (incstate.rewind_to_version)
        work unchanged. Violating the precondition (a PK already
        present) produces a duplicate key — callers must route any
        window containing tombstones or re-sent keys through merge().
        """
        if self._applied(batch_id, app_id):
            return self.version
        if self._schema_json is None:
            self._schema_json = batch.schema.json()
        new_version = self.version + 1

        keyed = batch.withColumn("__b", self._bucket_col())
        row_struct = F.struct(*[F.col(c) for c in keyed.columns])
        # every row lands twice: the bucket data file and its CDF insert
        ddir = self._write_version(keyed, F.array(
            _role("data", None, row_struct),
            _role("changes", "insert", row_struct),
        ), new_version)

        # touched buckets = the partition dirs the write produced (no
        # extra Spark job); carry each touched bucket's EXISTING files
        # forward by hardlink — metadata-only, the data is never copied
        # or re-read. _vacuum later dropping the old version dir only
        # removes one link; the inodes live on under the new dir.
        dabs = os.path.join(self.path, ddir)
        touched = sorted(
            int(d.split("=", 1)[1]) for d in os.listdir(dabs)
            if d.startswith("__b=")
        ) if os.path.isdir(dabs) else []
        for b in touched:
            new_abs = os.path.join(dabs, f"__b={b}")
            old_rel = self._buckets.get(str(b))
            if old_rel is None:
                continue
            old_abs = os.path.join(self.path, old_rel)
            for fn in os.listdir(old_abs):
                if not fn.endswith(".parquet"):
                    continue
                link_dst = os.path.join(new_abs, fn)
                if os.path.exists(link_dst):  # replayed append
                    continue
                try:
                    os.link(os.path.join(old_abs, fn), link_dst)
                except OSError:  # cross-device/unsupported: copy
                    shutil.copy2(os.path.join(old_abs, fn), link_dst)
        return self._publish(ddir, touched, new_version, batch_id, app_id)

    # -- commit path shared by merge and append_fresh ------------------------

    def _applied(self, batch_id: int | None, app_id: str) -> bool:
        """True when (app_id, batch_id) is already committed: a
        foreachBatch retry is a no-op."""
        if batch_id is None:
            return False
        seen = (self._last_batch_ids or {}).get(app_id)
        return seen is not None and batch_id <= seen

    def _check_head(self, when: str) -> None:
        """Fail loudly when another writer committed since this instance
        loaded the manifest. Checked before the version write, before
        the change-feed rename and before the manifest replace."""
        on_disk = self._read_manifest()
        if on_disk is not None and on_disk["version"] != self.version:
            raise ConcurrentWriteError(
                f"manifest moved to v{on_disk['version']} {when} "
                f"(expected v{self.version}): another writer committed"
            )

    def _write_version(self, rows: DataFrame, roles: F.Column,
                       version: int) -> str:
        """Write `version`'s bucket data AND its change feed in ONE job:
        each row of `rows` explodes into its `roles` (_role structs),
        the result is written partitioned by a __dest column, and the
        change half is then renamed into changes/ — a metadata move, no
        second pass over the rows. Returns the data dir (relative)."""
        combined = rows.select(F.explode(roles).alias("r")).select(
            F.col("r.__img.*"),
            F.col("r.__dest").alias("__dest"),
            F.col("r.__ct").alias("_change_type"),
            F.when(F.col("r.__ct").isNotNull(), F.lit(version))
            .cast("long").alias("_commit_version"),
        )

        # CAS check BEFORE writing into the shared version dir: if another
        # writer already committed our target version, the overwrite below
        # would delete THEIR committed files before the later check fires.
        # (Window between check and write remains — the table is
        # single-writer by contract; this makes the common race loud and
        # harmless instead of destructive.)
        self._check_head("before write")

        vdir = os.path.join("buckets", f"v{version:06d}")
        # cluster the write by bucket: without this every post-join task
        # (spark.sql.shuffle.partitions of them) opens a file in EVERY
        # (__dest, __b) partition dir — tasks x buckets tiny files, which
        # slows the write AND every later footer-stats/bucket read.
        # Hashing on __b puts each bucket in exactly one task, so each
        # dir gets one file; with no fixed count AQE sizes the tasks by
        # bytes (one task for a small epoch, up to
        # spark.sql.shuffle.partitions at scale). The clustering shuffle
        # moves only the touched buckets' rows.
        combined = combined.repartition("__b")
        combined.write.mode("overwrite").partitionBy("__dest", "__b").parquet(
            os.path.join(self.path, vdir)
        )

        # and again BEFORE mutating shared dirs: if another writer
        # committed our target version meanwhile, fail loudly now instead
        # of clobbering their change feed
        self._check_head("during write")

        # move the change half to its own dir (instant metadata rename;
        # keeps the CDF outside the bucket dirs so bucket vacuum and
        # change retention stay independent)
        cdir = os.path.join(self.path, "changes")
        os.makedirs(cdir, exist_ok=True)
        src = os.path.join(self.path, vdir, "__dest=changes")
        dst = os.path.join(cdir, f"v{version:06d}")
        if os.path.isdir(dst):  # uncommitted leftover from a dead writer
            shutil.rmtree(dst, ignore_errors=True)
        if os.path.isdir(src):
            os.rename(src, dst)
        else:  # a batch with no effective changes still records the epoch
            os.makedirs(dst, exist_ok=True)
        return os.path.join(vdir, "__dest=data")

    def _publish(self, ddir: str, touched: list[int], version: int,
                 batch_id: int | None, app_id: str) -> int:
        """Point every touched bucket at its dir under `ddir`, refresh
        its footer stats, and commit `version` (then vacuum)."""
        # refs of the version being superseded: _vacuum must keep them —
        # readers holding the PREVIOUS snapshot (the streaming operators'
        # lazy output changelogs) still scan those files, and with
        # carry-forward a previous-version ref can live in an arbitrarily
        # old version dir that the age floor alone would delete
        self._prev_refs = set(self._buckets.values())
        for b in touched:
            rel = os.path.join(ddir, f"__b={b}")
            # partitionBy writes a dir only if the bucket has rows; an
            # all-deleted bucket becomes an empty entry
            self._buckets[str(b)] = rel
            os.makedirs(os.path.join(self.path, rel), exist_ok=True)
            # refresh footer stats for the rewritten bucket (driver-side
            # metadata read; untouched buckets keep their entries)
            st = self._footer_stats(rel)
            if st is None:
                self._stats.pop(str(b), None)
            else:
                self._stats[str(b)] = st
        self._check_head("before commit")
        self.version = version
        if batch_id is not None:
            self._last_batch_ids = dict(self._last_batch_ids or {})
            self._last_batch_ids[app_id] = batch_id
        self._commit()
        self._vacuum()
        return version

    def _vacuum(self, keep_versions: int = 2) -> None:
        """Drop bucket version dirs not referenced by the manifest and
        older than keep_versions (crash-rollback window), and — when
        change_retention is set — change-feed dirs older than the
        retention window."""
        bd = os.path.join(self.path, "buckets")
        if os.path.isdir(bd):
            live = {rel.split(os.sep)[1] for rel in self._buckets.values()}
            # the superseded version's refs stay readable for one more
            # epoch (previous-snapshot readers; see merge)
            live |= {rel.split(os.sep)[1]
                     for rel in getattr(self, "_prev_refs", ())}
            floor = self.version - keep_versions + 1
            for v in os.listdir(bd):
                if not v.startswith("v"):
                    continue
                if int(v[1:]) < floor and v not in live:
                    shutil.rmtree(os.path.join(bd, v), ignore_errors=True)
        cd = os.path.join(self.path, "changes")
        if self.change_retention is not None and os.path.isdir(cd):
            cfloor = self.version - self.change_retention + 1
            for v in os.listdir(cd):
                if v.startswith("v") and int(v[1:]) < cfloor:
                    shutil.rmtree(os.path.join(cd, v), ignore_errors=True)


def foreach_batch_merge(path: str, pk: list[str], delete_col: str | None = None,
                        n_buckets: int = 16, app_id: str = "default"):
    """writeStream.foreachBatch factory backed by TransactionalTable —
    the epoch-committed MERGE sink (atomic, bucket-pruned)."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # batch_id makes a foreachBatch RETRY of an already-committed
        # batch a no-op (crash between sink commit and checkpoint advance)
        TransactionalTable(batch.sparkSession, path, pk, n_buckets).merge(
            batch, delete_col=delete_col, batch_id=batch_id, app_id=app_id
        )

    return fn


CDF_COLS = ("_change_type", "_commit_version")


def inverse_rewind(tx: "TransactionalTable", cur: DataFrame,
                   to_version: int, key_cols: list[str]) -> DataFrame:
    """`cur` (the state at tx.version) rewound to `to_version` by
    applying the change feed inversely, newest version first: drop
    insert/update_postimage keys, restore update_preimage/delete rows.
    Shared by time travel (read_as_of) and the delta-log crash rewind
    (streaming/incstate.py).

    Raises when any change-feed dir in (to_version, tx.version] was
    vacuumed (change_retention): read_changes silently SKIPS missing
    version dirs, so the rewind would reconstruct a state that never
    existed."""
    cd = os.path.join(tx.path, "changes")
    have = (
        {int(v[1:]) for v in os.listdir(cd) if v.startswith("v")}
        if os.path.isdir(cd) else set()
    )
    missing = sorted(set(range(to_version + 1, tx.version + 1)) - have)
    if missing:
        raise ValueError(
            f"cannot rewind to v{to_version}: change feed for versions "
            f"{missing} was vacuumed (change_retention) — the result "
            "would be a state that never existed"
        )
    v = tx.version
    ch_all = (tx.read_changes(since_version=to_version + 1)
              if v > to_version else None)
    while v > to_version:
        ch = ch_all.filter(F.col("_commit_version") == v)
        added = ch.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select(*key_cols)
        restored = ch.filter(
            F.col("_change_type").isin("update_preimage", "delete")
        ).drop(*CDF_COLS)
        cur = cur.join(added, key_cols, "left_anti").unionByName(restored)
        v -= 1
    return cur
