"""Table registry with primary-key metadata.

Spark has no native PK concept; the reference's PK is load-bearing
(dozer-types/src/types/mod.rs:86-89 — without it Update/Delete are
unsupported; joins key state by PK hash, GROUP BY sets output PK to the
group columns, TUMBLE/HOP extend the PK with window_start). We carry the
same metadata here so streaming MERGE sinks and changelog operators know
what to upsert on (SURVEY.md section 1.4).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from dozer_spark.types import FieldDef, TableSchema, from_spark_type

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Driver-provided synthetic corpus (TESTDATA.md) with PK declarations.
TESTDATA_PKS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


# Columns stored as parquet TIMESTAMP(NANOS) cannot be read natively by
# Spark (PARQUET_TYPE_ILLEGAL). We read them as long via the legacy conf
# and convert ns -> microsecond timestamp_ntz (integer division — double
# math would lose precision on ~1.7e18 ns epochs).


# Parquet METADATA cache: (path, mtime_ns, size) -> (spark schema, ns cols).
# Schema inference (`spark.read.parquet`) is a ~90 ms driver round-trip per
# table per call; with every query build re-opening its input tables, the
# inference dominated the driver-side build cost (measured 1.13 s of a
# 1.15 s catalog load at sf0.1 — guide §7.3: planning/metadata is
# single-threaded driver work). The cache holds only file METADATA keyed
# by (path, mtime, size) — a rewritten file misses and re-infers — so
# every query still computes from the parquet bytes; this is the same
# class of caching as Spark's own session file-listing cache (guide §6).
_SCHEMA_CACHE: dict[tuple, tuple] = {}
# (applicationId, path, sig) -> (DataFrame, ns_cols): the fully-built
# reader frame. METADATA ONLY — a DataFrame is an immutable logical
# plan, never data or results; every action over it still scans the
# parquet. Keyed on the file signature (stale mtime -> rebuild) and the
# Spark application (a restarted session never sees another session's
# JVM handles). Saves the ~35 ms reader construction + ns-normalization
# py4j round-trips PER TABLE PER BUILD (guide §7.3) on top of the
# schema memo; the returned plan is bit-identical to a fresh build, so
# CacheManager plan-equality (persisted intermediates across bench
# passes) is unaffected.
_READER_CACHE: dict[tuple, tuple] = {}


def _walk_error(err: OSError) -> None:
    raise err


def _path_sig(path: str) -> tuple | None:
    """Stat-based cache key; None (uncacheable) when stat fails.

    Directories are walked RECURSIVELY (one stat per entry): a parquet
    file overwritten in place inside a nested partition subdirectory
    (key=v/part-*.parquet) changes neither the top-level entry names
    nor the subdir mtime, so a one-level signature would serve a stale
    schema for partitioned layouts. The walk follows symlinked
    subdirectories (the reader lists their files too), and a directory
    it cannot list fails the signature instead of leaving a partial one.
    A directory reached twice (a symlink back to an ancestor, or two
    links to one target) also gives None: os.walk has no loop check, so
    a loop would otherwise be walked down to the ELOOP depth (about 40
    levels, each listing and stat-ing the table's files)."""
    try:
        if os.path.isdir(path):
            parts = []
            seen = set()
            for root, dirs, files in os.walk(path, onerror=_walk_error,
                                             followlinks=True):
                d = os.stat(root)
                if (d.st_dev, d.st_ino) in seen:
                    return None
                seen.add((d.st_dev, d.st_ino))
                dirs.sort()
                for name in files:
                    st = os.stat(os.path.join(root, name))
                    parts.append(
                        (os.path.join(root, name), st.st_mtime_ns,
                         st.st_size)
                    )
            return (path, tuple(sorted(parts)))
        st = os.stat(path)
        return (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def _nanos_ts_cols(path: str) -> list[str]:
    """Detect TIMESTAMP(NANOS) columns from the parquet footer."""
    try:
        import pyarrow.dataset as ds
        import pyarrow as pa

        schema = ds.dataset(path, format="parquet").schema
        return [
            f.name
            for f in schema
            if isinstance(f.type, pa.TimestampType) and f.type.unit == "ns"
        ]
    except Exception:
        return []


@dataclass
class TableEntry:
    name: str
    df: DataFrame
    schema: TableSchema
    path: str | None = None


@dataclass
class Catalog:
    """Named tables + PK metadata; mirrors the role of dozer's
    connector-derived schema registry (Connector::get_schemas,
    dozer-ingestion/connector/src/lib.rs:83-86)."""

    spark: SparkSession
    tables: dict[str, TableEntry] = field(default_factory=dict)
    # lazily-loadable name -> parquet path (from_testdata(lazy=True)):
    # the table is read + view-registered on first df() access, so a
    # query build pays only for the tables it references
    pending: dict[str, str] = field(default_factory=dict)

    def register(self, name: str, df: DataFrame, pk: list[str] | None = None,
                 path: str | None = None, as_view: bool = True) -> TableEntry:
        fields = [
            FieldDef(f.name, from_spark_type(f.dataType), f.nullable)
            for f in df.schema.fields
        ]
        entry = TableEntry(name, df, TableSchema(fields, pk or []), path)
        self.tables[name] = entry
        if as_view:
            df.createOrReplaceTempView(name)
        return entry

    def df(self, name: str) -> DataFrame:
        if name not in self.tables:
            if name in self.pending:
                path = self.pending.pop(name)
                # no temp view for lazily-loaded tables: DataFrame-API
                # consumers never read it and createOrReplaceTempView is
                # a ~80 ms driver round-trip; spark.sql() consumers bind
                # views explicitly via view()/load_all()
                self.register(
                    name,
                    load_parquet(self.spark, path, name),
                    pk=TESTDATA_PKS.get(name),
                    path=path,
                    as_view=False,
                )
            else:
                raise KeyError(
                    f"table {name!r} not registered "
                    f"(loaded: {sorted(self.tables)}); check the sf_dir "
                    "path and that <table>.parquet exists"
                )
        return self.tables[name].df

    def view(self, name: str) -> DataFrame:
        """df(name), additionally (re)binding the session temp view
        `name` to this catalog's table — required before spark.sql()
        references the bare table name (a stale view from a previous
        catalog at a different sf_dir would otherwise win)."""
        d = self.df(name)
        d.createOrReplaceTempView(name)
        return d

    def has(self, name: str) -> bool:
        return name in self.tables or name in self.pending

    def names(self) -> list[str]:
        return list(self.tables) + list(self.pending)

    def pk(self, name: str) -> list[str]:
        if name not in self.tables and name in self.pending:
            self.df(name)
        return self.tables[name].schema.primary_index

    def load_all(self) -> "Catalog":
        """Force-load every table and bind its temp view. spark.sql()
        consumers that reference tables by bare name must call this (or
        view() per table) so the session views point at THIS catalog's
        sf_dir, not whatever a previous build left."""
        for name in self.names():
            self.view(name)
        return self

    @classmethod
    def from_testdata(cls, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR,
                      tables: list[str] | None = None,
                      lazy: bool = False) -> "Catalog":
        """Load the driver's parquet corpus (TESTDATA.md) and register
        each table as a temp view with its PK.

        lazy=True defers the read (and view registration) of each table
        to its first df() access: a query build then pays only for the
        tables it actually references instead of all ten (~0.1 s vs
        ~1.1 s of driver time per build at sf0.1)."""
        # The caller's session may not be ours (the driver builds its own):
        # pin UTC so epoch math (window bucketing, TTL cutoffs) is
        # deterministic regardless of host timezone. Runtime-settable conf.
        try:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:
            pass
        cat = cls(spark)
        for name in tables or list(TESTDATA_PKS):
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            if lazy:
                cat.pending[name] = path
            else:
                df = load_parquet(spark, path, name)
                cat.register(name, df, pk=TESTDATA_PKS.get(name), path=path)
        return cat


def load_parquet(spark: SparkSession, path: str, name: str | None = None) -> DataFrame:
    """Read a parquet table, normalizing ns timestamps to timestamp_ntz.

    Schema + ns-column metadata is memoized per (path, mtime, size):
    a cache hit skips the footer probe and Spark's schema inference
    (`spark.read.schema(...)` instead of `spark.read.parquet`'s
    inference pass — ~3x less driver time per open)."""
    sig = _path_sig(path)
    try:
        app = spark.sparkContext.applicationId
    except Exception:
        app = None
    rkey = (app, path, sig) if (app is not None and sig is not None) else None
    if rkey is not None and rkey in _READER_CACHE:
        df, ns_cols = _READER_CACHE[rkey]
        if ns_cols:
            # the legacy conf must hold at SCAN time on every build
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return df
    hit = _SCHEMA_CACHE.get(sig) if sig is not None else None
    if hit is None:
        ns_cols = tuple(_nanos_ts_cols(path))
        if ns_cols:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = spark.read.parquet(path).schema
        if sig is not None:
            _SCHEMA_CACHE[sig] = (schema, ns_cols)
    else:
        schema, ns_cols = hit
        if ns_cols:
            # the legacy conf must hold at SCAN time for TIMESTAMP(NANOS)
            # columns even with an explicit schema (the reader validates
            # catalyst type vs parquet type per file)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # ALWAYS build the returned frame through the explicit-schema path —
    # also right after inferring. A frame read with an inferred schema is
    # a DIFFERENT logical relation than one read with an explicit schema,
    # so mixing the two across builds would defeat CacheManager's
    # plan-equality matching for persisted intermediates (e.g. the
    # minhash signature table) between benchmark passes.
    df = spark.read.schema(schema).parquet(path)
    from pyspark.sql import functions as F  # local import to keep module light

    for c in ns_cols:
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz")
            )
    if rkey is not None:
        _READER_CACHE[rkey] = (df, ns_cols)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Convenience: name -> DataFrame for the driver corpus, views registered."""
    cat = Catalog.from_testdata(spark, sf_dir)
    return {n: e.df for n, e in cat.tables.items()}
