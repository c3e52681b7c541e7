"""DeltaLake source/sink (reference: dozer-ingestion/src/lib.rs:121-124).

Real Delta code paths, gated on delta-spark availability (the test
container ships without it; tests skip). When delta is absent, the
TransactionalTable (storage/txtable.py) provides the same MERGE + change
feed contract parquet-native, so pipelines are portable between the two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def delta_snapshot(spark: SparkSession, path: str,
                   version: int | None = None) -> DataFrame:
    """Batch snapshot of a Delta table (optionally time-travel)."""
    r = spark.read.format("delta")
    if version is not None:
        r = r.option("versionAsOf", version)
    return r.load(path)


def delta_cdf_changelog(spark: SparkSession, path: str,
                        starting_version: int = 0,
                        streaming: bool = False) -> DataFrame:
    """Delta Change Data Feed -> the engine changelog convention.

    Requires the table to have delta.enableChangeDataFeed=true. CDF rows
    carry _change_type/_commit_version exactly like
    TransactionalTable.read_changes — the normalization is shared.
    """
    reader = spark.readStream if streaming else spark.read
    df = (
        reader.format("delta")
        .option("readChangeFeed", "true")
        .option("startingVersion", starting_version)
        .load(path)
    )
    op = (
        F.when(F.col("_change_type") == "insert", "I")
        .when(F.col("_change_type") == "update_postimage", "U")
        .when(F.col("_change_type") == "delete", "D")
    )
    data_cols = [c for c in df.columns if not c.startswith("_")]
    return (
        df.filter(F.col("_change_type") != "update_preimage")
        .select(
            op.alias("__op"),
            F.col("_commit_version").cast("long").alias("__txid"),
            # INVARIANT: a Delta commit touches each PK at most once, so
            # ordering WITHIN a version is immaterial — __seq only breaks
            # ties across rows of different PKs. Do not reuse this for
            # transports where one PK can appear twice per __txid (see
            # wal2json._lsn_seq for the order-preserving pattern).
            F.monotonically_increasing_id().alias("__seq"),
            *data_cols,
        )
    )


def delta_merge_upsert(spark: SparkSession, batch: DataFrame, path: str,
                       pk: list[str], delete_col: str | None = None) -> None:
    """Atomic MERGE INTO a Delta table — the production-grade version of
    TransactionalTable.merge."""
    from delta.tables import DeltaTable

    if not DeltaTable.isDeltaTable(spark, path):
        b = batch if delete_col is None else batch.filter(
            ~F.col(delete_col)).drop(delete_col)
        b.write.format("delta").mode("overwrite").save(path)
        return
    tgt = DeltaTable.forPath(spark, path)
    cond = " AND ".join(f"t.{c} = s.{c}" for c in pk)
    m = tgt.alias("t").merge(batch.alias("s"), cond)
    if delete_col is not None:
        m = m.whenMatchedDelete(condition=f"s.{delete_col}")
        m = m.whenMatchedUpdateAll(condition=f"NOT s.{delete_col}")
        m = m.whenNotMatchedInsertAll(condition=f"NOT s.{delete_col}")
    else:
        m = m.whenMatchedUpdateAll().whenNotMatchedInsertAll()
    m.execute()
