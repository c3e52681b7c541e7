"""Streaming fuzzy-match index: incremental edit-distance-1 entity
matching against the entire accumulated corpus.

The streaming face of ops/fuzzy.fuzzy_self_join_dist1 — the record-
linkage shape a CDC pipeline needs ("does this new customer name match
anything we've ever seen, modulo one typo?") without recomputing old
variants. It runs the near-dup probe-key loop of streaming/dedup.py:
the probe keys are the deletion variants (id, string, variant) — O(corpus
x len) rows but short strings only — exploded with the SAME helper the
batch op uses, the string is carried into the pair, and every
candidate is verified with ``levenshtein``. The per-id table (fuzzy_ids,
one row per name, not one per variant) is the seen-id filter, so no
epoch reads the wide variant state outside the amortized TTL prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dozer_spark.streaming.dedup import _ProbeKeyStream

_GEOM = {"max_dist": 1}


class StreamingFuzzyIndex(_ProbeKeyStream):
    _KEYS = ("__k",)
    _DIGEST = "__fk"
    _STATE = ("fuzzy_keys", "fuzzy_ids")
    _APPS = ("fz_keys", "fz_ids")
    _TXV = ("fuzzy_txv", "fuzzy_ids_txv")
    _META = "fz"
    _CARRY = (("s_a", "s_b", "__str"),)
    _ROW_ID = "id"
    _ROW_TS = "__ts"

    _tx = property(lambda self: self._keytx)

    def __init__(self, spark, str_col: str, id_col: str,
                 state_dir: str | None = None,
                 broadcast_gate_bytes: int | None = None,
                 ts_col: str | None = None, retain: str | None = None,
                 prune_every: int = 8, state_buckets: int = 256):
        """ts_col/retain enable bounded-recall mode and state_buckets
        sizes the durable variant-key state (streaming/dedup.py module
        docstring): size it so state_rows/state_buckets stays a healthy
        parquet file (~tens of MB) at the target corpus."""
        self.str_col = str_col
        super().__init__(spark, id_col, state_dir, broadcast_gate_bytes,
                         ts_col, retain, prune_every, state_buckets)

    def _geom(self) -> dict:
        return _GEOM

    def _admit(self, rows: DataFrame) -> DataFrame:
        sel = [F.col(self.id_col).alias("id"),
               F.col(self.str_col).alias("__str")]
        if self.retain is not None:
            sel.append(F.col(self.ts_col).alias("__ts"))
        return rows.select(*sel).filter(F.col("__str").isNotNull())

    def _explode(self, rows):
        from dozer_spark.ops.fuzzy import deletion_variants

        return None, rows.select(
            "*", F.explode(deletion_variants(F.col("__str"))).alias("__k")
        ).persist()

    def _id_rows(self, sigs, rows):
        return rows.drop("__str")

    def _verify(self, cand, sigs):
        """Edit-distance-<=1 pairs (id_a, id_b, s_a, s_b, dist)."""
        return (
            cand.withColumn("dist", F.levenshtein("s_a", "s_b"))
            .filter(F.col("dist") <= 1)
            .select("id_a", "id_b", "s_a", "s_b",
                    F.col("dist").cast("int").alias("dist"))
        )
