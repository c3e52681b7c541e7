"""Streaming deduplication.

- streaming_exact_dedup: native dropDuplicatesWithinWatermark — exact
  dedup over an unbounded stream with bounded state (the watermark
  bounds how long a key is remembered). This is the streaming face of
  ops/dedup.exact_dedup.
- For near-dup (MinHash/SimHash) on streams, compute signatures per
  micro-batch (stateless, ops/dedup.minhash_signatures) and advance a
  signature store keyed by band (StreamingMinHashDedup /
  StreamingSimHashDedup: a DiffStateTable when durable); new docs probe
  the store for collisions. The signature computation is the same code
  path batch and streaming — only the store differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _check_state_geometry(store, key: str, geom: dict, what: str) -> None:
    """Durable-state geometry guard. The band/chunk keys persisted under
    state_dir are deterministic functions of the signature geometry
    (n_hashes/n_bands for MinHash, n_bits/max_hamming for SimHash), so
    resuming with a different geometry would compute new-batch keys
    under one geometry and probe state built under another — the join
    would silently match nothing and cross-epoch pairs would be LOST,
    with no error. Geometry is persisted in StateStore meta at first
    commit; a mismatch on resume raises, mirroring the
    txtable.inverse_rewind vacuum guard (fail loud, never fail
    silent-wrong)."""
    stored = store.load_meta(key)
    if stored is not None and stored != geom:
        raise ValueError(
            f"{what}: durable state at {store.root!r} was built with "
            f"geometry {stored} but this resume requests {geom}. "
            "Probing old state under a different geometry silently drops "
            "cross-epoch pairs — use the original parameters, or a fresh "
            "state_dir to rebuild under the new geometry."
        )


def streaming_exact_dedup(df: DataFrame, keys: list[str], ts_col: str,
                          watermark: str = "10 minutes") -> DataFrame:
    """Drop duplicate keys arriving within the watermark horizon.

    State per key is evicted once the watermark passes — the unbounded-
    stream equivalent of a groupBy-digest dedup."""
    wm = df.withWatermark(ts_col, watermark)
    return wm.dropDuplicatesWithinWatermark(keys)


class StreamingMinHashDedup:
    """Incremental near-dup detection: each micro-batch of documents is
    checked against the ENTIRE accumulated corpus without ever
    recomputing old signatures — the production shape of corpus dedup
    (ingest continuously, dedup on arrival).

    State = the LSH band table (band, band_key, doc id, token-set size)
    plus the per-doc 60-bit token-hash sets for exact-Jaccard
    verification — both O(corpus) but tiny per doc (ints, not text),
    and both delta-log DiffStateTables when durable (O(batch) epoch IO,
    the shared crash contract). Per batch:

    1. signatures for the NEW docs only (the one CPU-heavy scan);
    2. new-vs-new pairs via the batch machinery (skew probe + hot-band
       fragment split — a pathological batch is handled exactly like a
       pathological corpus);
    3. new-vs-old candidates via one equi-join of the batch's bands
       against the state bands — the probe side is batch-sized, so
       bucket skew is bounded by the batch, and AQE splits what's left;
    4. exact verify on token-hash intersection, same as batch.

    Every unordered pair is emitted EXACTLY once (when its later member
    arrives, or in its members' shared batch): band keys are
    deterministic functions of the text, so the union of all emitted
    pairs equals the batch `minhash_lsh_pairs` over the full corpus —
    which is the exact oracle the cdc_streaming_minhash_dedup query
    replays.
    """

    def __init__(self, spark, text_col: str, id_col: str,
                 threshold: float = 0.9, n_hashes: int | None = None,
                 n_bands: int | None = None, state_dir: str | None = None,
                 broadcast_gate_bytes: int | None = None,
                 ts_col: str | None = None, retain: str | None = None,
                 prune_every: int = 8, state_buckets: int = 256):
        """ts_col/retain enable BOUNDED-RECALL mode: docs are deduped
        against a sliding event-time window instead of all history. The
        watermark is the max ts_col seen; a pair is emitted only when
        BOTH members' ts are >= watermark - retain at the later member's
        arrival, and docs later than that horizon are dropped entirely
        (they could never pair). Correctness comes from the probe-side
        cutoff filter; the PHYSICAL state prune is amortized (every
        prune_every batches, enrich-style), so state is O(window), not
        O(corpus). Re-delivery idempotence then holds within the
        window: a doc re-sent after its state was pruned re-enters as
        new — the same bounded-state tradeoff as Spark's
        dropDuplicatesWithinWatermark.

        state_buckets: hash-bucket count of the durable band state,
        which is bucketed BY THE BAND KEY (band, band_key) so the
        per-epoch new-vs-old probe reads only the buckets the batch's
        bands hash to (read_live_pruned) — O(matched buckets), not
        O(state). Also the deployment parallelism lever; a resumed
        state keeps the count it was built with."""
        from dozer_spark.ops.dedup import minhash_geometry

        self.spark = spark
        self.text_col = text_col
        self.id_col = id_col
        self.threshold = threshold
        # threshold-derived banding, same derivation as the batch path
        # (and therefore the oracle) — see minhash_geometry
        self.n_hashes, self.n_bands = minhash_geometry(
            threshold, n_hashes, n_bands)
        self.gate = broadcast_gate_bytes
        if retain is not None and ts_col is None:
            raise ValueError("retain requires ts_col")
        self.ts_col = ts_col
        self.retain = retain
        self.prune_every = prune_every
        self._watermark = None
        self._batches = 0
        self._bands = None  # (id, sz, band, band_key[, __ts])
        self._toks = None   # (id, toksh[, __ts])
        self._store = None
        self._prev_caches: list = []
        if state_dir is not None:
            from dozer_spark.streaming.incstate import (
                DiffStateTable,
                diff_state_path,
            )
            from dozer_spark.streaming.state import StateStore

            self._store = StateStore(spark, state_dir)
            _check_state_geometry(
                self._store, "mh_geom",
                {"n_hashes": self.n_hashes, "n_bands": self.n_bands},
                "StreamingMinHashDedup",
            )
            self._bandtx = DiffStateTable(
                spark, diff_state_path(state_dir, "bands"),
                key_cols=["__bk"], internal_key=True,
                bucket_cols=["band", "band_key"], n_buckets=state_buckets,
            )
            self._tokstx = DiffStateTable(
                spark, diff_state_path(state_dir, "toks"),
                key_cols=[self.id_col],
            )
            if self._store.epoch > 0:
                # restore the band log position (pending deltas / base
                # version) for the pruned per-epoch probe reads; the
                # band frame itself is never held — probes read pruned
                self._bandtx.read_committed(
                    self._store.load_meta("bands_txv"))
                self._toks = self._tokstx.read_committed(
                    self._store.load_meta("toks_txv"))
                wm = self._store.load_meta("mh_wm")
                if wm and wm.get("wm") is not None:
                    import datetime as _dt

                    self._watermark = _dt.datetime.fromisoformat(wm["wm"])
                self._batches = self._store.epoch

    def process_batch(self, docs: DataFrame) -> DataFrame:
        """Near-dup pairs (id_a, id_b, jaccard) newly discoverable with
        this batch: within-batch pairs plus batch-vs-corpus pairs."""
        from pyspark.sql import functions as F

        from dozer_spark.operators.hints import maybe_broadcast
        from dozer_spark.ops.dedup import (
            _blocked_self_join_pairs,
            minhash_signatures,
        )
        from dozer_spark.streaming.changelog import row_digest

        from dozer_spark.ops.dedup import (
            minhash_band_table,
            minhash_size_pred,
        )

        for df in self._prev_caches:
            df.unpersist()
        self._prev_caches = []

        # at-least-once sources re-deliver: a doc id already in state is
        # SKIPPED (first write wins — ids are immutable doc identities),
        # and within-batch duplicates reduce to one row, so the
        # exactly-once pair contract holds under re-delivery too
        docs = docs.dropDuplicates([self.id_col])
        if self._toks is not None:
            docs = docs.join(
                self._toks.select(self.id_col), self.id_col, "left_anti"
            )

        # bounded-recall mode: advance the watermark from the RAW batch,
        # then drop docs beyond the horizon (they could never pair) and
        # restrict the probe-side state to the window
        cutoff = None
        if self.retain is not None:
            mx = docs.agg(F.max(self.ts_col)).first()[0]
            if mx is not None and (self._watermark is None
                                   or mx > self._watermark):
                self._watermark = mx
            if self._watermark is not None:
                cutoff = (F.lit(self._watermark)
                          - F.expr(f"INTERVAL {self.retain}"))
                docs = docs.filter(F.col(self.ts_col) >= cutoff)

        sigs = minhash_signatures(
            docs, self.text_col, self.id_col, self.n_hashes
        ).drop("toks").persist()
        # band geometry + size prefilter are the BATCH code (shared
        # helpers) — the streaming output can't drift from the oracle
        bands_new = minhash_band_table(
            sigs, self.id_col, self.n_hashes, self.n_bands
        )
        if self.retain is not None:
            ts_map = docs.select(
                F.col(self.id_col), F.col(self.ts_col).alias("__ts")
            )
            bands_new = bands_new.join(
                maybe_broadcast(ts_map, self.gate), self.id_col
            )
        bands_new = bands_new.persist()
        size_ok = minhash_size_pred(self.threshold)
        # new-vs-new: the full batch machinery (skew probe + hot split)
        cand = _blocked_self_join_pairs(
            bands_new, ["band", "band_key"], self.id_col,
            hot_cap=4096, broadcast_gate_bytes=self.gate,
            extra_pred=size_ok,
        )
        # new-vs-old: batch bands probe the corpus bands; canonical
        # (id_a < id_b) keeps the pair orientation identical to batch
        # mode whichever side arrived first. Durable state reads ONLY
        # the buckets the batch's band keys hash to (state is bucketed
        # by (band, band_key)); ephemeral state is the in-memory frame.
        old_bands = None
        if self._store is not None:
            if self._batches > 0:
                bids = self._bandtx.touched_bucket_ids(
                    bands_new.select("band", "band_key"))
                old_bands = self._bandtx.read_live_pruned(bids)
        else:
            old_bands = self._bands
        if old_bands is not None and cutoff is not None:
            old_bands = old_bands.filter(F.col("__ts") >= cutoff)
        if old_bands is not None:
            # pin the BATCH side to a broadcast when its measured cache
            # size clears the gate — the state side then streams through
            # a hash probe with no shuffle and no sort; otherwise leave
            # both sides unhinted (AQE sizes the join at runtime)
            bb = maybe_broadcast(bands_new, self.gate)
            a = bb.alias("a")
            o = old_bands.alias("b")
            no = (
                a.join(o, ["band", "band_key"])
                .filter(F.col(f"a.{self.id_col}") != F.col(f"b.{self.id_col}"))
                .filter(size_ok)
                .select(
                    F.least(F.col(f"a.{self.id_col}"),
                            F.col(f"b.{self.id_col}")).alias("id_a"),
                    F.greatest(F.col(f"a.{self.id_col}"),
                               F.col(f"b.{self.id_col}")).alias("id_b"),
                )
            )
            # one distinct over the union (an inner distinct on `no`
            # would just add a second full shuffle)
            cand = cand.unionByName(no).distinct()

        toks_all = sigs.select(self.id_col, "toksh")
        if self._toks is not None:
            # explicit projection: retention-mode state carries __ts
            toks_all = toks_all.unionByName(
                self._toks.select(self.id_col, "toksh")
            )
        side_a = toks_all.select(F.col(self.id_col).alias("id_a"),
                                 F.col("toksh").alias("toks_a"))
        side_b = toks_all.select(F.col(self.id_col).alias("id_b"),
                                 F.col("toksh").alias("toks_b"))
        pairs = (
            cand.join(maybe_broadcast(side_a, self.gate), "id_a")
            .join(maybe_broadcast(side_b, self.gate), "id_b")
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
                / F.size(F.array_union("toks_a", "toks_b")).cast("double"),
            )
            .filter(F.col("jaccard") >= self.threshold)
            .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
            .localCheckpoint(eager=False)
        )

        # advance state
        toks_new = sigs.select(self.id_col, "toksh")
        if self.retain is not None:
            toks_new = toks_new.join(
                maybe_broadcast(
                    docs.select(F.col(self.id_col),
                                F.col(self.ts_col).alias("__ts")),
                    self.gate,
                ),
                self.id_col,
            )
        # amortized PHYSICAL prune of out-of-window state (correctness
        # never depends on it — the probe filters by cutoff — so it can
        # run every prune_every batches, enrich-style)
        do_prune = (
            self.retain is not None and cutoff is not None
            and self._batches > 0
            and self._batches % self.prune_every == self.prune_every - 1
        )
        if self._store is not None:
            epoch = self._store.epoch + 1
            # the two state tables are independent dirs: submit both
            # delta appends concurrently so the epoch pays ONE write
            # job's wall-clock, not two in sequence
            from concurrent.futures import ThreadPoolExecutor

            bands_delta = bands_new.withColumn(
                "__bk", row_digest(["band", "band_key", self.id_col])
            ).withColumn("__del", F.lit(False))
            toks_delta = toks_new.withColumn("__del", F.lit(False))
            if do_prune:
                # delete rows never collide with this batch's upserts:
                # new docs are inside the window, pruned rows are not.
                # The full-state read here is the design's ONE
                # state-sized scan, paid every prune_every epochs —
                # never on the probe path.
                bands_delta = bands_delta.unionByName(
                    self._bandtx.read_live().filter(F.col("__ts") < cutoff)
                    .withColumn("__bk", row_digest(
                        ["band", "band_key", self.id_col]))
                    .withColumn("__del", F.lit(True))
                )
                toks_delta = toks_delta.unionByName(
                    self._toks.filter(F.col("__ts") < cutoff)
                    .withColumn("__del", F.lit(True))
                )
            with ThreadPoolExecutor(2) as ex:
                fb = ex.submit(self._bandtx.advance, bands_delta,
                               epoch, "smh_bands",
                               not do_prune)
                ft = ex.submit(self._tokstx.advance, toks_delta,
                               epoch, "smh_toks",
                               not do_prune)
                bmeta, tmeta = fb.result(), ft.result()
            self._store.stage_meta("bands_txv", bmeta)
            self._store.stage_meta("toks_txv", tmeta)
            self._store.stage_meta(
                "mh_geom",
                {"n_hashes": self.n_hashes, "n_bands": self.n_bands},
            )
            if self.retain is not None:
                self._store.stage_meta(
                    "mh_wm",
                    {"wm": self._watermark.isoformat()
                     if self._watermark is not None else None},
                )
            self._toks = self._tokstx.read_live()
            self._store.commit()
        else:
            # ephemeral state is append-only: checkpoint ONLY the new
            # rows (O(batch) work) and extend the union lazily — the
            # earlier checkpoints stay materialized. Plan depth grows
            # with batch count, so ephemeral mode is for tests/oracle
            # replays; long-running deployments use state_dir (delta-log
            # tables, flat plans at any epoch).
            b_ck = bands_new.localCheckpoint(eager=True)
            self._bands = (b_ck if self._bands is None
                           else self._bands.unionByName(b_ck))
            t_ck = toks_new.localCheckpoint(eager=True)
            self._toks = (t_ck if self._toks is None
                          else self._toks.unionByName(t_ck))
            if do_prune:
                self._bands = self._bands.filter(
                    F.col("__ts") >= cutoff
                ).localCheckpoint(eager=True)
                self._toks = self._toks.filter(
                    F.col("__ts") >= cutoff
                ).localCheckpoint(eager=True)
        self._batches += 1
        self._prev_caches = [sigs, bands_new]
        return pairs


class StreamingSimHashDedup:
    """Incremental SimHash near-dup detection — the streaming face of
    ops/dedup.simhash_pairs, same state-probe shape as
    StreamingMinHashDedup but lighter: the signature IS the verifier
    (hamming over two int64s), so the only state is the chunk table
    (id, simhash, chunk, chunk_val) — a few ints per doc per chunk,
    delta-log durable when state_dir is set.

    Exactly-once pairs for the same reason as MinHash: signatures are
    deterministic in the text, a pair collides in the same chunks
    whenever both members exist, and new-vs-old only pairs a new doc
    with strictly-older state. The union of all emitted pairs equals
    the one-shot batch simhash_pairs — the exact oracle
    cdc_streaming_simhash_dedup replays.
    """

    def __init__(self, spark, text_col: str, id_col: str,
                 max_hamming: int = 3, n_bits: int = 60,
                 state_dir: str | None = None,
                 broadcast_gate_bytes: int | None = None,
                 ts_col: str | None = None, retain: str | None = None,
                 prune_every: int = 8, state_buckets: int = 256):
        """ts_col/retain: bounded-recall mode, same contract as
        StreamingMinHashDedup (probe-side cutoff filter for emission
        correctness, amortized physical eviction for O(window) state).
        state_buckets: durable chunk-state bucket count — the state is
        bucketed BY THE CHUNK KEY so per-epoch probes read only matched
        buckets (see StreamingMinHashDedup)."""
        self.spark = spark
        self.text_col = text_col
        self.id_col = id_col
        self.max_hamming = max_hamming
        self.n_bits = n_bits
        self.gate = broadcast_gate_bytes
        if retain is not None and ts_col is None:
            raise ValueError("retain requires ts_col")
        self.ts_col = ts_col
        self.retain = retain
        self.prune_every = prune_every
        self._watermark = None
        self._batches = 0
        self._chunks = None  # ephemeral: (id, simhash, chunk, chunk_val[, __ts])
        self._seen = None    # durable: (id[, __ts])
        self._store = None
        self._prev_caches: list = []
        if state_dir is not None:
            from dozer_spark.streaming.incstate import (
                DiffStateTable,
                diff_state_path,
            )
            from dozer_spark.streaming.state import StateStore

            self._store = StateStore(spark, state_dir)
            _check_state_geometry(
                self._store, "ssh_geom",
                {"n_bits": self.n_bits, "max_hamming": self.max_hamming},
                "StreamingSimHashDedup",
            )
            self._chunktx = DiffStateTable(
                spark, diff_state_path(state_dir, "chunks"),
                key_cols=["__ck"], internal_key=True,
                bucket_cols=["chunk", "chunk_val"], n_buckets=state_buckets,
            )
            self._ids_tx = DiffStateTable(
                spark, diff_state_path(state_dir, "ssh_ids"),
                key_cols=[self.id_col],
            )
            if self._store.epoch > 0:
                ids_meta = self._store.load_meta("ssh_ids_txv")
                if ids_meta is None:
                    raise ValueError(
                        "StreamingSimHashDedup: durable state at "
                        f"{state_dir!r} predates the bucketed-probe "
                        "layout (no ssh_ids state); delete the state "
                        "dir to rebuild"
                    )
                self._seen = self._ids_tx.read_committed(ids_meta)
                # restore the chunk log position for pruned probe reads
                self._chunktx.read_committed(
                    self._store.load_meta("chunks_txv"))
                wm = self._store.load_meta("ssh_wm")
                if wm and wm.get("wm") is not None:
                    import datetime as _dt

                    self._watermark = _dt.datetime.fromisoformat(wm["wm"])
                self._batches = self._store.epoch

    def process_batch(self, docs: DataFrame) -> DataFrame:
        """Pairs (id_a, id_b, hamming) newly discoverable this batch."""
        from pyspark.sql import functions as F

        from dozer_spark.ops.dedup import (
            _blocked_self_join_pairs,
            simhash,
        )
        from dozer_spark.streaming.changelog import row_digest

        from dozer_spark.ops.dedup import simhash_chunk_table

        for df in self._prev_caches:
            df.unpersist()
        self._prev_caches = []

        from dozer_spark.operators.hints import maybe_broadcast

        # re-delivery idempotence: skip ids already indexed (same
        # contract as StreamingMinHashDedup). Durable mode checks the
        # slim per-id table; ephemeral projects the chunk frame.
        docs = docs.dropDuplicates([self.id_col])
        if self._store is not None:
            if self._seen is not None:
                docs = docs.join(
                    self._seen.select(self.id_col), self.id_col, "left_anti")
        elif self._chunks is not None:
            docs = docs.join(
                self._chunks.select(self.id_col).distinct(),
                self.id_col, "left_anti",
            )

        # bounded-recall window (see StreamingMinHashDedup)
        cutoff = None
        if self.retain is not None:
            mx = docs.agg(F.max(self.ts_col)).first()[0]
            if mx is not None and (self._watermark is None
                                   or mx > self._watermark):
                self._watermark = mx
            if self._watermark is not None:
                cutoff = (F.lit(self._watermark)
                          - F.expr(f"INTERVAL {self.retain}"))
                docs = docs.filter(F.col(self.ts_col) >= cutoff)

        sigs = simhash(docs, self.text_col, self.id_col, self.n_bits).persist()
        # chunk geometry is the batch code (shared helper)
        chunks_new = simhash_chunk_table(
            sigs, self.id_col, self.n_bits, self.max_hamming
        )
        if self.retain is not None:
            chunks_new = chunks_new.join(
                maybe_broadcast(
                    docs.select(F.col(self.id_col),
                                F.col(self.ts_col).alias("__ts")),
                    self.gate,
                ),
                self.id_col,
            )
        chunks_new = chunks_new.persist()

        cand = _blocked_self_join_pairs(
            chunks_new, ["chunk", "chunk_val"], self.id_col,
            hot_cap=4096, broadcast_gate_bytes=self.gate,
            carry=(("sig_a", "sig_b", "simhash"),),
        )
        # new-vs-old probe: durable state reads only the buckets the
        # batch's chunk keys hash to; batch side broadcast under the
        # gate (see StreamingMinHashDedup)
        old_chunks = None
        if self._store is not None:
            if self._batches > 0:
                bids = self._chunktx.touched_bucket_ids(
                    chunks_new.select("chunk", "chunk_val"))
                old_chunks = self._chunktx.read_live_pruned(bids)
        else:
            old_chunks = self._chunks
        if old_chunks is not None and cutoff is not None:
            old_chunks = old_chunks.filter(F.col("__ts") >= cutoff)
        if old_chunks is not None:
            a = maybe_broadcast(chunks_new, self.gate).alias("a")
            o = old_chunks.alias("b")
            aid, bid = F.col(f"a.{self.id_col}"), F.col(f"b.{self.id_col}")
            # canonical orientation: sig_a belongs to the smaller id,
            # whichever side it arrived on
            no = (
                a.join(o, ["chunk", "chunk_val"])
                .filter(aid != bid)
                .select(
                    F.least(aid, bid).alias("id_a"),
                    F.greatest(aid, bid).alias("id_b"),
                    F.when(aid < bid, F.col("a.simhash"))
                    .otherwise(F.col("b.simhash")).alias("sig_a"),
                    F.when(aid < bid, F.col("b.simhash"))
                    .otherwise(F.col("a.simhash")).alias("sig_b"),
                )
            )
            # one distinct over the union (see StreamingMinHashDedup)
            cand = cand.unionByName(no).distinct()

        pairs = (
            cand.withColumn(
                "hamming",
                F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                .cast("long"),
            )
            .filter(F.col("hamming") <= self.max_hamming)
            .select("id_a", "id_b", "hamming")
            .localCheckpoint(eager=False)
        )

        do_prune = (
            self.retain is not None and cutoff is not None
            and self._batches > 0
            and self._batches % self.prune_every == self.prune_every - 1
        )
        if self._store is not None:
            epoch = self._store.epoch + 1
            delta = chunks_new.withColumn(
                "__ck", row_digest(["chunk", "chunk_val", self.id_col])
            ).withColumn("__del", F.lit(False))
            id_cols = [self.id_col] + (
                ["__ts"] if self.retain is not None else [])
            ids_delta = (
                sigs.select(self.id_col)
                if self.retain is None else
                sigs.join(
                    docs.select(F.col(self.id_col),
                                F.col(self.ts_col).alias("__ts")),
                    self.id_col,
                ).select(*id_cols)
            ).withColumn("__del", F.lit(False))
            if do_prune:
                # the one full-state read, amortized every prune_every
                # epochs — never on the probe path
                delta = delta.unionByName(
                    self._chunktx.read_live().filter(F.col("__ts") < cutoff)
                    .withColumn("__ck", row_digest(
                        ["chunk", "chunk_val", self.id_col]))
                    .withColumn("__del", F.lit(True))
                )
                ids_delta = ids_delta.unionByName(
                    self._seen.filter(F.col("__ts") < cutoff)
                    .withColumn("__del", F.lit(True))
                )
            meta = self._chunktx.advance(delta, epoch=epoch,
                                         app_id="ssh_chunks",
                                         fresh_keys=not do_prune)
            ids_meta = self._ids_tx.advance(ids_delta, epoch=epoch,
                                            app_id="ssh_ids",
                                            fresh_keys=not do_prune)
            self._store.stage_meta("chunks_txv", meta)
            self._store.stage_meta("ssh_ids_txv", ids_meta)
            self._store.stage_meta(
                "ssh_geom",
                {"n_bits": self.n_bits, "max_hamming": self.max_hamming},
            )
            if self.retain is not None:
                self._store.stage_meta(
                    "ssh_wm",
                    {"wm": self._watermark.isoformat()
                     if self._watermark is not None else None},
                )
            self._seen = self._ids_tx.read_live()
            self._store.commit()
        else:
            # append-only ephemeral state: checkpoint just the new rows,
            # union lazily (see StreamingMinHashDedup)
            c_ck = chunks_new.localCheckpoint(eager=True)
            self._chunks = (c_ck if self._chunks is None
                            else self._chunks.unionByName(c_ck))
            if do_prune:
                self._chunks = self._chunks.filter(
                    F.col("__ts") >= cutoff
                ).localCheckpoint(eager=True)
        self._batches += 1
        self._prev_caches = [sigs, chunks_new]
        return pairs


class StreamingClusters:
    """Incrementally maintained connected components over a stream of
    near-dup pairs — the keep-one-per-cluster step running continuously
    (the downstream consumer of StreamingMinHashDedup /
    StreamingSimHashDedup output).

    State = the label table (id, cluster_id), PK-keyed delta-log when
    durable. Per batch of new edges, only the AFFECTED components are
    recomputed:

    1. affected labels = labels of the new edges' endpoints;
    2. the members of those components are pulled from state and
       contracted to STAR edges (member — cluster_id): the cluster id
       is the component's min id, hence itself a member, so the star
       exactly preserves prior intra-component connectivity without
       storing any historical edges;
    3. min-label propagation runs over new edges + star edges — a
       subgraph bounded by the touched components, not the corpus;
    4. the resulting labels upsert into state (O(affected) epoch IO).

    Labels converge to the min id of each component across all batches,
    so the final state equals the one-shot batch connected components
    over the union of all edges — the exact (recursive-CTE) oracle
    cdc_streaming_dedup_clusters replays.
    """

    def __init__(self, spark, state_dir: str | None = None):
        self.spark = spark
        self._labels = None  # (id, cluster_id)
        self._store = None
        if state_dir is not None:
            from dozer_spark.streaming.incstate import (
                DiffStateTable,
                diff_state_path,
            )
            from dozer_spark.streaming.state import StateStore

            self._store = StateStore(spark, state_dir)
            self._tx = DiffStateTable(
                spark, diff_state_path(state_dir, "labels"),
                key_cols=["id"],
            )
            if self._store.epoch > 0:
                self._labels = self._tx.read_committed(
                    self._store.load_meta("labels_txv"))

    def process_batch(self, pairs: DataFrame,
                      id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
        """Consume a batch of undirected near-dup pairs; returns the
        updated labels of every node in an affected component."""
        from pyspark.sql import functions as F

        from dozer_spark.operators.hints import maybe_broadcast
        from dozer_spark.ops.dedup import dedup_clusters

        new_edges = pairs.select(
            F.col(id_a).alias("id_a"), F.col(id_b).alias("id_b")
        ).distinct().localCheckpoint(eager=True)

        sub_edges = new_edges
        if self._labels is not None:
            touched = (
                new_edges.select(F.col("id_a").alias("id"))
                .unionByName(new_edges.select(F.col("id_b").alias("id")))
                .distinct()
            )
            # labels of the touched nodes -> every member of those
            # components (the affected-label set is batch-bounded, so
            # the membership probe is a gated-broadcast semi-join)
            aff_labels = (
                self._labels.join(maybe_broadcast(touched), "id")
                .select("cluster_id").distinct()
            )
            members = self._labels.join(
                maybe_broadcast(aff_labels), "cluster_id"
            )
            stars = members.filter(
                F.col("id") != F.col("cluster_id")
            ).select(
                F.col("cluster_id").alias("id_a"), F.col("id").alias("id_b")
            )
            sub_edges = new_edges.unionByName(stars)

        updated = dedup_clusters(sub_edges).localCheckpoint(eager=True)

        if self._store is not None:
            meta = self._tx.advance(
                updated.withColumn("__del", F.lit(False)),
                epoch=self._store.epoch + 1, app_id="cc_labels",
            )
            self._store.stage_meta("labels_txv", meta)
            self._labels = self._tx.read_live()
            self._store.commit()
        else:
            merged = (
                updated if self._labels is None
                else self._labels.join(
                    updated.select("id"), "id", "left_anti"
                ).unionByName(updated)
            )
            self._labels = merged.localCheckpoint(eager=True)
        return updated

    def current(self) -> DataFrame:
        if self._labels is None:
            raise ValueError("no batches processed yet")
        return self._labels
