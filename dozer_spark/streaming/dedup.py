"""Streaming deduplication.

- streaming_exact_dedup: native dropDuplicatesWithinWatermark — exact
  dedup over an unbounded stream with bounded state (the watermark
  bounds how long a key is remembered). This is the streaming face of
  ops/dedup.exact_dedup.
- Near-dup streams (StreamingMinHashDedup, StreamingSimHashDedup here,
  streaming/fuzzy.StreamingFuzzyIndex) check each micro-batch against
  everything indexed before it without recomputing old signatures. They
  share one probe-key loop, `_ProbeKeyStream`; a subclass supplies only
  the batch's probe-key explode (MinHash bands, SimHash chunks, fuzzy
  deletion variants — the same helpers the batch ops use, so streaming
  output cannot drift from its batch oracle), the carried columns and
  the verify step. Per batch:

  1. admit: drop within-batch duplicate ids and ids already indexed
     (at-least-once sources re-deliver; ids are immutable identities,
     first write wins);
  2. bounded recall (ts_col/retain): advance the watermark to the max
     ts seen and drop rows older than watermark - retain — they could
     never pair;
  3. new-vs-new pairs through the batch self-join
     (`ops.dedup._blocked_self_join_pairs`: skew probe and hot-key
     fragment split, so a pathological batch is handled like a
     pathological corpus);
  4. new-vs-old pairs through one equi-join of the batch's probe keys
     with the state's, canonically oriented (id_a < id_b, carried
     columns from the matching side). Durable state is bucketed by the
     probe key and read only in the buckets the batch's keys hash to
     (`DiffStateTable.read_live_pruned`), so the probe costs O(matched
     buckets), not O(state), and the batch side broadcasts under the
     size gate so the state side is a pruned scan with no shuffle;
  5. verify each candidate exactly (Jaccard, hamming, levenshtein);
  6. advance state: the batch's probe keys and a per-id table (the
     seen-id filter of step 1; MinHash keeps its token-hash sets there
     for verify). Durable state is two delta-log DiffStateTables
     (O(batch) epoch IO) committed with the watermark and the geometry;
     ephemeral state is an append-only union of checkpointed batches.

  A pair is emitted exactly once — in the epoch its later member first
  arrives — because keys are deterministic in the row and old ids are
  skipped, so the union of all emitted pairs equals the batch op over
  the whole corpus: the oracle the cdc_streaming_* queries replay. With
  retain set, a pair is emitted only when both members are inside the
  window at the later member's arrival; correctness comes from the
  probe-side cutoff filter, and the physical prune of out-of-window
  state is amortized over prune_every batches, so state is O(window).
  Re-delivery idempotence then holds within the window (a row re-sent
  after its state was pruned re-enters as new), the same bounded-state
  tradeoff as Spark's dropDuplicatesWithinWatermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dozer_spark.streaming.state import EventTimeRetention, StateStore


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


class _ProbeKeyStream(EventTimeRetention):
    """The near-dup loop of the module docstring. Subclasses set the
    class spec below and implement `_geom`, `_explode`, `_id_rows` and
    `_verify`.

    Durable state (state_dir) is two DiffStateTables under one
    StateStore: the probe-key table `_keytx`, keyed by a digest of
    (probe key, id) and hash-bucketed by the probe key into
    state_buckets dirs (the probe-prune granularity and the
    deployment's parallelism lever; a resumed state keeps the count it
    was built with), and the per-id table `_ids_tx`, whose live frame is
    `_seen`. Ephemeral state is `_keys`, plus `_seen` when the verify
    step reads it (`_IDS_IN_MEMORY`); without it the seen-id filter
    projects `_keys`."""

    _KEYS: tuple[str, ...]       # probe-key columns = state bucket columns
    _DIGEST: str                 # probe-key state's digest key column
    _STATE: tuple[str, str]      # state dir names: probe keys, per-id
    _APPS: tuple[str, str]       # advance app ids: probe keys, per-id
    _TXV: tuple[str, str]        # meta keys of the two log positions
    _META: str                   # prefix of the geometry/watermark meta keys
    _CARRY: tuple[tuple[str, str, str], ...] = ()  # (out_a, out_b, src)
    _pair_pred: str | None = None  # extra pair predicate, aliases a/b
    _IDS_IN_MEMORY = False
    _ROW_ID: str | None = None   # id/ts column names in the admitted rows
    _ROW_TS: str | None = None   # (default: id_col / ts_col)

    def __init__(self, spark, id_col: str, state_dir: str | None,
                 broadcast_gate_bytes: int | None, ts_col: str | None,
                 retain: str | None, prune_every: int, state_buckets: int):
        if retain is not None and ts_col is None:
            raise ValueError("retain requires ts_col")
        self.spark = spark
        self.id_col = id_col
        self.gate = broadcast_gate_bytes
        self.ts_col = ts_col
        self.retain = retain
        self.prune_every = prune_every
        self._id = self._ROW_ID or id_col
        self._ts = self._ROW_TS or ts_col
        self._watermark = None
        self._batches = 0
        self._keys = None
        self._seen = None
        self._store = None
        self._prev_caches: list = []
        if state_dir is None:
            return
        from dozer_spark.streaming.incstate import (
            DiffStateTable,
            diff_state_path,
        )

        name = type(self).__name__
        self._store = StateStore(spark, state_dir)
        _check_state_geometry(self._store, f"{self._META}_geom",
                              self._geom(), name)
        self._keytx = DiffStateTable(
            spark, diff_state_path(state_dir, self._STATE[0]),
            key_cols=[self._DIGEST], internal_key=True,
            bucket_cols=list(self._KEYS), n_buckets=state_buckets,
        )
        self._ids_tx = DiffStateTable(
            spark, diff_state_path(state_dir, self._STATE[1]),
            key_cols=[self._id],
        )
        if self._store.epoch == 0:
            return
        ids_meta = self._store.load_meta(self._TXV[1])
        if ids_meta is None:
            raise ValueError(
                f"{name}: durable state at {state_dir!r} "
                "predates the bucketed-probe layout "
                f"(no {self._STATE[1]} state); delete the state dir to rebuild"
            )
        self._seen = self._ids_tx.read_committed(ids_meta)
        # restores the probe-key log position for the pruned probe
        # reads; the probe-key frame itself is never held
        self._keytx.read_committed(self._store.load_meta(self._TXV[0]))
        self._watermark = self._store.load_watermark(f"{self._META}_wm")
        self._batches = self._store.epoch

    # -- subclass hooks --------------------------------------------------------

    def _geom(self) -> dict:
        """The geometry the probe keys are a function of."""
        raise NotImplementedError

    def _admit(self, rows: DataFrame) -> DataFrame:
        """Project the raw batch to the rows the stream indexes."""
        return rows

    def _explode(self, rows: DataFrame):
        """(sigs, keys): the batch's persisted per-row signature frame
        (or None) and its persisted probe-key rows (id, _KEYS, carried
        sources[, __ts])."""
        raise NotImplementedError

    def _id_rows(self, sigs, rows: DataFrame) -> DataFrame:
        """The batch's rows of the per-id table (id, payload[, __ts])."""
        raise NotImplementedError

    def _verify(self, cand: DataFrame, sigs) -> DataFrame:
        """Exact check of the candidate pairs -> the output pairs."""
        raise NotImplementedError

    def _with_ts(self, df: DataFrame, rows: DataFrame) -> DataFrame:
        """df plus each id's event time as __ts (retention mode only)."""
        from dozer_spark.operators.hints import maybe_broadcast

        if self.retain is None:
            return df
        ts_map = rows.select(F.col(self._id), F.col(self._ts).alias("__ts"))
        return df.join(maybe_broadcast(ts_map, self.gate), self._id)

    # -- the loop --------------------------------------------------------------

    def process_batch(self, rows: DataFrame) -> DataFrame:
        """Pairs newly discoverable with this batch: within-batch pairs
        plus batch-vs-state pairs."""
        from dozer_spark.ops.dedup import _blocked_self_join_pairs

        for df in self._prev_caches:
            df.unpersist()
        self._prev_caches = []

        rows = self._admit(rows).dropDuplicates([self._id])
        seen = self._seen if self._seen is not None else self._keys
        if seen is not None:
            rows = rows.join(seen.select(self._id), self._id, "left_anti")

        cutoff = None
        if self.retain is not None:
            self._advance_watermark(rows, self._ts)
            if self._watermark is not None:
                cutoff = self._cutoff()
                rows = rows.filter(F.col(self._ts) >= cutoff)

        sigs, keys_new = self._explode(rows)
        cand = _blocked_self_join_pairs(
            keys_new, list(self._KEYS), self._id, hot_cap=4096,
            broadcast_gate_bytes=self.gate, extra_pred=self._pair_pred,
            carry=self._CARRY,
        )
        old = None
        if self._store is not None:
            if self._batches > 0:
                old = self._keytx.read_live_pruned(
                    self._keytx.touched_bucket_ids(
                        keys_new.select(*self._KEYS)))
        else:
            old = self._keys
        if old is not None:
            if cutoff is not None:
                old = old.filter(F.col("__ts") >= cutoff)
            # one distinct over the union: the carried columns are
            # functions of the ids, so it is a per-pair dedup
            cand = cand.unionByName(self._probe(keys_new, old)).distinct()
        # Callers act on the pairs after the next epoch has unpersisted
        # this batch's caches and advanced the state, and often more
        # than once (count, then collect). The checkpoint runs every
        # shuffle stage of the pair plan here (AQE executes the query
        # stages when the plan is executed; eager=False defers only the
        # last stage to the first action) and keeps the result, so no
        # action re-runs the joins against changed inputs.
        pairs = self._verify(cand, sigs).localCheckpoint(eager=False)

        # the amortized physical prune (correctness never depends on
        # it: the probe filters by cutoff)
        do_prune = (cutoff is not None and self._batches > 0
                    and self._prune_due())
        if self._store is not None:
            self._commit(keys_new, self._id_rows(sigs, rows), cutoff,
                         do_prune)
        else:
            # append-only: checkpoint only the new rows (O(batch)) and
            # extend the union lazily. Plan depth grows with the batch
            # count, so ephemeral mode is for tests and oracle replays;
            # long-running deployments use state_dir (flat plans).
            self._keys = _append(self._keys, keys_new)
            if self._IDS_IN_MEMORY:
                self._seen = _append(self._seen, self._id_rows(sigs, rows))
            if do_prune:
                self._keys = _in_window(self._keys, cutoff)
                if self._seen is not None:
                    self._seen = _in_window(self._seen, cutoff)
        self._batches += 1
        self._prev_caches = [df for df in (sigs, keys_new) if df is not None]
        return pairs

    def _probe(self, keys_new: DataFrame, old: DataFrame) -> DataFrame:
        """New-vs-old candidates, oriented like the batch self-join."""
        from dozer_spark.operators.hints import maybe_broadcast

        # pin the BATCH side to a broadcast when it clears the gate: the
        # state side then streams through a hash probe with no shuffle
        # and no sort. A too-big batch gets a sort-merge join instead:
        # the probe keys are an explode output, whose fan-out Catalyst
        # cannot see, so left unhinted it could be under-sized and
        # wrongly broadcast at scale (SMJ spills where a hash relation
        # cannot); the state side still broadcasts if it clears the gate.
        pinned = maybe_broadcast(keys_new, self.gate)
        if pinned is keys_new:
            a, b = keys_new.hint("merge"), maybe_broadcast(old, self.gate)
        else:
            a, b = pinned, old
        aid, bid = F.col(f"a.{self._id}"), F.col(f"b.{self._id}")
        no = (a.alias("a").join(b.alias("b"), list(self._KEYS))
              .filter(aid != bid))
        if self._pair_pred is not None:
            no = no.filter(self._pair_pred)
        out = [F.least(aid, bid).alias("id_a"),
               F.greatest(aid, bid).alias("id_b")]
        for out_a, out_b, src in self._CARRY:
            sa, sb = F.col(f"a.{src}"), F.col(f"b.{src}")
            out += [F.when(aid < bid, sa).otherwise(sb).alias(out_a),
                    F.when(aid < bid, sb).otherwise(sa).alias(out_b)]
        return no.select(*out)

    def _commit(self, keys_new: DataFrame, ids_new: DataFrame, cutoff,
                do_prune: bool) -> None:
        """One durable epoch: both tables' deltas, then the commit."""
        from concurrent.futures import ThreadPoolExecutor

        from dozer_spark.streaming.changelog import row_digest

        digest = row_digest([*self._KEYS, self._id])
        keys_delta = (keys_new.withColumn(self._DIGEST, digest)
                      .withColumn("__del", F.lit(False)))
        ids_delta = ids_new.withColumn("__del", F.lit(False))
        if do_prune:
            # tombstones never collide with this batch's inserts (new
            # rows are inside the window, pruned ones are not). This
            # full-state read is the design's one state-sized scan, paid
            # every prune_every epochs, never on the probe path.
            keys_delta = keys_delta.unionByName(
                self._keytx.read_live().filter(F.col("__ts") < cutoff)
                .withColumn(self._DIGEST, digest)
                .withColumn("__del", F.lit(True))
            )
            ids_delta = ids_delta.unionByName(
                self._seen.filter(F.col("__ts") < cutoff)
                .withColumn("__del", F.lit(True))
            )
        epoch = self._store.epoch + 1
        # independent dirs: submit both delta appends at once so the
        # epoch pays one write job's wall-clock, not two in sequence
        deltas = ((self._keytx, keys_delta), (self._ids_tx, ids_delta))
        with ThreadPoolExecutor(2) as ex:
            futs = [ex.submit(tx.advance, delta, epoch, app, not do_prune)
                    for (tx, delta), app in zip(deltas, self._APPS)]
            metas = [f.result() for f in futs]
        for key, meta in zip(self._TXV, metas):
            self._store.stage_meta(key, meta)
        self._store.stage_meta(f"{self._META}_geom", self._geom())
        if self.retain is not None:
            self._store.stage_watermark(f"{self._META}_wm", self._watermark)
        self._seen = self._ids_tx.read_live()
        self._store.commit()


def _append(state: DataFrame | None, new: DataFrame) -> DataFrame:
    ck = new.localCheckpoint(eager=True)
    return ck if state is None else state.unionByName(ck)


def _in_window(state: DataFrame, cutoff) -> DataFrame:
    return state.filter(F.col("__ts") >= cutoff).localCheckpoint(eager=True)


class StreamingMinHashDedup(_ProbeKeyStream):
    """Incremental MinHash near-dup detection: the streaming face of
    ops/dedup.minhash_lsh_pairs (the production shape of corpus dedup:
    ingest continuously, dedup on arrival).

    Probe keys are the LSH bands (id, sz, band, band_key); the per-id
    table holds the 60-bit token-hash sets (id, toksh) that exact
    Jaccard verifies on — both O(corpus) but tiny per doc (ints, not
    text). Candidate pairs pass the batch path's size-ratio prefilter.
    The union of all emitted pairs equals the batch `minhash_lsh_pairs`
    over the full corpus.
    """

    _KEYS = ("band", "band_key")
    _DIGEST = "__bk"
    _STATE = ("bands", "toks")
    _APPS = ("smh_bands", "smh_toks")
    _TXV = ("bands_txv", "toks_txv")
    _META = "mh"
    _IDS_IN_MEMORY = True

    _bandtx = property(lambda self: self._keytx)
    _toks = property(lambda self: self._seen)

    def __init__(self, spark, text_col: str, id_col: str,
                 threshold: float = 0.9, n_hashes: int | None = None,
                 n_bands: int | None = None, state_dir: str | None = None,
                 broadcast_gate_bytes: int | None = None,
                 ts_col: str | None = None, retain: str | None = None,
                 prune_every: int = 8, state_buckets: int = 256):
        """ts_col/retain enable bounded-recall mode and state_buckets
        sizes the durable probe-key state (module docstring)."""
        from dozer_spark.ops.dedup import minhash_geometry, minhash_size_pred

        self.text_col = text_col
        self.threshold = threshold
        # threshold-derived banding, same derivation as the batch path
        # (and therefore the oracle) — see minhash_geometry
        self.n_hashes, self.n_bands = minhash_geometry(
            threshold, n_hashes, n_bands)
        self._pair_pred = minhash_size_pred(threshold)
        super().__init__(spark, id_col, state_dir, broadcast_gate_bytes,
                         ts_col, retain, prune_every, state_buckets)

    def _geom(self) -> dict:
        return {"n_hashes": self.n_hashes, "n_bands": self.n_bands}

    def _explode(self, rows):
        from dozer_spark.ops.dedup import minhash_band_table, minhash_signatures

        sigs = minhash_signatures(
            rows, self.text_col, self.id_col, self.n_hashes
        ).drop("toks").persist()
        bands = minhash_band_table(sigs, self.id_col, self.n_hashes,
                                   self.n_bands)
        return sigs, self._with_ts(bands, rows).persist()

    def _id_rows(self, sigs, rows):
        return self._with_ts(sigs.select(self.id_col, "toksh"), rows)

    def _verify(self, cand, sigs):
        from dozer_spark.operators.hints import maybe_broadcast

        toks_all = sigs.select(self.id_col, "toksh")
        if self._seen is not None:
            # explicit projection: retention-mode state carries __ts
            toks_all = toks_all.unionByName(
                self._seen.select(self.id_col, "toksh"))
        side_a = toks_all.select(F.col(self.id_col).alias("id_a"),
                                 F.col("toksh").alias("toks_a"))
        side_b = toks_all.select(F.col(self.id_col).alias("id_b"),
                                 F.col("toksh").alias("toks_b"))
        return (
            cand.join(maybe_broadcast(side_a, self.gate), "id_a")
            .join(maybe_broadcast(side_b, self.gate), "id_b")
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
                / F.size(F.array_union("toks_a", "toks_b")).cast("double"),
            )
            .filter(F.col("jaccard") >= self.threshold)
            .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
        )


class StreamingSimHashDedup(_ProbeKeyStream):
    """Incremental SimHash near-dup detection: the streaming face of
    ops/dedup.simhash_pairs. Probe keys are the pigeonhole chunks (id,
    simhash, chunk, chunk_val); the signature is the verifier (hamming
    over two int64s carried through the join), so the per-id table is
    only the seen-id filter. The union of all emitted pairs equals the
    one-shot batch simhash_pairs.
    """

    _KEYS = ("chunk", "chunk_val")
    _DIGEST = "__ck"
    _STATE = ("chunks", "ssh_ids")
    _APPS = ("ssh_chunks", "ssh_ids")
    _TXV = ("chunks_txv", "ssh_ids_txv")
    _META = "ssh"
    _CARRY = (("sig_a", "sig_b", "simhash"),)

    _chunktx = property(lambda self: self._keytx)

    def __init__(self, spark, text_col: str, id_col: str,
                 max_hamming: int = 3, n_bits: int = 60,
                 state_dir: str | None = None,
                 broadcast_gate_bytes: int | None = None,
                 ts_col: str | None = None, retain: str | None = None,
                 prune_every: int = 8, state_buckets: int = 256):
        """ts_col/retain enable bounded-recall mode and state_buckets
        sizes the durable probe-key state (module docstring)."""
        self.text_col = text_col
        self.max_hamming = max_hamming
        self.n_bits = n_bits
        super().__init__(spark, id_col, state_dir, broadcast_gate_bytes,
                         ts_col, retain, prune_every, state_buckets)

    def _geom(self) -> dict:
        return {"n_bits": self.n_bits, "max_hamming": self.max_hamming}

    def _explode(self, rows):
        from dozer_spark.ops.dedup import simhash, simhash_chunk_table

        sigs = simhash(rows, self.text_col, self.id_col, self.n_bits).persist()
        chunks = simhash_chunk_table(sigs, self.id_col, self.n_bits,
                                     self.max_hamming)
        return sigs, self._with_ts(chunks, rows).persist()

    def _id_rows(self, sigs, rows):
        return self._with_ts(sigs.select(self.id_col), rows)

    def _verify(self, cand, sigs):
        return (
            cand.withColumn(
                "hamming",
                F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                .cast("long"),
            )
            .filter(F.col("hamming") <= self.max_hamming)
            .select("id_a", "id_b", "hamming")
        )


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
