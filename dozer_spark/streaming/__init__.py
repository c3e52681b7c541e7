"""Streaming / CDC mode: changelog-in/changelog-out semantics.

The reference's single most important contract (SURVEY.md intro): every
operator consumes a changelog of Insert/Update/Delete record operations
and emits a changelog (Operation enum, dozer-types/src/types/mod.rs:293-298).

Our encoding (FIXTURES.md section 7): a DataFrame with metadata columns
  __op   : 'I' | 'U' | 'D'   (U rows carry the NEW image)
  __txid : source transaction id   (OpIdentifier.txid, node.rs:81-86)
  __seq  : sequence within txid    (OpIdentifier.seq_in_tx)
plus the full row image. Old images for U/D are reconstructed by PK
lookup against accumulated state — exactly what the reference's
PrimaryKeyLookupRecordWriter does (dozer-core/src/record_store.rs:29-87).

Modules:
  changelog.py  snapshot materialization, changelog-aware filter/project
  windows.py    streaming tumble/hop aggregation with watermarks (=TTL)
  stateful.py   retraction-capable incremental GROUP BY (dirty-group
                recompute, mirroring aggregation/processor.rs semantics)
The epoch-committed MERGE sink is storage/txtable.py
(TransactionalTable.merge, foreach_batch_merge).
"""

from dozer_spark.streaming.changelog import (
    CHANGELOG_COLS,
    with_op,
    apply_changelog,
    changelog_filter,
    snapshot_diff,
)
from dozer_spark.streaming.windows import streaming_tumble_agg, streaming_hop_agg
from dozer_spark.streaming.stateful import RetractingAggregation
from dozer_spark.streaming.join import RetractingJoin
from dozer_spark.streaming.setops import RetractingUnion
from dozer_spark.streaming.native_join import stream_stream_join
from dozer_spark.streaming.custom_state import KeyedAccumulator
from dozer_spark.streaming.dedup import (
    streaming_exact_dedup,
    StreamingMinHashDedup,
    StreamingSimHashDedup,
    StreamingClusters,
)
from dozer_spark.streaming.enrich import TemporalEnrich
from dozer_spark.streaming.state import StateStore

__all__ = [
    "RetractingJoin",
    "RetractingUnion",
    "snapshot_diff",
    "CHANGELOG_COLS",
    "with_op",
    "apply_changelog",
    "changelog_filter",
    "streaming_tumble_agg",
    "streaming_hop_agg",
    "RetractingAggregation",
    "stream_stream_join",
    "KeyedAccumulator",
    "streaming_exact_dedup",
    "StreamingMinHashDedup",
    "StreamingSimHashDedup",
    "StreamingClusters",
    "TemporalEnrich",
    "StateStore",
]
