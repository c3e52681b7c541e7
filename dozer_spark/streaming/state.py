"""Durable operator state: the epoch manifest.

The reference checkpoints every stateful node per epoch and can resume a
pipeline from the last committed epoch (dozer-core/src/node.rs:61-67,
checkpoint.rs / checkpoint_ns.rs: state is serialized on commit, restored
on restart). The operator states themselves live in DiffStateTables
(incstate.py); `StateStore` is the epoch authority that binds them:

- during process_batch an operator STAGES small JSON meta entries
  (`stage_meta`) — its DiffStateTable log positions, index geometry,
  scalar counters;
- `commit` publishes every staged entry as epoch+1 with a single atomic
  manifest replace (`os.replace` of MANIFEST.json) — the exact
  epoch-commit contract of the reference: a crash mid-batch leaves the
  manifest at the previous epoch and the batch replays cleanly;
- `load_meta` after a restart reads the committed entries, so a NEW
  operator instance (new driver, new session) resumes where the old one
  stopped.

`EventTimeRetention` is the watermark side of the same contract: the
operators with a retention window (TemporalEnrich, the near-dup streams)
share its watermark advance, cutoff and prune schedule, and stage the
watermark with `stage_watermark` so a resume restores it.

On a real cluster `root` lives on the shared filesystem (HDFS/S3 via a
committer, or swap the manifest for a Delta transaction log); the
single-writer assumption matches the reference (one process owns a
pipeline's state).
"""

from __future__ import annotations

import datetime
import json
import os

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

MANIFEST = "MANIFEST.json"


class EventTimeRetention:
    """Bounded-recall bookkeeping of the operators that take retain and
    prune_every (TemporalEnrich, the near-dup streams): the event-time
    watermark (the max event time seen), the retention cutoff behind it,
    and the amortized physical-prune schedule. The operator holds
    `retain`, `prune_every`, `_watermark` and `_batches` (0-based count
    of processed batches)."""

    def _advance_watermark(self, rows, ts_col: str) -> None:
        mx = rows.agg(F.max(ts_col)).first()[0]
        if mx is not None and (self._watermark is None
                               or mx > self._watermark):
            self._watermark = mx

    def _cutoff(self) -> Column:
        """Rows older than this have left the window."""
        return F.lit(self._watermark) - F.expr(f"INTERVAL {self.retain}")

    def _prune_due(self) -> bool:
        """The last batch of every prune_every-batch cycle prunes."""
        return self._batches % self.prune_every == self.prune_every - 1


class StateStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._staged: dict[str, dict] = {}
        m = self._read_manifest()
        self.epoch: int = m["epoch"] if m else 0
        self._committed: dict[str, dict] = dict(m["states"]) if m else {}

    # -- manifest ------------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def _read_manifest(self) -> dict | None:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def commit(self) -> int:
        """Atomically publish every entry staged since the last commit as
        epoch+1. Entries not staged this epoch keep their prior value."""
        states = dict(self._committed)
        states.update(self._staged)
        new_epoch = self.epoch + 1
        manifest = {"epoch": new_epoch, "states": states}
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())  # the commit point
        self.epoch = new_epoch
        self._committed = states
        self._staged = {}
        return new_epoch

    def stage_meta(self, name: str, meta: dict) -> None:
        """Stage a small JSON metadata entry published atomically with
        the epoch — e.g. the DiffStateTable version bound to this commit
        (the crash-rewind anchor, see incstate.py)."""
        self._staged[name] = {"meta": meta}

    def load_meta(self, name: str) -> dict | None:
        """Committed meta entry by name, or None if never committed."""
        entry = self._committed.get(name)
        if entry is None:
            return None
        return entry.get("meta")

    def stage_watermark(self, name: str, wm) -> None:
        """Stage an event-time watermark (a datetime or None)."""
        self.stage_meta(name, {"wm": wm.isoformat() if wm is not None
                               else None})

    def load_watermark(self, name: str):
        """The committed watermark staged under name, or None."""
        wm = self.load_meta(name)
        if wm and wm.get("wm") is not None:
            return datetime.datetime.fromisoformat(wm["wm"])
        return None
