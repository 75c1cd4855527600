"""Checkpointed epoch replay: tail the change log, apply epoch batches
exactly-once, resume from any checkpoint.

Two fences protect against double-apply (reference analog:
delete-before-insert idempotency, ``priceforecasting/bigquery_handler.py:
216-225``, and the backfill loop ``pipeline_runner.py:112-146``):

1. the driver-side checkpoint file (fast skip without touching the table),
2. the table's committed-epoch registry (authoritative — survives a lost or
   stale checkpoint, e.g. a crash between table commit and checkpoint write:
   on resume the epoch is detected as committed and skipped, then the
   checkpoint is repaired).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..table.icehouse import IcehouseTable
from .apply import apply_changes_with_evolution


@dataclass
class EpochReport:
    epoch: int
    skipped: bool
    events: int
    events_applied: int
    deletes: int
    seconds: float
    version: int


@dataclass
class ReplayReport:
    epochs: list[EpochReport] = field(default_factory=list)
    total_events: int = 0
    total_seconds: float = 0.0

    @property
    def events_per_sec(self) -> float:
        return self.total_events / self.total_seconds if self.total_seconds else 0.0


class Checkpoint:
    """Atomic (write-temp + rename) JSON checkpoint: last committed epoch."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def read(self) -> int:
        try:
            with open(self.path) as fh:
                return int(json.load(fh)["last_epoch"])
        except (FileNotFoundError, ValueError, KeyError):
            return -1

    def write(self, epoch: int, table_version: int) -> None:
        tmp = f"{self.path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump({"last_epoch": epoch, "table_version": table_version}, fh)
        os.replace(tmp, self.path)


class ReplayRunner:
    """``mode="cow"`` merges each epoch copy-on-write (read-optimized table
    at all times); ``mode="mor"`` appends each epoch as merge-on-read deltas
    (write cost O(batch), reads resolve LWW at scan time) and folds them via
    :meth:`IcehouseTable.compact_partitions`, triggered by either policy:

    - ``compact_every=K``: schedule-based — fold ALL delta-bearing buckets
      every K applied epochs (simple, predictable maintenance windows);
    - ``compact_ratio=R`` (with ``compact_min_files``): amplification-based —
      after each epoch fold ONLY the buckets whose pending delta rows exceed
      R × their base rows (:meth:`IcehouseTable.buckets_needing_compaction`).
      Under a skewed (Zipfian) change feed this folds the hot buckets often
      and leaves cold buckets alone, bounding read amplification per bucket
      while keeping maintenance cost proportional to the offenders.

    Both may be combined; compaction is itself an atomic, conflict-checked
    commit, so a crash between appends and compaction loses nothing."""

    def __init__(
        self,
        table: IcehouseTable,
        checkpoint_path: str,
        mode: str = "cow",
        compact_every: int | None = None,
        compact_ratio: float | None = None,
        compact_min_files: int = 2,
    ):
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown apply mode {mode!r}")
        self.table = table
        self.checkpoint = Checkpoint(checkpoint_path)
        self.mode = mode
        self.compact_every = compact_every
        self.compact_ratio = compact_ratio
        self.compact_min_files = compact_min_files

    def run(
        self,
        change_log: DataFrame,
        epochs: list[int] | None = None,
        fail_after_commit_of: int | None = None,
    ) -> ReplayReport:
        """Replay epochs (ascending).  ``fail_after_commit_of`` simulates a
        crash between table commit and checkpoint write (resume-safety tests).

        The NEXT epoch's lineage/affected-partition stats scan runs in a
        background thread, overlapping the current epoch's merge+write.  The
        stats read only the change log (never table state), so prefetching
        is side-effect-free: the exactly-once fence still runs at apply
        time, and a prefetched result for a fenced epoch is just discarded.
        Hides one stats-job latency per epoch behind executor-busy time.
        """
        from concurrent.futures import ThreadPoolExecutor

        from .apply import batch_part_stats

        if epochs is None:
            epochs = sorted(
                r["epoch"] for r in change_log.select("epoch").distinct().collect()
            )
        start_after = self.checkpoint.read()
        report = ReplayReport()
        batches = {
            ep: change_log.where(F.col("epoch") == ep).drop("epoch") for ep in epochs
        }
        pool = ThreadPoolExecutor(max_workers=1)
        futures: dict[int, object] = {}
        try:
            for i, ep in enumerate(epochs):
                t0 = time.time()
                if ep <= start_after or self.table.epoch_committed(ep):
                    # exactly-once fence hit: repair the checkpoint if it lagged
                    if ep > start_after:
                        self.checkpoint.write(ep, self.table.version)
                    report.epochs.append(
                        EpochReport(ep, True, 0, 0, 0, time.time() - t0, self.table.version)
                    )
                    continue
                batch = batches[ep]
                if i + 1 < len(epochs):
                    nxt = epochs[i + 1]
                    # pin the bucket modulus AND key type at submit: the
                    # worker must not read either from the shared handle,
                    # which apply/compaction refresh concurrently (a
                    # mid-flight rebucket would give nondeterministically-
                    # keyed stats; the key type is immutable by contract —
                    # see overwrite_partitions — but resolving it here keeps
                    # the worker handle-read-free)
                    pinned = self.table.n_buckets
                    key_type = self.table.schema[self.table.key_col].dataType
                    futures[nxt] = (
                        pinned,
                        pool.submit(
                            batch_part_stats, self.table, batches[nxt], key_type, pinned
                        ),
                    )
                ent = futures.pop(ep, None)
                prefetched = None
                if ent is not None:
                    pinned, fut = ent
                    prefetched = fut.result()
                    if self.table.n_buckets != pinned:
                        prefetched = None  # spec evolved since submit — stale keys
                stats = apply_changes_with_evolution(
                    self.table, batch, epoch=ep,
                    part_stats=prefetched,
                    mode=self.mode,
                )
                if (
                    self.compact_every
                    and (i + 1) % self.compact_every == 0
                    and self.table.meta.get("deltas")
                ):
                    # fold only delta-bearing buckets: maintenance cost is
                    # proportional to pending-delta data, not table size
                    self.table.compact_partitions(batch.sparkSession, partitions="deltas")
                if self.compact_ratio is not None:
                    hot = self.table.buckets_needing_compaction(
                        self.compact_ratio, self.compact_min_files
                    )
                    if hot:
                        self.table.compact_partitions(batch.sparkSession, partitions=hot)
                if fail_after_commit_of is not None and ep == fail_after_commit_of:
                    raise RuntimeError(f"injected crash after committing epoch {ep}")
                self.checkpoint.write(ep, self.table.version)
                dt = time.time() - t0
                report.epochs.append(
                    EpochReport(
                        ep, stats.result.skipped, stats.events_in, stats.events_applied,
                        stats.deletes, dt, self.table.version,
                    )
                )
                report.total_events += stats.events_in
                report.total_seconds += dt
        finally:
            pool.shutdown(wait=False, cancel_futures=True)
        return report
