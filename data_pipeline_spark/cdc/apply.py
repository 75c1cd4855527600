"""Last-writer-wins merge-apply: change-log batch → icehouse upsert.

The core operator of the engine.  Semantics (generalizing the reference's
LWW dedup, ``anomaly_detection/big_query/extraction.py:74-87`` — sort by
surrogate id desc, keep first per key — and its MERGE upsert,
``product_categorization/big_query/data_store.py:42-86``):

1. reduce the batch to the **latest event per doc_id by LSN** (ties impossible
   by construction except verbatim duplicate delivery, which is idempotent),
2. tombstone semantics: latest op 'D' deletes the row; an earlier 'D' is
   superseded by any later I/U (delete-then-reinsert works),
3. merge into the table: only bucket partitions containing changed keys are
   read + rewritten (partition-level COW), everything else carries over.

Scale notes (the 100-TB story):

- LWW reduction uses ``groupBy(doc_id).agg(max_by(payload, lsn))`` rather than
  a window + row_number.  ``max_by`` is a declarative aggregate with **partial
  (map-side) aggregation**: a hot doc_id with millions of events is pre-reduced
  to one row per map task before the shuffle, so hot keys cost O(#tasks), not
  O(#events), at the reducer.  A window function would hash ALL events of the
  hot key to one task — the exact skew failure the salted splitter (skew.py)
  exists to fix for operators that can't partially aggregate.
- The anti-join side (base rows that survive) joins base-partition data against
  only the changed keys; the changed-key set per epoch is typically small, so
  Spark/AQE broadcasts it — no shuffle of the base table at all.
- Writes touch only affected buckets: an epoch touching 3% of keys rewrites
  ~3% of data files.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import SMALL_BATCH_ROWS
from ..table.exprs import col as qcol
from ..table.exprs import conform, lww_resolve, quote
from ..table.icehouse import (
    DELETED_COL,
    LSN_COL,
    PART_COL,
    CommitConflictError,
    CommitResult,
    ConcurrentCommitError,
    IcehouseTable,
)


def lww_latest(changes: DataFrame, key: str = "doc_id", order: str = "lsn") -> DataFrame:
    """Latest event per key by ``order`` — skew-resistant two-phase aggregate.

    Equivalent to ``row_number() OVER (PARTITION BY key ORDER BY order DESC)=1``
    but with map-side combine (see module docstring).
    """
    return lww_resolve(changes, key, quote(order))


def _conform_batch(changes: DataFrame, target_schema: T.StructType) -> DataFrame:
    """The change batch as ``(lsn, op, *target_schema)``: payload columns
    cast where their type differs, missing ones NULL."""
    s = changes.schema
    return conform(changes, T.StructType([s["lsn"], s["op"], *target_schema.fields]))


def _batch_norm(latest: DataFrame, logical_cols: list[str], *extra: str) -> DataFrame:
    """LWW-reduced batch rows in stored form: the logical columns, the
    event's LSN as ``_lsn`` and ``op = 'D'`` as ``_deleted``, then the SQL
    expressions in ``extra``."""
    return latest.selectExpr(
        *[quote(c) for c in logical_cols],
        f"`lsn` AS {quote(LSN_COL)}",
        f"(`op` = 'D') AS {quote(DELETED_COL)}",
        *extra,
    )


def lww_latest_window(changes: DataFrame, key: str = "doc_id", order: str = "lsn") -> DataFrame:
    """Window-function variant (single-shuffle but hot-key-prone; kept for
    equivalence testing and as the pattern for order-sensitive variants)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.col(order).desc())
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


@dataclass
class ApplyStats:
    result: CommitResult
    events_in: int
    events_applied: int
    deletes: int

    @property
    def cas_retries(self) -> int:
        """CAS races this apply's commit lost before landing (0 = first
        try) — the contention counter a multi-writer deployment aggregates
        (see tools/bench_concurrent.py)."""
        return self.result.cas_retries


def batch_part_stats(
    table: IcehouseTable, changes: DataFrame, key_type=None, n_buckets: int | None = None
) -> dict[int, dict]:
    """Per-bucket event stats of a raw change batch (lineage + affected-
    partition discovery): one columnar scan with map-side partial
    aggregation over (lsn, op, key) only.

    Exposed separately so callers can OVERLAP this job with the previous
    epoch's merge+write (ReplayRunner prefetches the next epoch's stats
    while the current epoch commits — the stats depend only on the change
    log, never on table state).  The key is cast to the table's key type
    first so the bucket hash matches the conformed merge exactly.
    """
    key = table.key_col
    key_type = key_type or table.schema[key].dataType
    s = changes.schema
    rows = (
        conform(changes, T.StructType([s["lsn"], s["op"], T.StructField(key, key_type)]))
        .withColumn(PART_COL, table.bucket_expr(n_buckets=n_buckets))
        .groupBy(qcol(PART_COL))
        .agg(
            F.expr("min(`lsn`) AS lsn_min"),
            F.expr("max(`lsn`) AS lsn_max"),
            F.expr("sum(CASE WHEN `op` = 'D' THEN 1 ELSE 0 END) AS events_deleted"),
            F.expr("sum(CASE WHEN `op` != 'D' THEN 1 ELSE 0 END) AS events_upserted"),
        )
        .collect()
    )
    return {int(r[PART_COL]): r.asDict() for r in rows}


def local_part_stats(table: IcehouseTable, rows) -> dict[int, dict] | None:
    """Driver-side twin of :func:`batch_part_stats` for a change batch the
    caller already holds: ``rows`` are ``(lsn, op, key)`` tuples, bucketed
    with the xxhash64 twin (``functions/keys.py:bucket_for_key``) — no
    Spark job.  Returns ``None`` when a key has no driver-side hash (an
    unsupported key type, or a NULL key); the caller then falls back to
    :func:`batch_part_stats`.  Counting follows the Spark aggregate: an
    ``op`` of ``'D'`` is a delete, any other non-NULL op an upsert."""
    from ..functions.keys import bucket_for_key

    tname = table.schema[table.key_col].dataType.simpleString()
    out: dict[int, dict] = {}
    for lsn, op, key in rows:
        try:
            b = bucket_for_key(key, tname, table.n_buckets)
        except TypeError:
            return None
        s = out.get(b)
        if s is None:
            s = out[b] = {
                PART_COL: b, "lsn_min": lsn, "lsn_max": lsn,
                "events_deleted": 0, "events_upserted": 0,
            }
        else:
            s["lsn_min"] = min(s["lsn_min"], lsn)
            s["lsn_max"] = max(s["lsn_max"], lsn)
        if op == "D":
            s["events_deleted"] += 1
        elif op is not None:
            s["events_upserted"] += 1
    return out


def _lineage_of(stats: dict[int, dict]) -> dict:
    """Reshape batch_part_stats output into the per-partition lineage-record
    extras the table commit paths persist (single definition site: the
    lsn_min/lsn_max/rows_upserted/rows_deleted contract is consumed by
    IcehouseTable lineage records and lineage_df)."""
    return {
        p: {
            "lsn_min": int(r["lsn_min"]),
            "lsn_max": int(r["lsn_max"]),
            "rows_upserted": int(r["events_upserted"]),
            "rows_deleted": int(r["events_deleted"]),
        }
        for p, r in stats.items()
    }


def _submit_stats(table: IcehouseTable, changes: DataFrame, key_type, n_buckets: int):
    """Run batch_part_stats on a single background thread (overlaps the
    stats scan with the merge write).  The bucket modulus is PINNED by the
    caller: the worker must never read it from the shared table handle,
    which the retry paths refresh concurrently."""
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=1)
    fut = pool.submit(batch_part_stats, table, changes, key_type, n_buckets)
    pool.shutdown(wait=False)
    return fut


def apply_changes(
    table: IcehouseTable,
    changes: DataFrame,
    epoch: int | None = None,
    count_input: bool = False,
    target_schema=None,
    epoch_source: str | None = None,
    part_stats: dict[int, dict] | None = None,
) -> ApplyStats:
    """Apply one change-log batch to the table (one atomic commit).

    ``changes`` schema: (lsn, op, doc_id, <logical payload cols>, ...).
    Exactly-once: if ``epoch`` was already committed this returns skipped
    without reading or writing any data.  ``epoch_source`` namespaces the
    epoch sequence (streaming batchIds vs batch-replay source epochs are
    independent integer ranges — see IcehouseTable._epoch_key).

    ``target_schema``: evolved logical schema (see
    apply_changes_with_evolution); both the batch and the surviving base rows
    are conformed to it, and the schema change commits atomically with the data.
    """
    if epoch is not None and table.epoch_committed(epoch, epoch_source):
        return ApplyStats(
            CommitResult(table.version, table.meta["snapshot_id"], epoch, skipped=True), 0, 0, 0
        )
    from ..table.icehouse import evolve_schema

    key = table.key_col
    # merge the caller's target with the CURRENT table schema: a stale
    # handle's narrower target must never conform concurrently-added
    # columns out of the base rows it rewrites (additive ∪ additive)
    target_schema = (
        evolve_schema(table.schema, target_schema)[0] if target_schema else table.schema
    )
    # key-type changes re-address every bucket (xxhash64 hashes int vs long
    # differently) — rejected table-side too; fail here before any scan runs
    table.ensure_key_type_unchanged(target_schema)
    # structural (non-subclassing) TableFormat backends may omit the rename
    # guard — absence means no rename support, so nothing can be stale
    _rename_guard = getattr(table, "check_no_stale_renamed_columns", None)
    if _rename_guard is not None:
        _rename_guard(changes.columns)
    logical_cols = target_schema.fieldNames()

    # conform the batch payload to the target schema, keeping lsn/op
    conformed = _conform_batch(changes, target_schema)
    # per-partition lineage + affected-partition discovery from the RAW
    # batch: a columnar scan with map-side partial aggregation — cheaper
    # than materializing (persisting) the LWW output just for stats
    # (measured: persisting the reduction costs more in serialization than
    # the rescan), so the LWW reduction is computed exactly once, inside
    # the write pass.  Lineage counts are EVENT-level (events consumed per
    # partition per epoch — the CDC-conventional meaning); affected
    # partitions are identical either way (LWW reduces rows per key, never
    # the key set).  ``part_stats`` may be precomputed (prefetched
    # concurrently with the previous epoch's write — ReplayRunner does).
    plan_buckets = table.n_buckets  # pinned; retry re-plans on spec evolution
    stats_future = None
    if part_stats is None:
        if not table.meta["partitions"] and not any(
            table.meta.get("deltas", {}).values()
        ):
            # EMPTY table: the affected-set prunes nothing (there is no base
            # data to read), so the stats job is needed only for lineage —
            # take it OFF the critical path entirely: run it on a pool
            # thread concurrently with the merge write; the commit resolves
            # it after the data files land (lineage_extra callable below).
            stats_future = _submit_stats(
                table, changes, target_schema[key].dataType, plan_buckets
            )
        else:
            part_stats = batch_part_stats(
                table, changes, key_type=target_schema[key].dataType,
                n_buckets=plan_buckets,
            )
    affected = sorted(part_stats) if part_stats is not None else None
    latest = lww_latest(conformed, key=key).withColumn(
        PART_COL, table.bucket_expr(n_buckets=plan_buckets)
    )
    if affected is not None and not affected:
        return ApplyStats(
            CommitResult(table.version, table.meta["snapshot_id"], epoch, skipped=False),
            0, 0, 0,
        )

    # ORDER-INSENSITIVE merge: base rows carry their producing _lsn and
    # deletes persist as tombstones, so the per-key winner is max(_lsn)
    # regardless of the order batches arrive in (late replay / reordered
    # micro-batches can never clobber newer state).  Rows from pre-CDC
    # files have NULL _lsn -> coalesced to -1, losing to any real event.
    #
    # Shuffle budget: survivors (keys untouched by the batch) pass
    # through via a broadcast ANTI join — no shuffle of base data; only
    # the contested keys (<= batch size) enter the max_by conflict
    # resolution.  The single real shuffle is the write-side bucket
    # repartition in overwrite_partitions.
    #
    # Serializable isolation: the merge plan reads the snapshot at
    # ``read_version``; if a concurrent writer commits an overlapping
    # partition first, the commit raises CommitConflictError and the WHOLE
    # merge is rebuilt against the refreshed snapshot (Iceberg-style
    # validate-and-retry — the plain CAS retry alone would lose the
    # winner's rows, since the stale plan re-executes against old files).
    for _merge_attempt in range(5):
        read_version = table.version
        base = table.read(
            latest.sparkSession,
            partitions=affected if affected is not None else [],
            with_part_col=True,
            with_meta=True,
        )
        base_norm = conform(
            base,
            target_schema,
            extra=(
                f"coalesce({quote(LSN_COL)}, -1) AS {quote(LSN_COL)}",
                f"coalesce({quote(DELETED_COL)}, false) AS {quote(DELETED_COL)}",
                quote(PART_COL),
            ),
        )
        batch_norm = _batch_norm(latest, logical_cols, quote(PART_COL))
        # join strategy is left to AQE: it broadcasts the changed-key set
        # when it is genuinely small and falls back to a shuffled hash join
        # for mega-epochs.  (A forced broadcast of a 1.5M-key epoch measured
        # 20% SLOWER than the AQE plan — driver collect + rebroadcast beats
        # the shuffle only for small key sets, exactly what AQE detects.)
        changed_keys = latest.selectExpr(quote(key)).distinct()
        survivors = base_norm.join(changed_keys, key, "left_anti")
        contested = base_norm.join(changed_keys, key, "left_semi").unionByName(batch_norm)
        winners = lww_latest(contested, key=key, order=LSN_COL)
        merged = survivors.unionByName(winners)

        try:
            result = table.overwrite_partitions(
                merged,
                epoch=epoch,
                lineage_extra=(
                    _lineage_of(part_stats)
                    if part_stats is not None
                    else (lambda: _lineage_of(stats_future.result()))
                ),
                incoming_schema=target_schema if target_schema != table.schema else None,
                epoch_source=epoch_source,
                read_version=read_version,
            )
            break
        except CommitConflictError:
            table.refresh()
            if epoch is not None and table.epoch_committed(epoch, epoch_source):
                return ApplyStats(
                    CommitResult(table.version, table.meta["snapshot_id"], epoch, skipped=True),
                    0, 0, 0,
                )
            refreshed = evolve_schema(table.schema, target_schema)[0]
            if refreshed != target_schema:
                # a concurrent commit evolved the schema mid-merge: widen the
                # rebuild so base survivors keep the new columns' values
                target_schema = refreshed
                logical_cols = target_schema.fieldNames()
                conformed = _conform_batch(changes, target_schema)
                latest = lww_latest(conformed, key=key).withColumn(
                    PART_COL, table.bucket_expr(n_buckets=plan_buckets)
                )
            if table.n_buckets != plan_buckets:
                # a concurrent REBUCKET won the race: the whole plan is
                # addressed under a dead modulus — latest's _part column,
                # the stats keys, and the affected set must all re-derive
                # under the new bucket count or the retry would read the
                # wrong base partitions and write unreachable bucket ids
                plan_buckets = table.n_buckets
                latest = lww_latest(conformed, key=key).withColumn(
                    PART_COL, table.bucket_expr(n_buckets=plan_buckets)
                )
                part_stats = batch_part_stats(
                    table, changes, key_type=target_schema[key].dataType,
                    n_buckets=plan_buckets,
                )
                affected = sorted(part_stats)
                stats_future = None  # superseded (old-modulus keys)
            if part_stats is None:
                # the empty-table fast path no longer applies after a
                # conflict (the winner populated partitions): resolve the
                # concurrent stats so the retry prunes its base read
                part_stats = stats_future.result()
                affected = sorted(part_stats)
    else:
        raise ConcurrentCommitError(
            f"merge lost 5 consecutive snapshot-conflict races on {table.root}"
        )
    if part_stats is None:
        part_stats = stats_future.result()
    events_seen = sum(
        int(r["events_deleted"] + r["events_upserted"]) for r in part_stats.values()
    )
    deletes = sum(int(r["events_deleted"]) for r in part_stats.values())
    events_in = changes.count() if count_input else events_seen
    return ApplyStats(result, events_in, events_seen, deletes)


def _held_rows(table: IcehouseTable, bucket: int) -> int:
    """Physical rows (base + pending deltas) the manifest records for one
    bucket — metadata only."""
    b = str(bucket)
    return table.meta["partitions"].get(b, {}).get("rows", 0) + sum(
        d["rows"] for d in table.meta.get("deltas", {}).get(b, [])
    )


def _has_local_timestamp(dt: T.DataType) -> bool:
    if isinstance(dt, T.TimestampType):
        return True
    if isinstance(dt, T.StructType):
        return any(_has_local_timestamp(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _has_local_timestamp(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_local_timestamp(dt.keyType) or _has_local_timestamp(dt.valueType)
    return False


def apply_changes_local(
    spark: SparkSession,
    table: IcehouseTable,
    keys: list,
    changes_for: Callable[[dict], list[tuple]],
    epoch: int | None = None,
    epoch_source: str | None = None,
) -> ApplyStats | None:
    """Commit a small change batch from the driver: the result of
    :func:`apply_changes`, without its batch-stats, merge and join jobs.

    ``keys`` are the batch's keys; their buckets are the rewrite set.
    ``changes_for(current)`` returns the batch as ``(lsn, op, *table
    columns)`` tuples, given ``current`` — the live stored rows of those
    buckets by key — so a caller whose rows depend on the stored state (a
    view's running aggregates) rebuilds them on every attempt.

    The driver path runs only when the manifest says every affected bucket
    holds at most ``SMALL_BATCH_ROWS`` physical rows, every key has a
    driver-side hash and no column holds a local-time timestamp; otherwise
    this returns ``None`` and the caller takes
    :func:`apply_changes`.  Those buckets are read whole (``_lsn`` and
    tombstones included) in one collect and rewritten with the same LWW
    rule: stored rows keep their ``coalesce(_lsn, -1)`` and
    ``coalesce(_deleted, false)``, and a batch row replaces a stored row
    whose ``_lsn`` it reaches.  The commit goes through
    ``overwrite_partitions`` with the epoch fence, ``read_version`` and
    driver-side lineage (:func:`local_part_stats`); a concurrent commit to
    those buckets rebuilds from a fresh read, up to 5 attempts.  A
    concurrent rebucket or schema change returns ``None`` instead."""
    from ..functions.keys import bucket_for_key

    if epoch is not None and table.epoch_committed(epoch, epoch_source):
        return ApplyStats(
            CommitResult(table.version, table.meta["snapshot_id"], epoch, skipped=True), 0, 0, 0
        )
    key, schema, n_buckets = table.key_col, table.schema, table.n_buckets
    if _has_local_timestamp(schema):
        # a collected local-time datetime need not survive the trip back
        # (a DST fall-back hour is ambiguous): keep such tables on Spark
        return None
    tname = schema[key].dataType.simpleString()
    try:
        buckets = sorted({bucket_for_key(k, tname, n_buckets) for k in keys})
    except TypeError:
        return None  # no driver-side hash for this key type, or a NULL key
    if not buckets:
        return ApplyStats(
            CommitResult(table.version, table.meta["snapshot_id"], epoch, skipped=False), 0, 0, 0
        )
    n_cols, key_at = len(schema), schema.fieldNames().index(key)
    # nullable throughout, as apply_changes' merge output is
    frame = T.StructType(
        [
            *[T.StructField(f.name, f.dataType) for f in schema.fields],
            T.StructField(LSN_COL, T.LongType()),
            T.StructField(DELETED_COL, T.BooleanType()),
            T.StructField(PART_COL, T.IntegerType()),
        ]
    )
    for _attempt in range(5):
        if (
            table.n_buckets != n_buckets
            or table.schema != schema
            or any(_held_rows(table, b) > SMALL_BATCH_ROWS for b in buckets)
        ):
            return None
        read_version = table.version
        held = table.read(
            spark, partitions=buckets, with_part_col=True, with_meta=True
        ).collect()
        changes = changes_for({r[key]: r for r in held if not r[DELETED_COL]})
        part_stats = local_part_stats(table, [(c[0], c[1], c[2 + key_at]) for c in changes])
        if part_stats is None:
            return None
        out = {
            r[key]: (
                *r[:n_cols],
                -1 if r[LSN_COL] is None else r[LSN_COL],
                bool(r[DELETED_COL]),
                r[PART_COL],
            )
            for r in held
        }
        for lsn, op, *row in changes:
            k = row[key_at]
            prev = out.get(k)
            if prev is None or prev[n_cols] <= lsn:
                out[k] = (*row, lsn, op == "D", bucket_for_key(k, tname, n_buckets))
        try:
            result = table.overwrite_partitions(
                spark.createDataFrame(list(out.values()), frame),
                epoch=epoch,
                epoch_source=epoch_source,
                affected_partitions=buckets,
                read_version=read_version,
                lineage_extra=_lineage_of(part_stats),
            )
            break
        except CommitConflictError:
            table.refresh()
            if epoch is not None and table.epoch_committed(epoch, epoch_source):
                return ApplyStats(
                    CommitResult(table.version, table.meta["snapshot_id"], epoch, skipped=True),
                    0, 0, 0,
                )
    else:
        raise ConcurrentCommitError(
            f"driver-side commit lost 5 consecutive snapshot-conflict races on {table.root}"
        )
    events = sum(r["events_deleted"] + r["events_upserted"] for r in part_stats.values())
    deletes = sum(r["events_deleted"] for r in part_stats.values())
    return ApplyStats(result, events, events, deletes)


def apply_changes_mor(
    table: IcehouseTable,
    changes: DataFrame,
    epoch: int | None = None,
    target_schema=None,
    epoch_source: str | None = None,
    part_stats: dict[int, dict] | None = None,
) -> ApplyStats:
    """Merge-on-read apply: LWW-reduce the batch, then APPEND it as per-bucket
    delta files — the base table is never read or rewritten.

    Per-epoch cost is O(batch): the copy-on-write path re-writes every bucket
    a batch touches (at 10^10 events a dense epoch touches every bucket, so
    each epoch pays O(table)); this path writes only the batch's per-key
    winners and defers conflict resolution to read time (max(_lsn) per key,
    resolved bucket-locally with map-side partial aggregation).  Compaction
    (:meth:`IcehouseTable.compact_partitions`, or any COW commit of the same
    bucket) folds deltas into the base — the Iceberg v2 equality-delete /
    Hudi MOR write path, chosen per workload:

    - write-heavy tail (CDC ingest keeping up with a busy log): MOR,
      compact on a schedule;
    - read-heavy serving: COW, every read is a plain columnar scan.

    Identical semantics to :func:`apply_changes` — final resolved state is
    equal after any interleaving of the two paths (tests assert this), the
    same epoch fence applies, and deletes are LSN-carrying tombstone rows.
    """
    if epoch is not None and table.epoch_committed(epoch, epoch_source):
        return ApplyStats(
            CommitResult(table.version, table.meta["snapshot_id"], epoch, skipped=True), 0, 0, 0
        )
    key = table.key_col
    target_schema = target_schema or table.schema
    table.ensure_key_type_unchanged(target_schema)  # see apply_changes
    _rename_guard = getattr(table, "check_no_stale_renamed_columns", None)
    if _rename_guard is not None:  # see apply_changes
        _rename_guard(changes.columns)
    logical_cols = target_schema.fieldNames()
    conformed = _conform_batch(changes, target_schema)
    if part_stats is not None and not part_stats:
        return ApplyStats(
            CommitResult(table.version, table.meta["snapshot_id"], epoch, skipped=False), 0, 0, 0
        )
    # MOR needs the stats only for lineage/counts, never to prune a base
    # read — when not prefetched, run the scan CONCURRENTLY with the delta
    # write (the commit resolves the callable after the data files land).
    # The bucket modulus is CAPTURED alongside the stats: the retry path
    # refreshes the table handle, and a mid-flight rebucket invalidates BOTH
    # a background-computed result AND a caller-prefetched one (either would
    # key lineage under a modulus the committed delta partitions no longer
    # use).
    submit_n_buckets = table.n_buckets
    stats_holder: dict[str, Any] = {"value": part_stats, "future": None}
    if part_stats is None:
        stats_holder["future"] = _submit_stats(
            table, changes, target_schema[key].dataType, submit_n_buckets
        )

    def _resolve_stats() -> dict[int, dict]:
        if stats_holder["value"] is None:
            stats_holder["value"] = stats_holder["future"].result()
        return stats_holder["value"]

    latest = lww_latest(conformed, key=key)
    batch_norm = _batch_norm(latest, logical_cols).withColumn(
        PART_COL, table.bucket_expr(n_buckets=submit_n_buckets)
    )

    lineage = lambda: _lineage_of(_resolve_stats())  # noqa: E731 — resolved at commit
    for _attempt in range(3):
        try:
            result = table.append_deltas(
                batch_norm,
                epoch=epoch,
                lineage_extra=lineage,
                incoming_schema=target_schema if target_schema != table.schema else None,
                epoch_source=epoch_source,
            )
            break
        except CommitConflictError:
            # a rebucket landed mid-flight: re-plan under the fresh modulus
            table.refresh()
            if table.n_buckets != submit_n_buckets:
                # ANY stats in hand (caller-prefetched or background) are
                # keyed under the old modulus — recompute so lineage matches
                # the delta partitions actually committed
                submit_n_buckets = table.n_buckets
                stats_holder["value"] = None
                stats_holder["future"] = _submit_stats(
                    table, changes, target_schema[key].dataType, submit_n_buckets
                )
            batch_norm = _batch_norm(latest, logical_cols).withColumn(
                PART_COL, table.bucket_expr(n_buckets=submit_n_buckets)
            )
    else:
        raise ConcurrentCommitError(
            f"MOR append lost 3 consecutive rebucket races on {table.root}"
        )
    part_stats = _resolve_stats()
    events_seen = sum(
        int(r["events_deleted"] + r["events_upserted"]) for r in part_stats.values()
    )
    deletes = sum(int(r["events_deleted"]) for r in part_stats.values())
    return ApplyStats(result, events_seen, events_seen, deletes)


def apply_changes_with_evolution(
    table: IcehouseTable,
    changes: DataFrame,
    epoch: int | None = None,
    part_stats: dict[int, dict] | None = None,
    mode: str = "cow",
) -> ApplyStats:
    """Like apply_changes, but first merges the batch's payload schema into the
    table schema under additive-evolution rules (new nullable columns /
    widenings accepted, everything else raises SchemaEvolutionError).
    Reference analog: ``SchemaUpdateOption.ALLOW_FIELD_ADDITION``
    (dim_variant.py:263-265).  ``mode``: ``"cow"`` (copy-on-write merge) or
    ``"mor"`` (merge-on-read delta append, :func:`apply_changes_mor`)."""
    from pyspark.sql import types as T

    from ..table.icehouse import evolve_schema

    incoming_payload = T.StructType(
        [f for f in changes.schema.fields if f.name not in ("lsn", "epoch", "op")]
    )
    new_schema, _changed = evolve_schema(table.schema, incoming_payload)
    fn = apply_changes_mor if mode == "mor" else apply_changes
    return fn(
        table, changes, epoch=epoch, target_schema=new_schema, part_stats=part_stats
    )
