"""Incrementally-maintained materialized views over icehouse tables.

A materialized view here is a grouped-aggregate table (COUNT / fixed-point
SUM per group — the self-maintainable aggregates of incremental view
maintenance) that is itself an :class:`~.icehouse.IcehouseTable`, keyed by a
deterministic group key and kept in sync with its BASE table's change feed
without ever rescanning the base:

    new_agg(g) = old_agg(g) - contrib(rows of changed keys AT the last
                              refreshed snapshot)
                            + contrib(current winning rows of changed keys)

Per refresh the engine touches O(changed keys + affected groups) data:

- the changed-key set comes from :meth:`IcehouseTable.read_changed_since`
  (LSN-footer file skipping — per-epoch polls read only that epoch's files),
- the retract side reads the changed keys' PRIOR rows from the base's
  **time-travelled snapshot** at the last refreshed version
  (:meth:`IcehouseTable.load` ``version=`` + bucket-pruned
  :meth:`read_for_keys` — pending snapshot expiry, history is already on
  disk, so "what did these keys look like last time" is a point lookup, not
  a second copy of the table),
- the affected groups' current aggregates come from a bucket-pruned point
  read of the view itself.

Exactly-once without a second ledger: the refresh commit is fenced through
the view table's own epoch registry with ``epoch = base snapshot version``
(namespace ``mv-refresh``), so the last refreshed base version is *derived
from the registry*, not from a property that could go stale — a refresh
that crashes between its data commit and anything else simply re-runs: the
fence skips the data apply and the next delta picks up from the committed
version.  A base ROLLBACK (head LSN moves backwards) is detected from the
snapshot's LSN high-water mark and degrades to a fenced full recompute.

The reference recomputes every rollup from scratch per run (the
``FactProductPrice`` summary queries in
``notification_service/bigquery_queries.py`` and the validation rollups in
``staging_schema.py`` are full-table GROUP BYs on a schedule).  At 10^10
rows the full re-aggregate per epoch is the dominant cost; this module is
the O(changed-data) form, stacked on the same commit protocol as the data
path.

Scale shape: no global shuffle ever touches the base table.  One changed-
since scan (file-skipped), two bucket-pruned point reads, one groupBy of
the (small) changed-row set, one keyed MERGE into the view — and when the
change set and the affected view buckets are small, the MERGE runs on the
driver.  Measures are fixed-point BIGINT so increments are exact and
order-independent — a float sum would drift from a from-scratch recompute
and fail the oracle.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .icehouse import (
    DELETED_COL,
    LSN_COL,
    PART_COL,
    CommitConflictError,
    CommitResult,
    ConcurrentCommitError,
    IcehouseTable,
)
from ..cdc.apply import ApplyStats, _lineage_of, apply_changes, local_part_stats
from ..functions.keys import bucket_for_key
from ..session import SMALL_BATCH_ROWS

GROUP_KEY_COL = "group_key"
_REFRESH_NS = "mv-refresh"


def _measures(value_cols: list[str]) -> list[str]:
    """Measure column names for a view over ``value_cols``.  A single
    measure keeps the original flat names (the shape every existing test,
    oracle, and consumer pins); multi-measure views suffix per column."""
    if len(value_cols) == 1:
        return ["n_rows", "n_vals", "value_sum_scaled"]
    out = ["n_rows"]
    for c in value_cols:
        out += [f"n_vals_{c}", f"sum_{c}_scaled"]
    return out


def _group_key(group_cols: list[str]) -> F.Column:
    """Deterministic, injective string key for a group tuple: ``to_json`` of
    the group struct (fixed field order = fixed schema order; a NULL group
    value serializes as an omitted field, which is unambiguous because every
    group row shares the same schema).  The key is the view table's bucket-
    addressing key, so it must be stable across refreshes and sessions —
    ``to_json`` is, being a pure function of the values."""
    return F.to_json(F.struct(*[F.col(c) for c in group_cols]))


def _contributions(
    rows: DataFrame, group_cols: list[str], value_cols: list[str], scale: int, sign: int
) -> DataFrame:
    """Per-group signed contributions of a row set.  ``n_rows`` counts rows;
    per measure column, a non-NULL count (so a consumer can reconstruct SQL
    SUM/AVG semantics: sum IS NULL iff its count = 0) and a fixed-point sum
    with NULLs contributing 0 — increments stay exact and
    order-independent.  One shuffle covers every measure."""
    names = _measures(value_cols)
    aggs = [(F.lit(sign) * F.count(F.lit(1))).alias(names[0])]
    for i, c in enumerate(value_cols):
        v = F.round(F.col(c) * scale).cast("long")
        aggs.append((F.lit(sign) * F.count(F.col(c))).alias(names[1 + 2 * i]))
        aggs.append(
            (F.lit(sign) * F.sum(F.coalesce(v, F.lit(0)))).alias(names[2 + 2 * i])
        )
    return rows.groupBy(*group_cols).agg(*aggs)


@dataclass(frozen=True)
class RefreshStats:
    """Outcome of one :func:`refresh_matview` call."""

    mode: str  # "incremental" | "full" | "skipped"
    base_version_from: int
    base_version_to: int
    commit: CommitResult | None

    @property
    def skipped(self) -> bool:
        return self.mode == "skipped"


def _mv_schema(
    base_schema: T.StructType, group_cols: list[str], measures: list[str]
) -> T.StructType:
    fields = [T.StructField(GROUP_KEY_COL, T.StringType(), False)]
    fields += [
        T.StructField(c, base_schema[c].dataType, True) for c in group_cols
    ]
    fields += [T.StructField(m, T.LongType(), True) for m in measures]
    return T.StructType(fields)


def _aggregate(
    base_rows: DataFrame, group_cols: list[str], value_cols: list[str], scale: int
) -> DataFrame:
    """Full aggregate of a base row set in view-row shape (no sign)."""
    return _contributions(base_rows, group_cols, value_cols, scale, sign=1).select(
        _group_key(group_cols).alias(GROUP_KEY_COL),
        *group_cols,
        *_measures(value_cols),
    )


def _last_refreshed_version(mv: IcehouseTable) -> int:
    """The base snapshot version the view currently reflects, derived from
    the view's OWN exactly-once registry (namespace ``mv-refresh``) — the
    fence and the watermark are the same record, so they can never disagree
    (a property cache could go stale between a data commit and a property
    commit; the registry is written atomically with the data).  A refresh
    whose net delta was EMPTY commits no data and registers no epoch; it
    advances the ``mv.refreshed_floor`` property instead (safe: there is no
    data whose application the floor could outrun), so repeated no-op
    refreshes don't re-walk ever-longer changed-since windows."""
    high = -1
    for k in mv.meta["committed_epochs"]:
        ns, _, ep = k.rpartition(":")
        if ns == _REFRESH_NS:
            high = max(high, int(ep))
    for lo, hi in mv.meta.get("committed_epoch_ranges", {}).get(_REFRESH_NS, []):
        high = max(high, hi)
    floor = mv.meta.get("properties", {}).get("mv.refreshed_floor")
    if floor is not None:
        high = max(high, int(floor))
    if high < 0:
        raise ValueError(
            f"{mv.root} has no committed mv-refresh epoch — not a materialized "
            "view created by create_matview?"
        )
    return high


def _lsn_high(table: IcehouseTable) -> int | None:
    """Snapshot LSN high-water mark from per-file footer stats in metadata
    (no scan).  ``None`` when the snapshot has no stats-bearing files —
    callers must then take the full-recompute path (conservative)."""
    highs = [
        e.get("lsn_max")
        for e in table.meta["partitions"].values()
    ] + [
        d.get("lsn_max")
        for ds in table.meta.get("deltas", {}).values()
        for d in ds
    ]
    known = [h for h in highs if h is not None]
    if len(known) != len(highs) or not highs:
        return None
    return max(known)


def create_matview(
    spark: SparkSession,
    mv_root: str,
    base: IcehouseTable,
    group_cols: list[str],
    value_col: "str | list[str]",
    scale: int = 1_000_000,
    n_buckets: int = 8,
) -> IcehouseTable:
    """Create a materialized grouped-aggregate view of ``base`` at its
    current snapshot.  The initial full aggregate commits through the same
    fenced apply as every later refresh (``epoch = base.version``), so
    create itself is idempotent and the registry seeds the watermark.

    ``value_col`` may be a list — a MULTI-MEASURE view maintains per-column
    (count, fixed-point sum) pairs (``n_vals_<col>`` / ``sum_<col>_scaled``)
    alongside the shared ``n_rows``, all through the same single-shuffle
    contributions and one MERGE per refresh; a single measure keeps the
    flat ``n_vals`` / ``value_sum_scaled`` names."""
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    if not value_cols or len(set(value_cols)) != len(value_cols):
        raise ValueError("value_col must name at least one distinct column")
    missing = [c for c in group_cols + value_cols if c not in base.schema.fieldNames()]
    if missing:
        raise ValueError(f"base table {base.root} lacks columns {missing}")
    mv = IcehouseTable.create(
        mv_root,
        _mv_schema(base.schema, group_cols, _measures(value_cols)),
        key_col=GROUP_KEY_COL,
        n_buckets=n_buckets,
    )
    mv.update_properties(
        {
            "mv.base_root": base.root,
            "mv.group_cols": json.dumps(group_cols),
            "mv.value_cols": json.dumps(value_cols),
            "mv.scale": scale,
            # floor covers the empty-base create (an empty apply commits no
            # epoch) and every later empty-delta refresh
            "mv.refreshed_floor": base.version,
        }
    )
    agg = _aggregate(base.read(spark), group_cols, value_cols, scale)
    changes = agg.select(
        F.lit(0).cast("long").alias("lsn"),
        F.lit("U").alias("op"),
        "*",
    )
    apply_changes(mv, changes, epoch=base.version, epoch_source=_REFRESH_NS)
    return mv.refresh()


def _view_spec(mv: IcehouseTable) -> tuple[str, list[str], list[str], int]:
    props = mv.meta.get("properties", {})
    try:
        if "mv.value_cols" in props:
            value_cols = json.loads(props["mv.value_cols"])
        else:  # views created before multi-measure support
            value_cols = [props["mv.value_col"]]
        return (
            props["mv.base_root"],
            json.loads(props["mv.group_cols"]),
            value_cols,
            int(props["mv.scale"]),
        )
    except KeyError as e:
        raise ValueError(f"{mv.root} is missing matview property {e}") from e


def _apply_view_delta(
    mv: IcehouseTable,
    delta: DataFrame,
    group_cols: list[str],
    base_version: int,
    measures: list[str],
) -> ApplyStats:
    """MERGE a signed per-group delta into the view: point-read the affected
    groups' current aggregates (bucket-pruned through the view's own key
    addressing), add, and upsert — groups whose row count reaches 0 become
    tombstones, so a fully-retracted group disappears from the view exactly
    as it would from a re-aggregate.  An EMPTY delta commits nothing; the
    refresh floor advances instead (see :func:`_finish_refresh`)."""
    spark = delta.sparkSession
    delta = delta.persist()
    try:
        current = mv.read_for_keys(spark, delta.select(GROUP_KEY_COL))
        cur = current.select(
            GROUP_KEY_COL, *[F.col(m).alias(f"_cur_{m}") for m in measures]
        )
        merged = delta.join(cur, GROUP_KEY_COL, "left_outer").select(
            GROUP_KEY_COL,
            *group_cols,
            *[
                (F.coalesce(F.col(f"_cur_{m}"), F.lit(0)) + F.col(m)).alias(m)
                for m in measures
            ],
        )
        changes = merged.select(
            F.lit(base_version).cast("long").alias("lsn"),
            F.when(F.col("n_rows") <= 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
            GROUP_KEY_COL,
            *group_cols,
            *measures,
        )
        stats = apply_changes(mv, changes, epoch=base_version, epoch_source=_REFRESH_NS)
    finally:
        delta.unpersist()
    _finish_refresh(mv, base_version)
    return stats


def _finish_refresh(mv: IcehouseTable, base_version: int) -> None:
    """Reload the view after a refresh's merge.  When the delta was empty
    (nothing committed), record the advance as a pure-metadata floor bump
    so the next refresh's changed-since window starts here."""
    mv.refresh()
    if not mv.epoch_committed(base_version, _REFRESH_NS):
        mv.update_properties({"mv.refreshed_floor": base_version})


def _held_rows(t: IcehouseTable, buckets: list[int]) -> int:
    """Physical rows (base + pending deltas) the manifest records for
    ``buckets`` — metadata only."""
    parts, deltas = t.meta["partitions"], t.meta.get("deltas", {})
    return sum(
        parts.get(str(b), {}).get("rows", 0)
        + sum(d["rows"] for d in deltas.get(str(b), []))
        for b in buckets
    )


def _commit_local_delta(
    spark: SparkSession,
    mv: IcehouseTable,
    delta_df: DataFrame | None,
    group_cols: list[str],
    measures: list[str],
    base_version: int,
) -> CommitResult:
    """Collect a small signed delta (one row per affected group:
    ``group_key, *group_cols, *measures``; ``None`` for no change) and fold
    it into the view — the same merged rows and the same fenced commit as
    :func:`_apply_view_delta`, built on the driver.  The merge is keyed by
    the ``group_key`` JSON string, so group columns of any type (arrays,
    maps) work.  Finishes the refresh (:func:`_finish_refresh`).

    The driver rewrite runs only when the manifest says the affected view
    buckets hold at most ``SMALL_BATCH_ROWS`` physical rows: those buckets
    are read whole (with their ``_lsn``/tombstones) in one collect,
    rewritten with the LWW rule of :func:`apply_changes` and committed by
    ``overwrite_partitions`` — no batch-stats, merge or join jobs.  A
    concurrent commit to those buckets rebuilds from a fresh read.  Larger
    buckets take :func:`_apply_view_delta` on a local frame of the
    collected delta."""
    delta = [] if delta_df is None else delta_df.collect()
    keys = [r[GROUP_KEY_COL] for r in delta]
    buckets = sorted({bucket_for_key(k, "string", mv.n_buckets) for k in keys})
    if not delta:
        # nothing to commit: the refresh floor advances instead
        _finish_refresh(mv, base_version)
        return CommitResult(mv.version, mv.meta["snapshot_id"], base_version)
    if _held_rows(mv, buckets) > SMALL_BATCH_ROWS:
        return _apply_view_delta(
            mv, spark.createDataFrame(delta, delta_df.schema), group_cols,
            base_version, measures,
        ).result
    n_group = len(group_cols)
    schema = T.StructType(
        [
            *mv.schema.fields,
            T.StructField(LSN_COL, T.LongType()),
            T.StructField(DELETED_COL, T.BooleanType()),
            T.StructField(PART_COL, T.IntegerType()),
        ]
    )
    for _attempt in range(5):
        read_version = mv.version
        held = mv.read(
            spark, partitions=buckets, with_part_col=True, with_meta=True
        ).collect()
        current = {r[GROUP_KEY_COL]: r for r in held if not r[DELETED_COL]}
        changes = []
        for d in delta:
            cur = current.get(d[GROUP_KEY_COL])
            merged = [
                (0 if cur is None else cur[m] or 0) + d[m] for m in measures
            ]
            changes.append(
                (
                    base_version,
                    "D" if merged[0] <= 0 else "U",
                    d[GROUP_KEY_COL],
                    *d[1 : 1 + n_group],
                    *merged,
                )
            )
        part_stats = local_part_stats(mv, [c[:3] for c in changes])
        # the rewritten buckets: every held row (survivors keep their
        # _lsn/_deleted, normalized as apply_changes' base read does),
        # then each changed group's new row where it wins by _lsn
        out = {
            r[GROUP_KEY_COL]: (
                *r[: len(mv.schema)],
                -1 if r[LSN_COL] is None else r[LSN_COL],
                bool(r[DELETED_COL]),
                r[PART_COL],
            )
            for r in held
        }
        for c in changes:
            prev = out.get(c[2])
            if prev is None or prev[-3] <= base_version:
                out[c[2]] = (
                    *c[2:], base_version, c[1] == "D",
                    bucket_for_key(c[2], "string", mv.n_buckets),
                )
        try:
            result = mv.overwrite_partitions(
                spark.createDataFrame(list(out.values()), schema),
                epoch=base_version,
                epoch_source=_REFRESH_NS,
                affected_partitions=buckets,
                read_version=read_version,
                lineage_extra=_lineage_of(part_stats),
            )
            break
        except CommitConflictError:
            mv.refresh()
            if mv.epoch_committed(base_version, _REFRESH_NS):
                result = CommitResult(
                    mv.version, mv.meta["snapshot_id"], base_version, skipped=True
                )
                break
    else:
        raise ConcurrentCommitError(
            f"view refresh lost 5 consecutive snapshot-conflict races on {mv.root}"
        )
    _finish_refresh(mv, base_version)
    return result


def _signed_delta(
    retract_rows: DataFrame,
    add_rows: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
    scale: int,
) -> DataFrame:
    """Per-group net delta of (add − retract) in ONE shuffle: both sides are
    projected to the group/value columns, tagged with a ``_sign`` column,
    unioned, and aggregated once — replacing the former two-groupBy-then-
    re-aggregate shape (3 shuffles) that dominated the refresh's fixed
    overhead.  Sums/counts match :func:`_contributions` exactly: ``n_rows``
    = Σsign, per-measure non-NULL count = Σsign over non-NULL rows,
    fixed-point sum = Σ sign·round(value·scale) with NULLs contributing 0."""
    cols = list(dict.fromkeys(group_cols + value_cols))
    u = retract_rows.select(*cols).withColumn("_sign", F.lit(-1)).unionByName(
        add_rows.select(*cols).withColumn("_sign", F.lit(1))
    )
    names = _measures(value_cols)
    aggs = [F.sum("_sign").cast("long").alias(names[0])]
    for i, c in enumerate(value_cols):
        v = F.round(F.col(c) * scale).cast("long")
        aggs.append(
            F.sum(F.when(F.col(c).isNotNull(), F.col("_sign")).otherwise(F.lit(0)))
            .cast("long")
            .alias(names[1 + 2 * i])
        )
        aggs.append(
            F.sum(F.col("_sign") * F.coalesce(v, F.lit(0)))
            .cast("long")
            .alias(names[2 + 2 * i])
        )
    return (
        u.groupBy(*group_cols)
        .agg(*aggs)
        .where(" OR ".join(f"{m} != 0" for m in names))
        .select(_group_key(group_cols).alias(GROUP_KEY_COL), *group_cols, *names)
    )


def _full_refresh(
    spark: SparkSession,
    mv: IcehouseTable,
    base: IcehouseTable,
    group_cols: list[str],
    value_cols: list[str],
    scale: int,
    measures: list[str],
    v0: int,
    v1: int,
) -> RefreshStats:
    agg = _aggregate(base.read(spark), group_cols, value_cols, scale)
    cur = mv.read(spark).select(
        GROUP_KEY_COL, *[F.col(m).alias(f"_cur_{m}") for m in measures]
    )
    # diff against the current view so untouched groups write nothing
    # and vanished groups tombstone; the delta form reuses the same
    # fenced merge as the incremental path (one commit, one epoch).
    joined = agg.join(cur, GROUP_KEY_COL, "full_outer")
    delta = joined.select(
        GROUP_KEY_COL,
        *group_cols,
        *[
            (F.coalesce(F.col(m), F.lit(0)) - F.coalesce(F.col(f"_cur_{m}"), F.lit(0))).alias(m)
            for m in measures
        ],
    ).where(" OR ".join(f"{m} != 0" for m in measures))
    stats = _apply_view_delta(mv, delta, group_cols, v1, measures)
    return RefreshStats("full", v0, v1, stats.result)


def refresh_matview(
    spark: SparkSession,
    mv: IcehouseTable,
    full: bool = False,
    changed_keys: DataFrame | None = None,
    auto_full_ratio: float = 0.2,
) -> RefreshStats:
    """Bring the view up to the base table's CURRENT snapshot.

    Incremental by default (O(changed keys + affected groups)); ``full=True``
    forces a from-scratch re-aggregate diffed against the view (one base
    scan, still a single fenced commit — used after a base rollback, or when
    the prior snapshot's metadata was expired).  Either way the commit is
    fenced on ``epoch = base version``, so concurrent or crash-retried
    refreshes of the same version are no-ops and the watermark can never
    run ahead of the applied data.

    Small deltas (≤ ``SMALL_BATCH_ROWS`` changed rows — the per-epoch
    poll shape) take a FAST PATH that keeps the change set on the driver:
    one slim, file-skipped collect of the changed winners, one collect of
    the signed per-group delta (add side a local frame, retract side a
    literal-IN bucket/bloom-pruned point read), then the view merge and
    its fenced commit built driver-side (:func:`_commit_local_delta`).  On
    a MOR base with 8 view buckets that is 8 Spark jobs (AQE runs each
    shuffle stage as its own job) where the Spark-side merge ran 24
    (tests/test_small_batch_refresh.py pins the budget).

    AUTO-CROSSOVER (``auto_full_ratio``): when the changed-row count
    exceeds ``auto_full_ratio × base physical rows`` (and the delta is
    past the fast-path cap), the refresh auto-selects the full recompute —
    at that delta fraction the incremental path's point reads touch most
    buckets anyway and the one-scan re-aggregate is cheaper.  The rule is
    a pure cost heuristic: both paths commit the identical fenced delta.
    Set ``auto_full_ratio=0`` to disable (always incremental), or pass
    ``full=True`` to force the recompute.

    ``changed_keys``: a one-column DataFrame of base keys KNOWN to cover
    every key changed between the view's refreshed version and the current
    snapshot (a superset is fine — unchanged keys retract and re-add the
    same contribution, a no-op).  A caller applying the very change batch
    (the streaming per-micro-batch hook) passes the batch's keys; both
    sides then become bucket-pruned point reads and the refresh never
    consults the changed-since feed.  Without it, the changed set is
    derived from LSN file stats, which assumes changes are applied in
    ascending-LSN order across refreshes (true for the epoch replayer;
    NOT guaranteed for arbitrary out-of-order appliers — pass the keys
    explicitly there).
    """
    mv.refresh()
    base_root, group_cols, value_cols, scale = _view_spec(mv)
    measures = _measures(value_cols)
    base = IcehouseTable.load(base_root)  # pins the target snapshot
    v0 = _last_refreshed_version(mv)
    v1 = base.version
    if v1 <= v0:
        return RefreshStats("skipped", v0, v0, None)

    prior = None
    if not full:
        try:
            prior = IcehouseTable.load(base_root, version=v0)
        except FileNotFoundError:
            full = True  # snapshot expired — incremental retract impossible
        else:
            w0 = _lsn_high(prior)
            w1 = _lsn_high(base)
            # LSN moving backwards = the base was rolled back; forward-only
            # changed-since cannot see the reversal.  A head snapshot with
            # files missing LSN stats (w1 None on non-empty) defeats the
            # detection, so it recomputes too — conservative, never wrong.
            base_nonempty = base.meta["partitions"] or any(
                base.meta.get("deltas", {}).values()
            )
            if (w1 is not None and w0 is not None and w1 < w0) or (
                w1 is None and base_nonempty
            ):
                full = True

    if full:
        return _full_refresh(
            spark, mv, base, group_cols, value_cols, scale, measures, v0, v1
        )

    key = base.key_col
    # columns the delta aggregation actually consumes — the feed/point
    # reads project to these, so collects and scans stay slim even when
    # the base carries wide payloads (token arrays)
    need_cols = list(dict.fromkeys(group_cols + value_cols))
    missing = [c for c in need_cols if c not in prior.schema.fieldNames()]
    if missing:
        # the view's columns didn't exist at the prior snapshot (added
        # since) — the retract side cannot be expressed; recompute
        return _full_refresh(
            spark, mv, base, group_cols, value_cols, scale, measures, v0, v1
        )

    if changed_keys is not None:
        # caller-supplied change set: both legs are point reads, no feed
        changed = changed_keys.select(
            F.col(changed_keys.columns[0]).alias(key)
        ).distinct().persist()
        try:
            lit_keys = [r[0] for r in changed.limit(SMALL_BATCH_ROWS + 1).collect()]
            point_keys = lit_keys if len(lit_keys) <= SMALL_BATCH_ROWS else changed
            delta = _signed_delta(
                prior.read_for_keys(spark, point_keys),
                base.read_for_keys(spark, point_keys),
                group_cols,
                value_cols,
                scale,
            )
            stats = _apply_view_delta(mv, delta, group_cols, v1, measures)
        finally:
            changed.unpersist()
        return RefreshStats("incremental", v0, v1, stats.result)

    # None w0 (no stats / empty prior) degrades to watermark -1: changed-
    # since then returns every live key, and the retract side reads every
    # prior row of those keys — O(table) instead of O(changed), but still
    # the exact delta.  Real apply paths always record LSN stats.
    w0 = _lsn_high(prior)
    w0 = -1 if w0 is None else w0
    feed = base.read_changed_since(spark, w0).select(
        key, "_deleted", *[c for c in need_cols if c != key]
    )
    head = feed.limit(SMALL_BATCH_ROWS + 1).collect()
    if len(head) <= SMALL_BATCH_ROWS:
        # FAST PATH: the whole change set fits in hand.  The add side is a
        # local frame of the collected winners, the retract side a
        # literal-IN bloom/stats-pruned point read of their keys' prior
        # rows (bucket ids from the driver-side xxhash64 twin), and the
        # signed delta — at most one row per affected group — comes back
        # in one collect.  The view merge and its commit then run on the
        # driver (:func:`_commit_local_delta`).
        delta = None
        if head:
            add_local = spark.createDataFrame(
                [
                    tuple(r[c] for c in need_cols)
                    for r in head
                    if not (r["_deleted"] or False)
                ],
                T.StructType(
                    [T.StructField(c, base.schema[c].dataType, True) for c in need_cols]
                ),
            )
            delta = _signed_delta(
                prior.read_for_keys(spark, [r[key] for r in head]),
                add_local,
                group_cols,
                value_cols,
                scale,
            )
        result = _commit_local_delta(spark, mv, delta, group_cols, measures, v1)
        return RefreshStats("incremental", v0, v1, result)

    # HEAVY PATH: more than SMALL_BATCH_ROWS changed rows — persist the
    # (already slim) feed, count it once, and apply the auto-crossover rule
    # before committing to point reads.
    changed = feed.persist()
    try:
        n_changed = changed.count()
        base_rows = max(base.row_count(), 1)
        if auto_full_ratio and n_changed > auto_full_ratio * base_rows:
            return _full_refresh(
                spark, mv, base, group_cols, value_cols, scale, measures, v0, v1
            )
        keys_df = changed.select(key).distinct()
        live_changed = changed.where(
            ~F.coalesce(F.col("_deleted"), F.lit(False))
        ).select(*need_cols)
        # large key sets keep the broadcast-semi-join plan (a driver-side
        # collect would be the real scale hazard there)
        prior_rows = prior.read_for_keys(spark, keys_df).select(*need_cols)
        delta = _signed_delta(
            prior_rows, live_changed, group_cols, value_cols, scale
        )
        stats = _apply_view_delta(mv, delta, group_cols, v1, measures)
    finally:
        changed.unpersist()
    return RefreshStats("incremental", v0, v1, stats.result)


def read_matview(spark: SparkSession, mv: IcehouseTable) -> DataFrame:
    """The view's logical contents: group columns + measures, with SQL SUM
    semantics restored per measure (a sum reads NULL when every value in
    the group was NULL — its non-NULL count is 0)."""
    _, group_cols, value_cols, _ = _view_spec(mv)
    cols: list = [*group_cols, "n_rows"]
    names = _measures(value_cols)
    for i in range(len(value_cols)):
        n_vals, total = names[1 + 2 * i], names[2 + 2 * i]
        cols.append(n_vals)
        cols.append(F.when(F.col(n_vals) > 0, F.col(total)).alias(total))
    return mv.read(spark).select(*cols)
