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

from .exprs import col as qcol
from .exprs import quote, quote_all
from .icehouse import CommitResult, IcehouseTable
from ..cdc.apply import ApplyStats, apply_changes, apply_changes_local
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


def _group_key(group_cols: list[str]) -> str:
    """Deterministic, injective string key for a group tuple: ``to_json`` of
    the group struct (fixed field order = fixed schema order; a NULL group
    value serializes as an omitted field, which is unambiguous because every
    group row shares the same schema).  The key is the view table's bucket-
    addressing key, so it must be stable across refreshes and sessions —
    ``to_json`` is, being a pure function of the values."""
    return f"to_json(struct({quote_all(group_cols)}))"


def _contributions(
    rows: DataFrame, group_cols: list[str], value_cols: list[str], scale: int, sign: int
) -> DataFrame:
    """Per-group signed contributions of a row set.  ``n_rows`` counts rows;
    per measure column, a non-NULL count (so a consumer can reconstruct SQL
    SUM/AVG semantics: sum IS NULL iff its count = 0) and a fixed-point sum
    with NULLs contributing 0 — increments stay exact and
    order-independent.  One shuffle covers every measure."""
    names = [quote(n) for n in _measures(value_cols)]
    sign = int(sign)
    aggs = [f"{sign} * count(1) AS {names[0]}"]
    for i, c in enumerate(value_cols):
        q = quote(c)
        aggs.append(f"{sign} * count({q}) AS {names[1 + 2 * i]}")
        aggs.append(
            f"{sign} * sum(coalesce(CAST(round({q} * {int(scale)}) AS BIGINT), 0))"
            f" AS {names[2 + 2 * i]}"
        )
    return rows.groupBy(*[qcol(c) for c in group_cols]).agg(*[F.expr(a) for a in aggs])


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
    return _contributions(base_rows, group_cols, value_cols, scale, sign=1).selectExpr(
        f"{_group_key(group_cols)} AS {GROUP_KEY_COL}",
        *[quote(c) for c in (*group_cols, *_measures(value_cols))],
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
    changes = agg.selectExpr("CAST(0 AS BIGINT) AS lsn", "'U' AS op", "*")
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


def _current_measures(measures: list[str]) -> list[str]:
    """The view's stored measures renamed ``_cur_<m>`` for a merge join."""
    return [f"{quote(m)} AS {quote('_cur_' + m)}" for m in measures]


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
        cur = current.selectExpr(GROUP_KEY_COL, *_current_measures(measures))
        merged = delta.join(cur, GROUP_KEY_COL, "left_outer").selectExpr(
            GROUP_KEY_COL,
            *[quote(c) for c in group_cols],
            *[
                f"coalesce({quote('_cur_' + m)}, 0) + {quote(m)} AS {quote(m)}"
                for m in measures
            ],
        )
        changes = merged.selectExpr(
            f"CAST({int(base_version)} AS BIGINT) AS lsn",
            "CASE WHEN n_rows <= 0 THEN 'D' ELSE 'U' END AS op",
            GROUP_KEY_COL,
            *[quote(c) for c in (*group_cols, *measures)],
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
    :func:`_apply_view_delta`, built on the driver by
    :func:`~..cdc.apply.apply_changes_local` (which re-merges against a
    fresh read of the view after a conflict).  The merge is keyed by the
    ``group_key`` JSON string, so group columns of any type (arrays, maps)
    work.  View buckets too big for the driver take
    :func:`_apply_view_delta` on a local frame of the collected delta.
    Finishes the refresh (:func:`_finish_refresh`)."""
    delta = [] if delta_df is None else delta_df.collect()
    if not delta:
        # nothing to commit: the refresh floor advances instead
        _finish_refresh(mv, base_version)
        return CommitResult(mv.version, mv.meta["snapshot_id"], base_version)
    n_group = len(group_cols)

    def changes_for(current: dict) -> list[tuple]:
        out = []
        for d in delta:
            cur = current.get(d[GROUP_KEY_COL])
            merged = [(0 if cur is None else cur[m] or 0) + d[m] for m in measures]
            out.append(
                (
                    base_version,
                    "D" if merged[0] <= 0 else "U",
                    d[GROUP_KEY_COL],
                    *d[1 : 1 + n_group],
                    *merged,
                )
            )
        return out

    stats = apply_changes_local(
        spark, mv, [d[GROUP_KEY_COL] for d in delta], changes_for,
        epoch=base_version, epoch_source=_REFRESH_NS,
    )
    if stats is None:
        return _apply_view_delta(
            mv, spark.createDataFrame(delta, delta_df.schema), group_cols,
            base_version, measures,
        ).result
    _finish_refresh(mv, base_version)
    return stats.result


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
    cols = [quote(c) for c in dict.fromkeys(group_cols + value_cols)]
    u = retract_rows.selectExpr(*cols, "-1 AS _sign").unionByName(
        add_rows.selectExpr(*cols, "1 AS _sign")
    )
    names = _measures(value_cols)
    aggs = [f"CAST(sum(_sign) AS BIGINT) AS {quote(names[0])}"]
    for i, c in enumerate(value_cols):
        q = quote(c)
        aggs.append(
            f"CAST(sum(CASE WHEN {q} IS NOT NULL THEN _sign ELSE 0 END) AS BIGINT)"
            f" AS {quote(names[1 + 2 * i])}"
        )
        aggs.append(
            f"CAST(sum(_sign * coalesce(CAST(round({q} * {int(scale)}) AS BIGINT), 0))"
            f" AS BIGINT) AS {quote(names[2 + 2 * i])}"
        )
    return (
        u.groupBy(*[qcol(c) for c in group_cols])
        .agg(*[F.expr(a) for a in aggs])
        .where(" OR ".join(f"{quote(m)} != 0" for m in names))
        .selectExpr(
            f"{_group_key(group_cols)} AS {GROUP_KEY_COL}",
            *[quote(c) for c in (*group_cols, *names)],
        )
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
    cur = mv.read(spark).selectExpr(GROUP_KEY_COL, *_current_measures(measures))
    # diff against the current view so untouched groups write nothing
    # and vanished groups tombstone; the delta form reuses the same
    # fenced merge as the incremental path (one commit, one epoch).
    joined = agg.join(cur, GROUP_KEY_COL, "full_outer")
    delta = joined.selectExpr(
        GROUP_KEY_COL,
        *[quote(c) for c in group_cols],
        *[
            f"coalesce({quote(m)}, 0) - coalesce({quote('_cur_' + m)}, 0) AS {quote(m)}"
            for m in measures
        ],
    ).where(" OR ".join(f"{quote(m)} != 0" for m in measures))
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
        changed = changed_keys.selectExpr(
            f"{quote(changed_keys.columns[0])} AS {quote(key)}"
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
    feed = base.read_changed_since(spark, w0).selectExpr(
        quote(key), "_deleted", *[quote(c) for c in need_cols if c != key]
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
        keys_df = changed.selectExpr(quote(key)).distinct()
        need = [quote(c) for c in need_cols]
        live_changed = changed.where("NOT coalesce(_deleted, false)").selectExpr(*need)
        # large key sets keep the broadcast-semi-join plan (a driver-side
        # collect would be the real scale hazard there)
        prior_rows = prior.read_for_keys(spark, keys_df).selectExpr(*need)
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
    cols = [quote(c) for c in (*group_cols, "n_rows")]
    names = [quote(n) for n in _measures(value_cols)]
    for i in range(len(value_cols)):
        n_vals, total = names[1 + 2 * i], names[2 + 2 * i]
        cols.append(n_vals)
        cols.append(f"CASE WHEN {n_vals} > 0 THEN {total} END AS {total}")
    return mv.read(spark).selectExpr(*cols)
