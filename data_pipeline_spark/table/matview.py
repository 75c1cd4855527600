"""Incrementally-maintained materialized views over icehouse tables.

A materialized view here is a grouped-aggregate table (COUNT / fixed-point
SUM per group — the self-maintainable aggregates of incremental view
maintenance) that is itself an :class:`~.icehouse.IcehouseTable`, keyed by a
deterministic group key and kept in sync with its BASE table's change feed
without ever rescanning the base:

    new_agg(g) = old_agg(g) - contrib(rows of changed keys AT the last
                              refreshed snapshot)
                            + contrib(current winning rows of changed keys)

Per refresh the engine touches O(changed keys + affected groups) data.
The window ``(last refreshed version, current version]`` is one exact change
set of the base (``cdc/changeset.py``, shared with the index refresh and
the emitter): each changed key's current winning row, and its row at the
last refreshed snapshot — the base's **time-travelled snapshot** (pending
snapshot expiry, history is already on disk, so "what did these keys look
like last time" is a read, not a second copy of the table).  The affected
groups' current aggregates come from a bucket-pruned point read of the view
itself.  The change set is exact for every window — compaction, rollback,
vacuum, out-of-order LSNs included — so the view never guesses whether a
feed can be trusted.

Exactly-once without a second ledger: the refresh commit is fenced through
the view table's own epoch registry with ``epoch = base snapshot version``
(namespace ``mv-refresh``), so the last refreshed base version is *derived
from the registry*, not from a property that could go stale — a refresh
that crashes between its data commit and anything else simply re-runs: the
fence skips the data apply and the next delta picks up from the committed
version.

The reference recomputes every rollup from scratch per run (the
``FactProductPrice`` summary queries in
``notification_service/bigquery_queries.py`` and the validation rollups in
``staging_schema.py`` are full-table GROUP BYs on a schedule).  At 10^10
rows the full re-aggregate per epoch is the dominant cost; this module is
the O(changed-data) form, stacked on the same commit protocol as the data
path.

Scale shape: no global shuffle ever touches the whole base table.  A small
window is one collected change set: its signed delta is summed on the driver
and the MERGE of small view buckets runs on the driver and is written as a
local relation in one job, 5 Spark jobs in all on the per-epoch MOR poll
(more as the prior snapshot's pending deltas pile up: its point read
resolves them).  A larger window is read as Spark frames of the
same two sides — the LSN feed plus a point read of the prior snapshot when
the manifests prove it exact, else the changed-bucket snapshot diff — then
one groupBy of the two sides, one keyed MERGE into the view.  Measures
are fixed-point BIGINT so increments are exact and order-independent — a
float sum would drift from a from-scratch recompute and fail the oracle.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .exprs import col as qcol
from .exprs import quote, quote_all
from .icehouse import DELETED_COL, CommitResult, IcehouseTable
from ..cdc.apply import ApplyStats, apply_changes, apply_changes_local
from ..cdc.changeset import (
    ChangeSet,
    after_frame,
    applied_version,
    before_frame,
    change_set,
    finish_window,
)
from ..cdc.driver_rows import collectable, driver_frame, holds_type, local_frame

GROUP_KEY_COL = "group_key"
_REFRESH_NS = "mv-refresh"
_FLOOR = "mv.refreshed_floor"
_FLOATS = (T.FloatType, T.DoubleType)


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
    advances the ``mv.refreshed_floor`` property instead
    (:func:`~..cdc.changeset.finish_window`), so repeated no-op refreshes
    don't re-walk ever-longer windows."""
    high = applied_version(mv, _REFRESH_NS, _FLOOR)
    if high is None:
        raise ValueError(
            f"{mv.root} has no committed mv-refresh epoch — not a materialized "
            "view created by create_matview?"
        )
    return high


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
            _FLOOR: base.version,
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
    refresh floor advances instead (:func:`~..cdc.changeset.finish_window`)."""
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
    finish_window(mv, _REFRESH_NS, _FLOOR, base_version)
    return stats


def _commit_local_delta(
    spark: SparkSession,
    mv: IcehouseTable,
    delta: list[tuple],
    group_cols: list[str],
    measures: list[str],
    base_version: int,
) -> CommitResult:
    """Fold a small signed delta held on the driver (one tuple per affected
    group, in view-column order: ``group_key, *group_cols, *measures``)
    into the view — the same merged rows and the same fenced commit as
    :func:`_apply_view_delta`, built on the driver by
    :func:`~..cdc.apply.apply_changes_local` (which re-merges against a
    fresh read of the view after a conflict).  The merge is keyed by the
    ``group_key`` JSON string, so group columns of any type (arrays, maps)
    work.  View buckets too big for the driver take
    :func:`_apply_view_delta` on a local frame of the delta
    (:func:`~..cdc.driver_rows.driver_frame`).  Finishes the
    refresh (:func:`~..cdc.changeset.finish_window`)."""
    if not delta:
        # nothing to commit: the refresh floor advances instead
        finish_window(mv, _REFRESH_NS, _FLOOR, base_version)
        return CommitResult(mv.version, mv.meta["snapshot_id"], base_version)
    fixed = 1 + len(group_cols)

    def changes_for(current: dict) -> list[tuple]:
        out = []
        for d in delta:
            cur = current.get(d[0])
            merged = [
                (0 if cur is None else cur[m] or 0) + v for m, v in zip(measures, d[fixed:])
            ]
            out.append((base_version, "D" if merged[0] <= 0 else "U", *d[:fixed], *merged))
        return out

    stats = apply_changes_local(
        spark, mv, [d[0] for d in delta], changes_for,
        epoch=base_version, epoch_source=_REFRESH_NS,
    )
    if stats is None:
        return _apply_view_delta(
            mv, driver_frame(spark, delta, mv.schema), group_cols, base_version, measures,
        ).result
    finish_window(mv, _REFRESH_NS, _FLOOR, base_version)
    return stats.result


def _need_frame(schema: T.StructType, need: list[str]) -> T.StructType:
    """The local frame :func:`_change_set_delta` projects over: the group
    and value columns, then the row's sign."""
    return T.StructType(
        [T.StructField(c, schema[c].dataType) for c in need]
        + [T.StructField("_sign", T.IntegerType())]
    )


def _change_set_delta(
    spark: SparkSession,
    cs: ChangeSet,
    group_cols: list[str],
    value_cols: list[str],
    scale: int,
) -> list[tuple]:
    """The signed per-group delta of a collected change set, as
    :func:`_signed_delta` computes it: the before side retracts (−1), the
    live after rows add (+1).  Spark computes each row's group key and
    fixed-point values (``to_json(struct(...))``, ``CAST(round(v * scale) AS
    BIGINT)``) in one projection over a local frame, which runs no job; the
    sums are exact Python integers.  Returns ``(group_key, *group_cols,
    *measures)`` tuples for the groups whose measures moved."""
    need = list(dict.fromkeys(group_cols + value_cols))
    at = [cs.head.schema.fieldNames().index(c) for c in need]
    # before rows are read at the prior snapshot: address them by name
    rows = [(*[r[c] for c in need], -1) for r in cs.before(spark).values()]
    rows += [(*[r[i] for i in at], 1) for r in cs.after if not r[DELETED_COL]]
    if not rows:
        return []
    frame = _need_frame(cs.head.schema, need)
    values = []
    for c in value_cols:
        q = quote(c)
        values += [
            f"CAST({q} IS NOT NULL AS INT)",
            f"coalesce(CAST(round({q} * {int(scale)}) AS BIGINT), 0)",
        ]
    local = local_frame(spark, rows, frame)
    zeros = {
        c: f"{quote(c)} + CAST(0 AS {frame[c].dataType.simpleString()})"
        for c in group_cols
        if isinstance(frame[c].dataType, _FLOATS)
    }
    if zeros:
        # Spark's grouping folds -0.0 into 0.0; adding a zero of the
        # column's own type does the same before the key is built
        local = local.selectExpr(
            *[f"{zeros[c]} AS {quote(c)}" if c in zeros else quote(c) for c in frame.names]
        )
    projected = local.selectExpr(
        f"{_group_key(group_cols)} AS {GROUP_KEY_COL}",
        *[quote(c) for c in group_cols],
        "_sign",
        *values,
    ).collect()
    fixed = 1 + len(group_cols)
    sums: dict[str, tuple[tuple, list[int]]] = {}
    for r in projected:
        g = sums.get(r[0])
        if g is None:
            g = sums[r[0]] = (tuple(r[1:fixed]), [0] * (1 + len(values)))
        sign, acc = r[fixed], g[1]
        acc[0] += sign
        for j, v in enumerate(r[fixed + 1:], start=1):
            acc[j] += sign * v
    return [(k, *grp, *acc) for k, (grp, acc) in sums.items() if any(acc)]


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
    auto_full_ratio: float = 0.2,
) -> RefreshStats:
    """Bring the view up to the base table's CURRENT snapshot.

    Incremental by default (O(changed keys + affected groups)); ``full=True``
    forces a from-scratch re-aggregate diffed against the view (one base
    scan, still a single fenced commit).  The refresh recomputes on its own
    only when the incremental retract side cannot be read: the prior
    snapshot's metadata was expired, or the view's columns did not exist
    in it.  Either way the commit is fenced on ``epoch = base version``,
    so concurrent or crash-retried refreshes of the same version are
    no-ops and the watermark can never run ahead of the applied data.

    The window ``(refreshed version, current version]`` is one exact
    change set (:func:`~..cdc.changeset.change_set`) — a base rollback,
    compaction, tombstone vacuum or out-of-order apply in between needs no
    special case.  When at most ``SMALL_BATCH_ROWS`` keys changed it is
    collected (and memoized for the index and emit refreshes of the same
    window): the signed per-group delta is summed on the driver over its
    two sides — a projection over a local frame gives Spark's group key
    and fixed-point values without a job — and the view merge and its
    fenced commit are built driver-side (:func:`_commit_local_delta`).
    On a MOR base with 8 view buckets that is 5 Spark jobs, the commit's
    write one of them (tests/test_small_batch_refresh.py pins the budget).  Larger windows
    take the Spark path: the signed delta of the window's two sides as
    Spark frames (:func:`~..cdc.changeset.after_frame`, ``before_frame``:
    the LSN feed and a point read of the prior snapshot when the window is
    exact, else the snapshot diff; ``before`` rows retract, ``after`` rows
    add) merged by :func:`_apply_view_delta`; so do views whose group
    columns nest floats inside arrays or structs (Spark's grouping folds
    -0.0 into 0.0 there too) or hold types that cannot round-trip through
    the driver.

    AUTO-CROSSOVER (``auto_full_ratio``): on the Spark path, when the
    window's changed-key count exceeds ``auto_full_ratio × base physical rows``, the
    refresh auto-selects the full recompute — at that delta fraction the
    incremental path reads most buckets anyway and the one-scan
    re-aggregate is cheaper.  The rule is a pure cost heuristic: both paths
    commit the identical fenced delta.  Set ``auto_full_ratio=0`` to
    disable (always incremental), or pass ``full=True`` to force the
    recompute.
    """
    mv.refresh()
    base_root, group_cols, value_cols, scale = _view_spec(mv)
    measures = _measures(value_cols)
    base = IcehouseTable.load(base_root)  # pins the target snapshot
    v0 = _last_refreshed_version(mv)
    v1 = base.version
    if v1 <= v0:
        return RefreshStats("skipped", v0, v0, None)

    def recompute() -> RefreshStats:
        return _full_refresh(spark, mv, base, group_cols, value_cols, scale, measures, v0, v1)

    if full:
        return recompute()
    try:
        prior = IcehouseTable.load(base_root, version=v0)
    except FileNotFoundError:
        return recompute()  # snapshot expired — incremental retract impossible
    need_cols = list(dict.fromkeys(group_cols + value_cols))
    if any(c not in prior.schema.fieldNames() for c in need_cols):
        # the view's columns didn't exist at the prior snapshot (added
        # since) — the retract side cannot be expressed
        return recompute()

    cs = None
    if collectable(_need_frame(base.schema, need_cols)) and not any(
        not isinstance(dt, _FLOATS) and holds_type(dt, _FLOATS)
        for dt in (base.schema[c].dataType for c in group_cols)
    ):
        cs = change_set(spark, prior, base)
    if cs is not None:
        delta = _change_set_delta(spark, cs, group_cols, value_cols, scale)
        result = _commit_local_delta(spark, mv, delta, group_cols, measures, v1)
        return RefreshStats("incremental", v0, v1, result)

    # SPARK PATH: the window's two sides as Spark frames, its changed keys
    # counted once for the auto-crossover rule
    after = after_frame(
        spark, prior, base, [base.key_col, *[c for c in need_cols if c != base.key_col]]
    )
    try:
        if auto_full_ratio and after.count() > auto_full_ratio * max(base.row_count(), 1):
            return recompute()
        live = after.where(f"NOT {DELETED_COL}")
        before = before_frame(spark, prior, base, after)
        delta = _signed_delta(before, live, group_cols, value_cols, scale)
        stats = _apply_view_delta(mv, delta, group_cols, v1, measures)
    finally:
        after.unpersist()
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
