"""One exact, collected change set per base-table window, shared by the
consumers.

After an epoch the matview refresh, the secondary-index refresh and the
Debezium emitter all need the same thing: the keys that changed between two
snapshots of the base table, with their rows before and after.  For a window
of at most ``SMALL_BATCH_ROWS`` changed keys this module collects that change
set to the driver once and memoizes it, so the second and third consumer of
the same window run no job to get it.  Over the cap :func:`change_set`
returns ``None`` and each consumer reads the same two sides as Spark frames
(:func:`after_frame`, :func:`before_frame`), from the same two sources.

A :class:`ChangeSet` over ``(v_from, v_to]`` holds every key whose live row
differs between the two snapshots, in two sides:

- ``after``: each changed key's row at ``v_to`` — every column, then
  ``_lsn`` and ``_deleted`` (a delete is a tombstone row, payload null);
- ``before`` (:meth:`ChangeSet.before`): those keys' live rows at
  ``v_from``, by key.

It is built one of two ways, with the same answer:

- **LSN feed**, when :func:`is_exact` proves from the two manifests that
  ``read_changed_since(lsn_high(v_from))`` at ``v_to`` is exactly the
  window's changed keys: ``v_from`` and ``v_to`` have the same schema,
  rename log and bucket count; every bucket's base entry has the same path
  in both; every bucket's ``v_from`` delta list is a prefix of its ``v_to``
  list; and every appended delta records ``lsn_min > lsn_high(v_from,
  strict=True)``.  Data files are immutable, so a key absent from the
  appended deltas cannot have changed, and an appended row above every old
  LSN is that key's true winner.  ``before`` is then one point read
  (``read_for_keys``) of the time-travelled ``v_from``, on first use.  This
  is the per-epoch merge-on-read poll.  The feed may also carry keys
  rewritten to the row they held (a no-op update, a delete of a key that
  was never live); every consumer treats those as no change.  Over the
  cap the feed is still the source: it scans only the appended deltas.
- **Snapshot diff**, for every other window — compaction, copy-on-write
  epochs, vacuum, rollback, rebucket, schema evolution, late (out-of-order)
  events: the changed-bucket ``snapshot_diff_images`` is collected and both
  sides are filled from it.  Over the cap it is persisted once per window
  (:func:`window_diff`) and every consumer projects it.

**Memo.**  The last window's answer — a ChangeSet, or ``None`` for "over
the cap", and its persisted diff if one was built — is kept per process,
keyed by the real root, the table uuid and the data state of ``v_from`` and
``v_to`` (bucket count, schema, rename log and every bucket's file
references).  Two snapshots with the same data state hold the same rows,
so consumers whose last versions differ only by metadata commits (a tag,
an empty window's floor bump) share one change set.  Snapshots are
immutable, so the memo cannot go stale; the next window releases it.

**Consumer windows.**  A consumer table records the base version it
reflects in its own exactly-once registry (:func:`applied_version`, written
atomically with its data) and, for a window that changed nothing, in a floor
property (:func:`finish_window`).  Its next window starts there.

Grounding: *Evolution of a Compiling Query Engine* (VLDB 2021) — small
inputs should not pay the planning and scheduling cost that only large
inputs amortise.  The consumers' per-row arithmetic stays in Spark: they
project over :func:`.driver_rows.local_frame`, which Spark plans as a local
relation, so the projection runs no job.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from ..session import SMALL_BATCH_ROWS
from ..table.exprs import quote
from ..table.icehouse import DELETED_COL, LSN_COL, IcehouseTable
from .cdf import changed_buckets, diff_rows, file_refs, snapshot_diff_images
from .driver_rows import local_frame

__all__ = [
    "ChangeSet", "after_frame", "applied_version", "before_frame", "change_set",
    "finish_window", "is_exact", "window_diff",
]


def applied_version(consumer: IcehouseTable, ns: str, floor_prop: str) -> int | None:
    """The base version a consumer table reflects: the highest epoch its
    own registry committed in ``ns`` (epoch = base version, written
    atomically with the data, so it cannot run ahead of the data), or the
    ``floor_prop`` property an empty window advanced, whichever is higher.
    ``None`` when the consumer has neither."""
    last = consumer.last_epoch(ns)
    floor = consumer.meta.get("properties", {}).get(floor_prop)
    found = [v for v in (last, None if floor is None else int(floor)) if v is not None]
    return max(found, default=None)


def finish_window(
    consumer: IcehouseTable, ns: str, floor_prop: str, base_version: int
) -> None:
    """Close a consumer's window at ``base_version`` and reload the
    consumer.  A window that committed no data registered no epoch, so the
    floor advances instead (a pure-metadata commit: there is no data whose
    application it could outrun), and the next window starts here rather
    than re-walking an ever longer one."""
    consumer.refresh()
    if not consumer.epoch_committed(base_version, ns):
        consumer.update_properties({floor_prop: base_version})
        consumer.refresh()


def is_exact(prior: IcehouseTable, head: IcehouseTable) -> bool:
    """The exactness guard (module docstring), from the two manifests
    alone: is ``read_changed_since(lsn_high(prior))`` at ``head`` exactly
    the keys that changed in ``(prior, head]``?"""
    pm, hm = prior.meta, head.meta
    if (
        pm["schema"] != hm["schema"]
        or pm["n_buckets"] != hm["n_buckets"]
        or pm.get("column_renames", []) != hm.get("column_renames", [])
    ):
        return False
    p0, p1 = pm["partitions"], hm["partitions"]
    d0, d1 = pm.get("deltas", {}), hm.get("deltas", {})
    w0 = prior.lsn_high(strict=True)
    if w0 is None:
        if p0 or any(d0.values()):
            return False  # a file without LSN stats: the mark proves nothing
        w0 = -1
    if set(p0) != set(p1) or any(p0[b]["path"] != p1[b]["path"] for b in p0):
        return False
    for b in set(d0) | set(d1):
        old, new = d0.get(b, []), d1.get(b, [])
        if [d["path"] for d in new[: len(old)]] != [d["path"] for d in old]:
            return False
        if any(d.get("lsn_min") is None or d["lsn_min"] <= w0 for d in new[len(old):]):
            return False
    return True


class ChangeSet:
    """The collected change set of the window ``(prior, head]`` — see the
    module docstring.  ``after`` holds the changed keys' rows at ``head``
    (every column, then ``_lsn`` and ``_deleted``).  A change set built
    from the snapshot diff keeps the collected diff rows (``diff``: rows
    and schema), and its ``before`` side is filled from them."""

    def __init__(
        self,
        prior: IcehouseTable,
        head: IcehouseTable,
        after: list,
        before: dict | None = None,
        diff: tuple[list, T.StructType] | None = None,
    ):
        self.prior, self.head, self.after = prior, head, after
        self.key = head.key_col
        self._before = before
        self._diff = diff

    def before(self, spark: SparkSession) -> dict:
        """The changed keys' live rows at ``prior``, by key (on the feed
        path one point read, on first use)."""
        if self._before is None:
            keys = [r[self.key] for r in self.after]
            rows = self.prior.read_for_keys(spark, keys).collect() if keys else []
            self._before = {r[self.key]: r for r in rows}
        return self._before

    def images(self, spark: SparkSession) -> DataFrame:
        """The window as :func:`.cdf.snapshot_diff_images` gives it —
        ``(key, op, before, after, lsn)`` — over a local frame: no Spark
        job.  The feed path builds it through the same :func:`.cdf.diff_rows`."""
        if self._diff is not None:
            return local_frame(spark, *self._diff)
        schema, key = self.head.schema, self.key
        names = schema.fieldNames()
        k = names.index(key)
        vals = [i for i in range(len(names)) if i != k]
        value = T.StructType(
            [T.StructField(schema.fields[i].name, schema.fields[i].dataType) for i in vals]
        )
        before = self.before(spark)
        rows = []
        for r in self.after:
            b = before.get(r[k])
            rows.append(
                (
                    r[k],
                    None if b is None else tuple(b[i] for i in vals),
                    tuple(r[i] for i in vals),
                    r[DELETED_COL],
                    r[LSN_COL],
                )
            )
        frame = T.StructType(
            [
                T.StructField("_k", schema[key].dataType),
                T.StructField("_before", value),
                T.StructField("_after_raw", value),
                T.StructField("_dead", T.BooleanType()),
                T.StructField("_vlsn", T.LongType()),
            ]
        )
        return diff_rows(local_frame(spark, rows, frame), key)


def _entries(meta: dict):
    """``(bucket, manifest entry)`` of every live base and delta file."""
    yield from meta["partitions"].items()
    for b, ds in meta.get("deltas", {}).items():
        for d in ds:
            yield b, d


def _from_feed(spark: SparkSession, prior: IcehouseTable, head: IcehouseTable) -> ChangeSet | None:
    """The feed build of an :func:`is_exact` window.  When the files it
    scans hold at most ``SMALL_BATCH_ROWS`` rows (manifest counts) the
    collect needs no limit, whose incremental partition-by-partition take
    costs extra jobs."""
    w0 = prior.lsn_high(default=-1, strict=True)
    feed = head.read_changed_since(spark, w0)
    scanned = sum(
        e["rows"]
        for _, e in _entries(head.meta)
        if e.get("lsn_max") is None or e["lsn_max"] > w0
    )
    if scanned <= SMALL_BATCH_ROWS:
        return ChangeSet(prior, head, feed.collect())
    after = feed.limit(SMALL_BATCH_ROWS + 1).collect()
    return None if len(after) > SMALL_BATCH_ROWS else ChangeSet(prior, head, after)


def _from_diff(spark: SparkSession, prior: IcehouseTable, head: IcehouseTable) -> ChangeSet | None:
    """The snapshot-diff build: the collected changed-bucket diff, turned
    into the two sides.  When the changed buckets hold more than
    ``SMALL_BATCH_ROWS`` rows the diff may not fit, so the capped collect
    reads :func:`window_diff`, which the consumers then share."""
    buckets = changed_buckets(prior.meta, head.meta)
    scanned = sum(
        e["rows"]
        for t in (prior, head)
        for b, e in _entries(t.meta)
        if buckets is None or int(b) in buckets
    )
    if scanned <= SMALL_BATCH_ROWS:
        diff = snapshot_diff_images(spark, head.root, prior.version, head.version)
        rows = diff.collect()
    else:
        diff = window_diff(spark, prior, head)
        rows = diff.limit(SMALL_BATCH_ROWS + 1).collect()
        if len(rows) > SMALL_BATCH_ROWS:
            return None
    key, names = head.key_col, head.schema.fieldNames()
    value_names = diff.schema["before"].dataType.fieldNames()
    after_row = Row(*names, LSN_COL, DELETED_COL)
    before_row = Row(key, *value_names)
    after, before = [], {}
    for k, op, b, a, lsn in rows:
        after.append(
            after_row(*[k if n == key else None if a is None else a[n] for n in names],
                      lsn, op == "D")
        )
        if b is not None:
            before[k] = before_row(k, *b)
    return ChangeSet(prior, head, after, before, (rows, diff.schema))


def _data_state(meta: dict) -> str:
    """What a snapshot's rows depend on, as one string: bucket count,
    schema, rename log and each bucket's file references."""
    return json.dumps(
        [
            meta["n_buckets"],
            meta["schema"],
            meta.get("column_renames", []),
            sorted(file_refs(meta).items()),
        ],
        sort_keys=True,
    )


def _window_key(prior: IcehouseTable, head: IcehouseTable) -> tuple:
    root, uuid = os.path.realpath(head.root), head.meta.get("table_uuid")
    return root, uuid, _data_state(prior.meta), _data_state(head.meta)


#: the last window's memo entry, by :func:`_window_key`: ``cs`` (a
#: ChangeSet, or ``None`` over the cap) and ``diff`` (its persisted diff)
_memo: dict[tuple, dict] = {}
_memo_lock = threading.Lock()


def _entry(window: tuple) -> dict:
    """The memo entry of ``window`` (the caller holds the lock).  A new
    window replaces the last one and releases its persisted diff."""
    if window not in _memo:
        for old in _memo.values():
            if old.get("diff") is not None:
                old["diff"].unpersist()
        _memo.clear()
        _memo[window] = {}
    return _memo[window]


def change_set(
    spark: SparkSession, prior: IcehouseTable, head: IcehouseTable
) -> ChangeSet | None:
    """The exact change set of ``(prior, head]`` — two snapshots of one
    table — or ``None`` when more than ``SMALL_BATCH_ROWS`` keys changed.
    Built from the LSN feed when :func:`is_exact` holds, else from the
    snapshot diff; memoized (module docstring)."""
    window = _window_key(prior, head)
    with _memo_lock:
        entry = _entry(window)
        if "cs" in entry:
            return entry["cs"]
    cs = (_from_feed if is_exact(prior, head) else _from_diff)(spark, prior, head)
    with _memo_lock:
        _entry(window)["cs"] = cs
    return cs


def window_diff(spark: SparkSession, prior: IcehouseTable, head: IcehouseTable) -> DataFrame:
    """The window's :func:`.cdf.snapshot_diff_images`.  When :func:`is_exact`
    fails every consumer reads it, so it is persisted and kept in the memo
    until the next window: one diff per window.  An exact window's
    consumers read the feed, so its diff (emit's) is not persisted."""
    if is_exact(prior, head):
        return snapshot_diff_images(spark, head.root, prior.version, head.version)
    with _memo_lock:  # planning only: the diff runs at its first action
        entry = _entry(_window_key(prior, head))
        if "diff" not in entry:
            entry["diff"] = snapshot_diff_images(
                spark, head.root, prior.version, head.version
            ).persist()
        return entry["diff"]


def after_frame(
    spark: SparkSession, prior: IcehouseTable, head: IcehouseTable, cols: list[str]
) -> DataFrame:
    """The ``after`` side of ``(prior, head]`` over the cap: each changed
    key's ``cols`` (the key first) at ``head``, then ``_deleted``.  The LSN
    feed when :func:`is_exact` holds, persisted (the caller unpersists it);
    else a projection of :func:`window_diff`."""
    key, rest = quote(cols[0]), [quote(c) for c in cols[1:]]
    deleted = f"coalesce({DELETED_COL}, false) AS {DELETED_COL}"
    if is_exact(prior, head):
        feed = head.read_changed_since(spark, prior.lsn_high(default=-1, strict=True))
        return feed.selectExpr(key, *rest, deleted).persist()
    return window_diff(spark, prior, head).selectExpr(
        key, *[f"`after`.{c} AS {c}" for c in rest], f"`op` = 'D' AS {DELETED_COL}"
    )


def before_frame(
    spark: SparkSession, prior: IcehouseTable, head: IcehouseTable, after: DataFrame
) -> DataFrame:
    """The ``before`` side of :func:`after_frame`'s ``after``: those keys'
    live rows at ``prior``, same columns — a point read of ``prior`` on the
    feed (one keys-sized job finds the buckets), the ``before`` images on
    the diff."""
    cols = [quote(c) for c in after.columns if c != DELETED_COL]
    if is_exact(prior, head):
        return prior.read_for_keys(spark, after.selectExpr(cols[0])).selectExpr(*cols)
    return window_diff(spark, prior, head).where("`before` IS NOT NULL").selectExpr(
        cols[0], *[f"`before`.{c} AS {c}" for c in cols[1:]]
    )
