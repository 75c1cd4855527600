"""One collected change set per base-table window, shared by the consumers.

After an epoch the matview refresh, the secondary-index refresh and the
Debezium emitter all need the same thing: the keys that changed between two
snapshots of the base table, with their rows before and after.  For a small
window (at most ``SMALL_BATCH_ROWS`` changed rows) this module collects that
change set to the driver once and memoizes it, so the second and third
consumer of the same window run no feed or point-read job.

A :class:`ChangeSet` over ``(v_from, v_to]`` has two sides:

- ``after``: ``read_changed_since(lsn_high(v_from))`` at ``v_to`` — each
  changed key's winning row, tombstones included, every column plus
  ``_lsn`` and ``_deleted``;
- ``before`` (read on first use): those keys' live rows at ``v_from``, one
  point read (``read_for_keys``) of the time-travelled snapshot.

**Exactness guard** (:func:`is_exact`).  The LSN feed is
exactly the window's changed key set when the manifests prove it: ``v_from``
and ``v_to`` have the same schema, rename log and bucket count; every
bucket's base entry has the same path in both; every bucket's ``v_from``
delta list is a prefix of its ``v_to`` list; and every appended delta
records ``lsn_min > lsn_high(v_from, strict=True)``.  Data files are
immutable, so a key absent from the appended deltas cannot have changed, and
an appended row above every old LSN is that key's true winner.  Compaction,
copy-on-write epochs, vacuum, rollback, rebucket, schema evolution and late
(out-of-order) events all fail the guard.  The emitter, which must diff two
snapshots exactly, uses only exact change sets and otherwise diffs the
snapshots.  The matview and index refreshes already trusted the LSN feed
(the ascending-LSN caveat their docstrings state, and their own rollback and
vacuum checks), so they use the collected sides of any window that fits.

**Memo.**  The last answer — a ChangeSet, or ``None`` for "over the cap" —
is kept per process, keyed by the real root, the table uuid and the data
state of ``v_from`` and ``v_to`` (bucket count, schema, rename log and every
bucket's file references).  Two snapshots with the same data state hold the
same rows, so consumers whose last versions differ only by metadata commits
(a tag, an idle poll's floor bump) share one change set.  Snapshots are
immutable, so the memo cannot go stale, and the cap bounds its size.

Grounding: *Evolution of a Compiling Query Engine* (VLDB 2021) — small
inputs should not pay the planning and scheduling cost that only large
inputs amortise.  The consumers' per-row arithmetic stays in Spark: they
project over :func:`local_frame`, which Spark plans as a local relation, so
the projection runs no job.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import SMALL_BATCH_ROWS
from ..table.exprs import quote
from ..table.icehouse import DELETED_COL, LSN_COL, IcehouseTable
from .apply import holds_type
from .cdf import file_refs, diff_rows

__all__ = [
    "ChangeSet", "change_set", "collect_changed", "collectable", "feed_watermark",
    "is_exact", "local_frame",
]


def collect_changed(
    spark: SparkSession, table: IcehouseTable, lsn_watermark: int, cols: list[str] | None = None
) -> list | None:
    """The collected feed: ``read_changed_since(lsn_watermark)`` (projected
    to ``cols`` when given) in one capped collect, or ``None`` when it holds
    more than ``SMALL_BATCH_ROWS`` rows.  When the files the feed scans hold
    at most that many rows (manifest counts), the collect needs no limit,
    whose incremental partition-by-partition take costs an extra job."""
    feed = table.read_changed_since(spark, lsn_watermark)
    if cols is not None:
        feed = feed.selectExpr(*[quote(c) for c in cols])
    m = table.meta
    scanned = sum(
        e["rows"]
        for e in [*m["partitions"].values(), *(d for ds in m.get("deltas", {}).values() for d in ds)]
        if e.get("lsn_max") is None or e["lsn_max"] > lsn_watermark
    )
    if scanned <= SMALL_BATCH_ROWS:
        return feed.collect()
    rows = feed.limit(SMALL_BATCH_ROWS + 1).collect()
    return rows if len(rows) <= SMALL_BATCH_ROWS else None


def collectable(schema: T.StructType) -> bool:
    """Can rows of ``schema`` make the round trip driver → :func:`local_frame`
    unchanged?  Not with a local-time ``timestamp`` (a collected local
    datetime is ambiguous in a DST fall-back hour), a variant, or a type
    with no Arrow form."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if holds_type(schema, (T.TimestampType, T.VariantType)):
        return False
    try:
        to_arrow_schema(schema)
    except TypeError:
        return False
    return True


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


def feed_watermark(prior: IcehouseTable) -> int:
    """The LSN the window's feed starts above: ``prior``'s high-water
    mark, or -1 when a file lacks LSN stats (every live key is then read —
    O(table), but never short)."""
    return prior.lsn_high(default=-1, strict=True)


def _arrow_value(v, dt: T.DataType):
    """A collected value in the shape ``pyarrow.array`` takes for ``dt``."""
    if v is None:
        return None
    if isinstance(dt, T.StructType):
        return {f.name: _arrow_value(x, f.dataType) for f, x in zip(dt.fields, v)}
    if isinstance(dt, T.ArrayType):
        if isinstance(dt.elementType, (T.StructType, T.ArrayType, T.MapType, T.BinaryType)):
            return [_arrow_value(x, dt.elementType) for x in v]
        return v
    if isinstance(dt, T.MapType):
        return [(_arrow_value(k, dt.keyType), _arrow_value(x, dt.valueType)) for k, x in v.items()]
    if isinstance(dt, T.BinaryType):
        return bytes(v)
    return v


def local_frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """Driver-held rows as a DataFrame that Spark plans as a local relation,
    so a projection or filter over it and its collect run no Spark job.  It
    goes through an Arrow table: ``createDataFrame`` of a Python list is an
    RDD scan, one job per action."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = [
        pa.array([_arrow_value(r[i], f.dataType) for r in rows], type=arrow_schema.field(i).type)
        for i, f in enumerate(schema.fields)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema), schema)


class ChangeSet:
    """The collected change set of the window ``(prior, head]`` — see the
    module docstring.  ``after`` holds the winning rows at ``head`` (every
    column, then ``_lsn`` and ``_deleted``) of the keys changed above
    :func:`feed_watermark` of ``prior``."""

    def __init__(self, prior: IcehouseTable, head: IcehouseTable, after: list):
        self.prior, self.head, self.after = prior, head, after
        self.key = head.key_col
        self._before: dict | None = None

    def before(self, spark: SparkSession) -> dict:
        """The changed keys' live rows at ``prior``, by key (one point read,
        on first use)."""
        if self._before is None:
            keys = [r[self.key] for r in self.after]
            rows = self.prior.read_for_keys(spark, keys).collect() if keys else []
            self._before = {r[self.key]: r for r in rows}
        return self._before

    def images(self, spark: SparkSession) -> DataFrame:
        """The window as :func:`.cdf.snapshot_diff_images` gives it —
        ``(key, op, before, after, lsn)`` — through the same
        :func:`.cdf.diff_rows`, over a local frame: no Spark job."""
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


_memo: dict[tuple, ChangeSet | None] = {}
_memo_lock = threading.Lock()


def change_set(
    spark: SparkSession, prior: IcehouseTable, head: IcehouseTable
) -> ChangeSet | None:
    """The change set of ``(prior, head]`` — two snapshots of one table —
    or ``None`` when more than ``SMALL_BATCH_ROWS`` keys changed above
    ``lsn_high(prior)``.  Memoized (module docstring)."""
    memo_key = (
        os.path.realpath(head.root),
        head.meta.get("table_uuid"),
        _data_state(prior.meta),
        _data_state(head.meta),
    )
    with _memo_lock:
        if memo_key in _memo:
            return _memo[memo_key]
    after = collect_changed(spark, head, feed_watermark(prior))
    cs = None if after is None else ChangeSet(prior, head, after)
    with _memo_lock:
        _memo.clear()
        _memo[memo_key] = cs
    return cs
