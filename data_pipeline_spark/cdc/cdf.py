"""Changed-data feed: reconstruct the row-level I/U/D delta between any two
committed table versions (or tags) from their time-travelable snapshots.

The reference has no history surface at all — consumers that want "what
changed since yesterday?" re-diff full BigQuery extracts client-side
(the anomaly/notification services re-query whole fact slices every run,
``notification_service/bigquery_queries.py``, ``anomaly_detection/big_query/
extraction.py``).  Lakehouse engines expose this as a changed-data feed;
here it falls out of snapshot isolation: every version is retained and
readable (``IcehouseTable.load(root, version=…)``), so the delta is one
key-wise full-outer join of two snapshots.

:func:`snapshot_diff_images` is that join, with both images per row (the
Debezium emitter's input, ``cdc/emit.py``); :func:`snapshot_diff` flattens
it to one image per row.

Scale: when both snapshots share a bucket count and a column mapping,
only the buckets whose manifest entries differ are read — a bucket whose
base file and delta list are the same files in both snapshots holds the
same rows in both, so an epoch's diff costs O(changed buckets), not
O(table).  Otherwise (a rebucket, a rename or drop in between) both whole
snapshots are read.  Both scans prune to the same bucket layout, so Spark
co-partitions the join on the key; unchanged rows are dropped by a struct
null-safe compare.  The trade for not persisting per-commit change files
(the write path stays one pass; see ``BENCH.md`` on why the write path
refuses extra materializations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..table.exprs import conform, quote, quote_all
from ..table.icehouse import DELETED_COL, LSN_COL, IcehouseTable


def resolve_ref(root: str, ref: "int | str") -> int:
    """A version number, or the version a tag of the table at ``root`` names."""
    if isinstance(ref, str):
        tags = IcehouseTable.load(root).meta.get("tags", {})
        if ref not in tags:
            raise KeyError(f"no tag {ref!r} on table {root}")
        return int(tags[ref])
    return int(ref)


def file_refs(meta: dict) -> dict[str, tuple]:
    """Per bucket: its base file path and delta file paths."""
    parts, deltas = meta["partitions"], meta.get("deltas", {})
    return {
        b: (parts.get(b, {}).get("path"), tuple(d["path"] for d in deltas.get(b, [])))
        for b in set(parts) | {b for b, ds in deltas.items() if ds}
    }


def changed_buckets(old_meta: dict, new_meta: dict) -> "list[int] | None":
    """Buckets whose rows can differ between two snapshots of one table: the
    ones whose base file or delta list differ.  ``None`` when that cannot be
    told from file references — a different bucket count, or a different
    rename / drop log (the same file then reads as other columns)."""
    if (
        old_meta["n_buckets"] != new_meta["n_buckets"]
        or old_meta.get("column_renames", []) != new_meta.get("column_renames", [])
        or old_meta.get("dropped_columns", []) != new_meta.get("dropped_columns", [])
    ):
        return None
    old, new = file_refs(old_meta), file_refs(new_meta)
    return sorted(int(b) for b in set(old) | set(new) if old.get(b) != new.get(b))


def diff_rows(joined: DataFrame, key: str) -> DataFrame:
    """The two-image delta rows of a key-wise join of two snapshots.

    ``joined`` holds ``_k`` (the key), ``_before`` (the FROM row's value
    struct, null when the key was not live there), ``_after_raw`` (the TO
    row's value struct, tombstones included), ``_dead`` and ``_vlsn``
    (the TO row's tombstone flag and LSN).  Unchanged keys, no-op updates
    and deletes of keys that were never live drop out."""
    after_live = "(_after_raw IS NOT NULL AND NOT coalesce(_dead, false))"
    op = (
        f"CASE WHEN _before IS NULL AND {after_live} THEN 'I'"
        f" WHEN _before IS NOT NULL AND {after_live}"
        " AND NOT (_before <=> _after_raw) THEN 'U'"
        f" WHEN _before IS NOT NULL AND NOT {after_live} THEN 'D' END"
    )
    return joined.selectExpr(
        f"_k AS {quote(key)}",
        f"{op} AS `op`",
        "_before AS `before`",
        f"CASE WHEN {after_live} THEN _after_raw END AS `after`",
        "_vlsn AS `lsn`",
    ).where("`op` IS NOT NULL")


def snapshot_diff_images(
    spark: SparkSession,
    root: str,
    v_from: "int | str",
    v_to: "int | str",
) -> DataFrame:
    """Two-image row-level delta between two committed versions:
    ``(key, op I/U/D, before struct|null, after struct|null, lsn)``.

    ``before`` is the row's value struct in ``v_from`` (null for inserts),
    ``after`` its value struct in ``v_to`` (null for deletes) — the
    two-image form of :func:`snapshot_diff` (which keeps one image per
    row).  ``lsn`` is the TRUE LSN of the ``v_to`` row that won
    the key — for deletes, the retained tombstone's LSN; if a tombstone was
    compacted away between the versions the lsn is null and the emitter
    substitutes the snapshot watermark.

    Value columns are the union of both schemas, so additive evolution
    between the versions surfaces as ``before.<new_col> = null`` — exactly
    how the table itself reads pre-evolution files.
    """
    vf = resolve_ref(root, v_from)
    try:
        old_t = IcehouseTable.load(root, version=vf)
    except FileNotFoundError:
        if vf != 0:
            raise
        # v0 is BY CONSTRUCTION the empty table; if snapshot retention has
        # expired its metadata, a bootstrap diff (0 -> head) still has a
        # well-defined answer — every live head row as an insert
        old_t = None
    new_t = IcehouseTable.load(root, version=resolve_ref(root, v_to))
    key = new_t.key_col
    fields: dict[str, object] = {}
    old_fields = list(old_t.schema.fields) if old_t is not None else []
    for f in old_fields + list(new_t.schema.fields):
        if f.name != key and f.name not in fields:
            fields[f.name] = f.dataType
    value_cols = list(fields)

    buckets = (
        changed_buckets(old_t.meta, new_t.meta) if old_t is not None else None
    )

    def _image(t: IcehouseTable, alias: str, with_tombstones: bool):
        # live rows define presence in the FROM snapshot; the TO snapshot
        # keeps tombstones so a delete's true LSN rides along.  A value
        # column the snapshot lacks reads as a typed NULL.
        df = t.read(spark, partitions=buckets, with_meta=with_tombstones)
        have = {f.name: f.dataType for f in df.schema.fields}
        full = conform(
            df,
            T.StructType(
                [
                    T.StructField(c, have[c] if c in have else fields[c])
                    for c in (key, *value_cols)
                ]
            ),
            extra=(
                [
                    f"coalesce({quote(DELETED_COL)}, false) AS _dead",
                    f"{quote(LSN_COL)} AS _vlsn",
                ]
                if with_tombstones
                else []
            ),
        )
        return full.selectExpr(
            f"{quote(key)} AS _k",
            f"struct({quote_all(value_cols)}) AS {alias}",
            *(["_dead", "_vlsn"] if with_tombstones else []),
        )

    new = _image(new_t, "_after_raw", with_tombstones=True)
    old = (
        _image(old_t, "_before", with_tombstones=False)
        if old_t is not None
        else _image(new_t, "_before", with_tombstones=False).limit(0)
    )
    return diff_rows(old.join(new, "_k", "full_outer"), key)


def snapshot_diff(
    spark: SparkSession,
    root: str,
    v_from: "int | str",
    v_to: "int | str",
) -> DataFrame:
    """Row-level delta from version (or tag) ``v_from`` to ``v_to`` of the
    table at ``root``: one row per changed key with ``op`` ∈ I/U/D and the
    value columns of the AFTER image (BEFORE image for deletes, so consumers
    see what disappeared — the Debezium convention).

    Replaying the emitted delta onto the ``v_from`` snapshot with
    ``cdc.apply`` reproduces ``v_to`` exactly (asserted in tests) — the
    feed is a faithful change log, not just a report.
    """
    diff = snapshot_diff_images(spark, root, v_from, v_to)
    key = quote(diff.columns[0])
    return diff.selectExpr(
        key, "`op`", "coalesce(`after`, `before`) AS `_img`"
    ).selectExpr(key, "`op`", "`_img`.*")


# the WAP consumer's incremental feed: ``diff_between_refs(spark, root,
# "published-prev", "published")`` yields exactly the I/U/D rows between the
# last two AUDITED states, regardless of how many raw ingest commits
# (including bad ones that failed their audit) landed in between
diff_between_refs = snapshot_diff
