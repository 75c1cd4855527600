"""Secondary index: attribute lookups on a wide table without scanning it.

Neither bucket pruning (key-hash) nor sort-order (one leading column) serves
an equality/range lookup on an arbitrary payload attribute of a WIDE table
— at the design scale every such query re-reads multi-KB token rows.  A
``SecondaryIndex`` is a slim two-column icehouse table ``(key, value)``
value-sorted with per-file manifest stats, kept consistent with its base
table by merging each window of the base's OWN changes through the ordinary
exactly-once merge:

- **refresh** merges the window (last applied base version, current
  version] under epoch = the base snapshot version in a per-index
  namespace.  The window is one exact change set (``cdc/changeset.py``,
  shared with the matview refresh and the emitter, so after the matview's
  refresh of the same epoch it is already collected): a change set of at
  most ``SMALL_BATCH_ROWS`` keys is committed from the driver
  (``cdc.apply.apply_changes_local``: one collect of the affected index
  buckets, the LWW rewrite, one write from one task; 2 Spark jobs), a
  larger window — the base's LSN feed or snapshot diff — or larger index
  buckets go through the Spark ``apply_changes`` merge.  With no applied
  version (the initial build) or an expired one, the refresh is one full
  pass instead: live base rows become upserts, index keys absent from the
  base deletes.  The last applied version lives in the index's own
  exactly-once registry, written with its data; re-running a crashed
  refresh is a fenced no-op;
- **lookup** plans O(matching files) of the slim table (stats skipping on
  the value column), then fetches the full rows via bucket-pruned
  ``read_for_keys`` on the base — the wide token arrays are read only for
  the hits.

This is the record-level-index capability Hudi ships and Iceberg lacks,
built from parts this engine already proves: change set → merge → stats
skip → point read.  Updates need no old-image handling at all: the index
row is keyed by the BASE key, so an upsert whose value changed simply
overwrites the index row (LWW), and a delete tombstones it.

Reference analog: the reference leans on its warehouse's implicit indexing
for attribute probes (notification_service/bigquery_queries.py WHERE
clauses over full fact tables); here the index is an explicit, incremental,
exactly-once table a cron or `StreamingIngest` can keep fresh.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .exprs import col as qcol
from .exprs import quote
from .icehouse import DELETED_COL, IcehouseTable

__all__ = ["SecondaryIndex", "create_index", "open_index"]


class SecondaryIndex:
    """Handle pairing a base table with its index table.  State lives in
    the INDEX table: its properties (base root, indexed column) and its
    exactly-once registry (the last applied base version) — the base table
    needs no knowledge of its indexes."""

    NAMESPACE = "secidx"
    #: the base version an empty window advanced to (it commits no epoch)
    FLOOR = "index.refreshed-floor"

    def __init__(self, index: IcehouseTable):
        props = index.meta.get("properties", {})
        if "index.base-root" not in props:
            raise ValueError(f"{index.root} is not a secondary index table")
        self.index = index
        self.base_root = props["index.base-root"]
        self.column = props["index.column"]

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        base: IcehouseTable,
        index_root: str,
        column: str,
        n_buckets: int | None = None,
        max_file_rows: int = 1_000_000,
    ) -> "SecondaryIndex":
        if column not in base.schema.fieldNames():
            raise ValueError(f"no such column {column!r} on {base.root}")
        if column == base.key_col:
            raise ValueError("the key column needs no secondary index — "
                             "read_for_keys already serves it")
        schema = T.StructType(
            [
                T.StructField(base.key_col, base.schema[base.key_col].dataType, False),
                T.StructField(column, base.schema[column].dataType, True),
            ]
        )
        index = IcehouseTable.create(
            index_root,
            schema=schema,
            key_col=base.key_col,
            n_buckets=n_buckets or base.n_buckets,
            properties={
                "index.base-root": base.root,
                "index.column": column,
                # the whole point: value-clustered slim files with manifest
                # ranges, so a value probe plans O(matching files)
                "write.sort-order": column,
                "write.stats-columns": column,
                "write.max-file-rows": max_file_rows,
            },
        )
        idx = cls(index)
        idx.refresh(spark)  # initial build = the full pass
        return idx

    # -- maintenance -------------------------------------------------------

    @property
    def _ns(self) -> str:
        return f"{self.NAMESPACE}:{self.column}"

    def applied_version(self) -> int | None:
        """The base version the index reflects (``None`` before its first
        build)."""
        from ..cdc.changeset import applied_version

        return applied_version(self.index.refresh(), self._ns, self.FLOOR)

    def refresh(self, spark: SparkSession) -> dict[str, Any]:
        """Bring the index up to the base's current snapshot.  O(changed
        data); exactly-once per base version; safe to re-run or cron
        (sequentially — run ONE maintainer per index, like any CDC
        consumer; the fence serializes same-version retries, not two
        maintainers chasing different base versions).

        The window is (:meth:`applied_version`, current version], read as
        one exact change set whatever happened in between — rollback,
        vacuum, compaction or out-of-order LSNs.  A change set of at most
        ``SMALL_BATCH_ROWS`` keys is committed from the driver by
        ``apply_changes_local`` when the affected index buckets are small;
        a larger one (the LSN feed of an exact window, which scans only the
        appended deltas, else the window's snapshot diff), or larger
        buckets, go through the Spark ``apply_changes`` merge.  Both give
        the same rows and lineage, in one index commit.

        Retention: when ``expire_snapshots`` has removed the base snapshot
        at the applied version, the refresh is the full pass (module
        docstring), which reads the base and rewrites every index bucket.
        An index refreshed less often than the base expires snapshots pays
        it every time: keep the base's retention longer than the interval."""
        from ..cdc.apply import apply_changes, apply_changes_local, local_part_stats
        from ..cdc.changeset import after_frame, applied_version, change_set, finish_window
        from ..cdc.driver_rows import driver_frame

        self.index = self.index.refresh()
        base = IcehouseTable.load(self.base_root)
        ns, key, col = self._ns, base.key_col, self.column
        v0 = applied_version(self.index, ns, self.FLOOR)
        if v0 is not None and v0 >= base.version:
            return {"applied": 0, "skipped": True, "base_version": base.version}

        # every row any refresh applies is the key's CURRENT value as of
        # that refresh, so the correct LWW ordinal is "which refresh saw it
        # last" — a driver-side monotone counter above every lsn either
        # table has ever recorded.
        ordinal = max(self.index.lsn_high(default=-1), base.lsn_high(default=-1)) + 1
        stamp = f"CAST({ordinal} AS BIGINT) AS lsn"
        try:
            prior = None if v0 is None else IcehouseTable.load(self.base_root, version=v0)
        except FileNotFoundError:
            prior = None  # expired: the full pass
        cs = None if prior is None else change_set(spark, prior, base)
        stats = part_stats = after = None
        if cs is not None:
            # the index schema is (key, column): rows are already in
            # table-column order for the driver-side commit
            rows = [(ordinal, "D" if r[DELETED_COL] else "U", r[key], r[col]) for r in cs.after]
            stats = apply_changes_local(
                spark, self.index, [r[2] for r in rows], lambda _current: rows,
                epoch=base.version, epoch_source=ns,
            )
            if stats is None:  # index buckets too big for the driver
                batch = driver_frame(
                    spark,
                    rows,
                    T.StructType(
                        [
                            T.StructField("lsn", T.LongType()),
                            T.StructField("op", T.StringType()),
                            T.StructField(key, base.schema[key].dataType),
                            T.StructField(col, base.schema[col].dataType),
                        ]
                    ),
                )
                part_stats = local_part_stats(self.index, [r[:3] for r in rows])
        elif prior is not None:
            after = after_frame(spark, prior, base, [key, col])
            batch = after.selectExpr(
                stamp, f"CASE WHEN {DELETED_COL} THEN 'D' ELSE 'U' END AS op",
                quote(key), quote(col),
            )
        else:
            live = base.read(spark).selectExpr(quote(key), quote(col))
            batch = live.selectExpr(stamp, "'U' AS op", "*")
            if self.index.meta["partitions"] or any(self.index.meta.get("deltas", {}).values()):
                gone = self.index.read(spark).selectExpr(quote(key)).join(live, key, "left_anti")
                batch = batch.unionByName(
                    gone.select(
                        F.expr(stamp), F.lit("D").alias("op"), qcol(key),
                        F.lit(None).cast(base.schema[col].dataType).alias(col),
                    )
                )
        try:
            if stats is None:
                stats = apply_changes(
                    self.index, batch, epoch=base.version, epoch_source=ns,
                    part_stats=part_stats,
                )
        finally:
            if after is not None:
                after.unpersist()
        finish_window(self.index, ns, self.FLOOR, base.version)
        return {
            "applied": stats.events_applied,
            "skipped": stats.result.skipped,
            "base_version": base.version,
        }

    # -- queries -----------------------------------------------------------

    def lookup_keys(self, spark: SparkSession, values: list) -> DataFrame:
        """Keys whose CURRENT value is in ``values`` — plans only the index
        files whose recorded value range intersects the probe set."""
        if not values:
            return self.index.read(spark).select(self.index.key_col).limit(0)
        lo, hi = min(values), max(values)
        return (
            self.index.read(spark, stats_filters={self.column: (lo, hi)})
            .where(F.col(self.column).isin(values))
            .select(self.index.key_col)
        )

    def lookup_rows(self, spark: SparkSession, values: list) -> DataFrame:
        """Full base rows for the matching keys: slim-index probe, then a
        bucket-pruned point read of the wide table — token arrays are
        deserialized only for the hits."""
        keys = self.lookup_keys(spark, values)
        base = IcehouseTable.load(self.base_root)
        return base.read_for_keys(spark, keys)

    def range_keys(self, spark: SparkSession, lo, hi) -> DataFrame:
        """Keys whose value falls in [lo, hi] (either bound None=open)."""
        return (
            self.index.read(spark, stats_filters={self.column: (lo, hi)})
            .select(self.index.key_col)
        )


def create_index(
    spark: SparkSession, base: IcehouseTable, index_root: str, column: str, **kw
) -> SecondaryIndex:
    return SecondaryIndex.create(spark, base, index_root, column, **kw)


def open_index(index_root: str) -> SecondaryIndex:
    return SecondaryIndex(IcehouseTable.load(index_root))
