"""Secondary index: attribute lookups on a wide table without scanning it.

Neither bucket pruning (key-hash) nor sort-order (one leading column) serves
an equality/range lookup on an arbitrary payload attribute of a WIDE table
— at the design scale every such query re-reads multi-KB token rows.  A
``SecondaryIndex`` is a slim two-column icehouse table ``(key, value)``
value-sorted with per-file manifest stats, kept consistent with its base
table by replaying the base's OWN changed-data feed through the ordinary
exactly-once merge:

- **refresh** reads ``base.read_changed_since(watermark)`` (O(changed
  data): LSN file skipping) and merges it under epoch = the base snapshot
  version in a per-index namespace — a per-epoch feed of at most
  ``SMALL_BATCH_ROWS`` rows is committed from the driver
  (``cdc.apply.apply_changes_local``: one collect of the affected index
  buckets, the LWW rewrite, one write; 3 Spark jobs), a larger feed or
  larger index buckets go through the Spark ``apply_changes`` merge.
  When that feed starts at the LSN high-water mark of the last applied
  base version, it is the ``after`` side of the window's collected change
  set (``cdc/changeset.py``) — usually already collected by the matview
  refresh of the same epoch, so the refresh runs no feed job.  Re-running a crashed refresh is
  a fenced no-op, and because both merges are LWW, overlap from a stale
  watermark is idempotent (the watermark is an optimization, never a
  correctness input) — except across a tombstone vacuum, which takes the
  keyed path below;
- **lookup** plans O(matching files) of the slim table (stats skipping on
  the value column), then fetches the full rows via bucket-pruned
  ``read_for_keys`` on the base — the wide token arrays are read only for
  the hits.

This is the record-level-index capability Hudi ships and Iceberg lacks,
built from parts this engine already proves: feed → merge → stats skip →
point read.  Updates need no old-image handling at all: the index row is
keyed by the BASE key, so an upsert whose value changed simply overwrites
the index row (LWW), and a delete tombstones it.

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

from .icehouse import DELETED_COL, LSN_COL, IcehouseTable

__all__ = ["SecondaryIndex", "create_index", "open_index"]


class SecondaryIndex:
    """Handle pairing a base table with its index table.  State lives in
    the INDEX table's properties (base root, indexed column, LSN
    watermark) — the base table needs no knowledge of its indexes."""

    NAMESPACE = "secidx"

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
                "index.lsn-watermark": "-1",
                # the whole point: value-clustered slim files with manifest
                # ranges, so a value probe plans O(matching files)
                "write.sort-order": column,
                "write.stats-columns": column,
                "write.max-file-rows": max_file_rows,
            },
        )
        idx = cls(index)
        idx.refresh(spark)  # initial build = refresh from watermark -1
        return idx

    # -- maintenance -------------------------------------------------------

    def refresh(
        self,
        spark: SparkSession,
        changed_keys: DataFrame | None = None,
        covered_lsn_high: int | None = None,
    ) -> dict[str, Any]:
        """Bring the index up to the base's current snapshot.  O(changed
        data); exactly-once per base version; safe to re-run or cron
        (sequentially — run ONE maintainer per index, like any CDC
        consumer; the fence serializes same-version retries, not two
        maintainers chasing different base versions).

        Default path: the base's changed-since feed from the stored LSN
        watermark — correct when LSN progression is (eventually) ascending,
        which batch replay and epoch-ordered streams guarantee.  A feed of
        at most ``SMALL_BATCH_ROWS`` rows is collected once (rows, part
        stats and next watermark from the same rows) and committed from the
        driver by ``apply_changes_local`` when the affected index buckets
        are small; a larger feed, or larger buckets, go through the Spark
        ``apply_changes`` merge.  Both give the same rows and lineage.  The
        collected feed is the memoized change set's ``after`` side when the
        watermark is the LSN high-water mark of the last applied base
        version (the same rows), so a refresh after the matview's of the
        same epoch reads no feed.
        When the caller KNOWS the changed key set (a streaming micro-batch
        whose boundaries may split epochs out of LSN order — the same
        caveat table/matview.py documents), pass ``changed_keys``: the
        refresh becomes one bucket-pruned point read of those keys' CURRENT
        rows (present → upsert at lsn=base.version, absent → delete), with
        no dependence on feed ordering at all.  A tombstone vacuum above
        the watermark (``vacuumed_lsn`` in the base's snapshot doc) takes
        that path too, keyed by the index's own keys plus the feed's, so a
        key whose tombstone was vacuumed away becomes a delete."""
        from ..cdc.apply import apply_changes, apply_changes_local, local_part_stats

        self.index = self.index.refresh()
        base = IcehouseTable.load(self.base_root)
        wm = int(self.index.meta["properties"].get("index.lsn-watermark", -1))
        ns = f"{self.NAMESPACE}:{self.column}"
        if self.index.epoch_committed(base.version, ns):
            return {"applied": 0, "skipped": True, "base_version": base.version}

        # every row any refresh applies is the key's CURRENT value as of
        # that refresh (the feed emits winners; the point read IS the
        # current row), so the correct LWW ordinal is "which refresh saw it
        # last" — a driver-side monotone counter above every lsn either
        # table has ever recorded.  Stamping both paths with it keeps them
        # freely interleavable (real feed LSNs from one path can never
        # out-rank a LATER point-read refresh).
        ordinal = (
            max(self.index.lsn_high(default=-1), base.lsn_high(default=-1), wm) + 1
        )
        stats = part_stats = rescan = None
        if changed_keys is None and base.meta.get("vacuumed_lsn", -1) > wm:
            # a vacuum removed tombstones the feed from wm would carry:
            # re-read every key the index holds plus every changed key,
            # which covers the whole snapshot
            changed_keys = self.index.read(spark).select(base.key_col).unionByName(
                base.read_changed_since(spark, wm).select(base.key_col)
            )
            covered_lsn_high = base.lsn_high()
        if changed_keys is not None:
            keys = changed_keys.select(
                F.col(changed_keys.columns[0]).alias(base.key_col)
            ).distinct()
            live = base.read_for_keys(spark, keys).select(
                base.key_col, self.column
            )
            ups = live.select(
                F.lit(ordinal).cast("long").alias("lsn"),
                F.lit("U").alias("op"),
                F.col(base.key_col),
                F.col(self.column),
            )
            dels = keys.join(live, base.key_col, "left_anti").select(
                F.lit(ordinal).cast("long").alias("lsn"),
                F.lit("D").alias("op"),
                F.col(base.key_col),
                F.lit(None).cast(base.schema[self.column].dataType).alias(self.column),
            )
            batch = ups.unionByName(dels)
            # Advance ONLY as far as the caller ATTESTS its key set covers
            # (``covered_lsn_high`` — e.g. the max LSN of the micro-batch
            # whose keys were passed).  The base's own metadata lsn-high
            # would be unsafe here: a concurrent writer's commit can land
            # between the caller computing its key set and this refresh
            # loading the snapshot, and jumping the watermark past those
            # UNCOVERED changes would silently desynchronize the index
            # forever.  With the attested bound, anything above stays
            # visible to the next feed refresh — the self-healing property
            # is preserved, while a per-batch maintainer still keeps later
            # feed refreshes O(delta) instead of O(full history).
            new_wm = covered_lsn_high
        else:
            # one collect: a per-epoch poll's feed fits on the driver, so
            # the batch, its part stats and the next watermark all come
            # from the rows in hand instead of two more scans of the feed
            head = self._collected_feed(spark, base, wm, ns)
            if head is not None:
                # the index schema is (key, column): rows are already in
                # table-column order for the driver-side commit
                rows = [(ordinal, "D" if r[2] else "U", r[0], r[1]) for r in head]
                new_wm = max((r[3] for r in head), default=None)
                stats = apply_changes_local(
                    spark, self.index, [r[2] for r in rows], lambda _current: rows,
                    epoch=base.version, epoch_source=ns,
                )
                if stats is None:  # index buckets too big for the driver
                    batch = spark.createDataFrame(
                        rows,
                        T.StructType(
                            [
                                T.StructField("lsn", T.LongType()),
                                T.StructField("op", T.StringType()),
                                T.StructField(base.key_col, base.schema[base.key_col].dataType),
                                T.StructField(self.column, base.schema[self.column].dataType),
                            ]
                        ),
                    )
                    part_stats = local_part_stats(self.index, [r[:3] for r in rows])
            else:
                feed = base.read_changed_since(spark, wm)
                batch = feed.select(
                    F.lit(ordinal).cast("long").alias("lsn"),
                    F.when(F.coalesce(F.col(DELETED_COL), F.lit(False)), F.lit("D"))
                    .otherwise(F.lit("U"))
                    .alias("op"),
                    F.col(base.key_col),
                    F.col(self.column),
                )
                rescan = feed
        if stats is None:
            stats = apply_changes(
                self.index, batch, epoch=base.version, epoch_source=ns,
                part_stats=part_stats,
            )
        self.index = self.index.refresh()
        if not stats.result.skipped:
            if rescan is not None:
                new_wm = rescan.agg(F.max(LSN_COL).alias("m")).collect()[0]["m"]
            if new_wm is not None and new_wm > wm:
                # watermark is a pure scan-cost optimization: a crash before
                # this commit just re-reads a wider feed next time (the LWW
                # merge absorbs the overlap)
                self.index.update_properties(
                    {"index.lsn-watermark": str(int(new_wm))}
                )
                self.index = self.index.refresh()
        return {
            "applied": stats.events_applied,
            "skipped": stats.result.skipped,
            "base_version": base.version,
        }

    def _collected_feed(
        self, spark: SparkSession, base: IcehouseTable, wm: int, ns: str
    ) -> list | None:
        """``(key, value, _deleted, _lsn)`` of every base winner above
        ``wm``, or ``None`` over ``SMALL_BATCH_ROWS`` rows.  Taken from the
        memoized change set of (last applied base version, ``base``] when
        that window's feed starts at ``wm``, else collected."""
        from ..cdc.changeset import change_set, collect_changed, feed_watermark

        cols = [base.key_col, self.column, DELETED_COL, LSN_COL]
        v_from = self.index.last_epoch(ns)
        try:
            prior = None if v_from is None else IcehouseTable.load(self.base_root, version=v_from)
        except FileNotFoundError:
            prior = None
        if prior is None or feed_watermark(prior) != wm:
            return collect_changed(spark, base, wm, cols)
        cs = change_set(spark, prior, base)
        return None if cs is None else [tuple(r[c] for c in cols) for r in cs.after]

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
