"""Icehouse — an Iceberg-style table format on plain Parquet + a JSON metadata log.

No Iceberg runtime jar ships in this environment, so the engine defines the
table contract itself and implements it with:

- immutable Parquet data files grouped per (snapshot, bucket-partition) dir,
- a metadata log ``metadata/v{N}.metadata.json`` where each version is
  published with an **exclusive-link compare-and-set** (full document written
  to a tmp file, then ``link(2)``-ed to the version name — fails if a
  concurrent committer won): two committers cannot both win a version, and a
  racing reader can never observe a partial root,
- **sharded manifests** (Iceberg manifest-list analog): the root document
  holds only table-level state plus content-addressed references to
  per-partition manifest files (``metadata/manifests/m-<sha>.json``) carrying
  that bucket's base-file entry and delta-file list.  Untouched partitions
  re-link the same manifest, so commit payload is O(touched partitions), not
  O(every file in the table) — the property that keeps metadata writes flat
  as pending MOR delta chains deepen at 10^10-event scale,
- snapshot isolation + time travel (read any retained version),
- **exactly-once epoch fencing**: every commit records the change-log epoch it
  applied; replaying an already-committed epoch is a verified no-op,
- partition-level overwrite: a commit rewrites only the bucket partitions it
  touches and re-links the untouched ones (the 100-TB property: an epoch that
  touches 3% of keys rewrites ~3% of the table, not all of it),
- **merge-on-read deltas** (Iceberg v2 equality-delete / Hudi MOR analog):
  :meth:`append_deltas` commits a change batch as append-only per-bucket delta
  files — per-epoch write cost O(batch), never O(table).  Reads of a
  delta-bearing bucket resolve last-writer-wins by ``max(_lsn)`` per key at
  scan time; :meth:`compact_partitions` (or any copy-on-write commit of that
  bucket) folds the deltas back into a single base file,
- additive schema evolution without table rewrite: new nullable columns and
  integer/float widenings are merged into the table schema; old data files are
  simply read with the new schema (missing columns → NULL),
- per-partition lineage records (LSN range, row counts, snapshot id).

Reference parity (studied, not copied — the reference delegates all of this to
BigQuery): day-partitioned+clustered DDL ``transformations/loading/bigquery/
loader.py:118-138``, partition-decorator overwrite ``staging_data_cleaner.py:
101-146``, additive schema evolution ``dim_variant.py:263-265``, MERGE upsert
``product_categorization/big_query/data_store.py:42-86``, idempotent re-run
fencing ``priceforecasting/bigquery_handler.py:216-225``.

Scale design: ``n_buckets`` is a table property — 16 in tests, thousands on a
real cluster so each bucket partition holds O(10-100 GB).  All data paths are
plain directories, so the same layout works on HDFS/S3A URIs (rename-based CAS
would move to a catalog service or S3 conditional PUT there; the contract is
identical).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Literal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import SMALL_BATCH_ROWS
from .exprs import check_identifiers, conform, in_ints, lww_resolve, quote
from .exprs import col as qcol

PART_COL = "_part"  # physical bucket-partition column (not part of the logical schema)
LSN_COL = "_lsn"  # per-row LSN watermark: the change event that produced this row
DELETED_COL = "_deleted"  # tombstone marker (row filtered out of reads)

# Rows carry their producing LSN and deletes are persisted as tombstones so
# the merge can be ORDER-INSENSITIVE across commits: a batch applied out of
# LSN order (late replay, out-of-order micro-batch) can never clobber newer
# table state — the per-key winner is always max(_lsn).  Tombstones are
# reclaimed by ``vacuum_tombstones`` once every source is past their LSN.


def _key_in(spark: SparkSession, col: str, data_type: T.DataType, values: list) -> F.Column:
    """``col IN (values)`` built in O(1) py4j calls for string keys.

    ``Column.isin`` converts every literal through its own py4j round trips
    (~3 per value — most of a small point read's planning time at a few
    hundred keys); one SQL ``IN (...)`` expression parses to the same
    ``In``/``InSet`` predicate and pushes into the parquet scan as the same
    ``In`` filter.  String literals are escaped for the default
    backslash-escaping parser.  Non-string keys, keys containing ``$`` (the
    SQL parser substitutes ``${var}`` references inside string literals
    before lexing them), and a session that turned escape processing off
    (``spark.sql.parser.escapedStringLiterals``) keep ``isin``."""
    if (
        not isinstance(data_type, T.StringType)
        or not all(isinstance(v, str) and "$" not in v for v in values)
        or spark.conf.get("spark.sql.parser.escapedStringLiterals", "false").lower() == "true"
    ):
        return F.col(col).isin(values)
    lits = ", ".join(
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'" for v in values
    )
    return F.expr(f"{quote(col)} IN ({lits})")


# ---------------------------------------------------------------------------
# schema evolution rules (additive only)
# ---------------------------------------------------------------------------

_WIDENINGS: dict[tuple[str, str], bool] = {
    ("integer", "long"): True,
    ("short", "integer"): True,
    ("short", "long"): True,
    ("byte", "short"): True,
    ("byte", "integer"): True,
    ("byte", "long"): True,
    ("float", "double"): True,
}


class SchemaEvolutionError(ValueError):
    """Incoming schema requires a non-additive (rejected) change."""


def _deep_nullable(dt: T.DataType) -> T.DataType:
    """Normalize a type to its fully-nullable form (containsNull /
    valueContainsNull / field nullability all True).  Nullability is a
    CONSTRAINT, not a type: a batch whose array column happens to carry
    containsNull=false (anything built with F.array of non-null exprs does)
    must compare EQUAL to the table's nullable array<int> instead of being
    rejected as a type change — and stored schemas keep the nullable form,
    since older files may hold nulls the newest batch doesn't."""
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_deep_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_deep_nullable(dt.keyType), _deep_nullable(dt.valueType), True)
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _deep_nullable(f.dataType), True) for f in dt.fields]
        )
    return dt


def evolve_schema(current: T.StructType, incoming: T.StructType) -> tuple[T.StructType, bool]:
    """Merge ``incoming`` into ``current`` under additive-evolution rules.

    Allowed:  new nullable columns; widening int→long / float→double
    ("source-tag widening").  Rejected: dropped columns become nullable-kept
    (old data keeps them), type narrowing, incompatible type changes, new
    non-nullable columns.

    Returns (merged_schema, changed).
    """
    cur = {f.name: f for f in current.fields}
    changed = False
    merged: list[T.StructField] = []
    for f in current.fields:
        if f.name in {g.name for g in incoming.fields}:
            g = next(g for g in incoming.fields if g.name == f.name)
            if _deep_nullable(g.dataType) == _deep_nullable(f.dataType):
                merged.append(f)  # nullability-insensitive: keep table's form
            elif _WIDENINGS.get((f.dataType.typeName(), g.dataType.typeName())):
                merged.append(T.StructField(f.name, g.dataType, True))
                changed = True
            elif _WIDENINGS.get((g.dataType.typeName(), f.dataType.typeName())):
                merged.append(f)  # incoming is narrower: keep wide table type
            else:
                raise SchemaEvolutionError(
                    f"column {f.name!r}: cannot change {f.dataType.simpleString()} "
                    f"-> {g.dataType.simpleString()} (only additive evolution allowed)"
                )
        else:
            merged.append(f)  # column absent from incoming: keep (reads as NULL for new data)
    for g in incoming.fields:
        if g.name not in cur:
            check_identifiers(T.StructType([g]))
            # new columns are stored fully nullable: old rows have no value
            # for them, and future batches may carry nulls this one doesn't
            merged.append(T.StructField(g.name, _deep_nullable(g.dataType), True))
            changed = True
    return T.StructType(merged), changed


def conform_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project ``df`` onto ``schema`` — missing columns become NULL, present
    columns are cast only where their type differs (one ``selectExpr``;
    see :func:`.exprs.conform`).  The one conform of every write path."""
    return conform(df, schema)


def _meta_fields(names) -> list[T.StructField]:
    """The CDC meta columns among ``names``, typed as the files store them."""
    return [
        T.StructField(n, t, True)
        for n, t in ((LSN_COL, T.LongType()), (DELETED_COL, T.BooleanType()))
        if n in names
    ]


# ---------------------------------------------------------------------------
# metadata model
# ---------------------------------------------------------------------------


@dataclass
class CommitResult:
    version: int
    snapshot_id: str
    epoch: int | None
    skipped: bool = False  # True => epoch already committed (exactly-once no-op)
    partitions_rewritten: list[int] = field(default_factory=list)
    rows_written: int = 0
    #: CAS races lost (and retried) before this commit landed — the
    #: contention signal a multi-writer deployment monitors; 0 = first try
    cas_retries: int = 0


class ConcurrentCommitError(RuntimeError):
    pass


class CommitConflictError(RuntimeError):
    """A concurrent commit changed partitions this write had read (its merge
    plan is stale) — the CALLER must rebuild its plan against the refreshed
    snapshot and retry.  Distinct from the internal CAS retry, which is safe
    only when the loser's input partitions were untouched."""


class IcehouseTable:
    """Handle to one icehouse table rooted at a directory."""

    FORMAT_VERSION = 1
    #: lineage retention (rows); whole oldest segments drop once exceeded
    LINEAGE_KEEP_ROWS = 10_000

    def __init__(self, root: str, meta: dict[str, Any]):
        self.root = root
        self.meta = meta
        #: the branch this handle commits to / refreshes against.  Stamped
        #: from the loaded snapshot (legacy snapshots are all "main");
        #: :meth:`load` overrides it when a branch was requested explicitly
        #: (a branch created at a main snapshot initially POINTS at a doc
        #: whose own ``branch`` field says "main").
        self.branch = meta.get("branch", "main")

    # -- lifecycle ----------------------------------------------------------

    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType,
        key_col: str = "doc_id",
        n_buckets: int = 16,
        properties: dict[str, str] | None = None,
    ) -> "IcehouseTable":
        if key_col not in schema.fieldNames():
            raise ValueError(f"key column {key_col!r} not in schema")
        check_identifiers(schema)
        os.makedirs(os.path.join(root, "metadata"), exist_ok=False)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        meta = {
            "format_version": cls.FORMAT_VERSION,
            "table_uuid": str(uuid.uuid4()),
            "version": 0,
            "snapshot_id": "s00000000",
            "parent_version": None,
            "schema": schema.jsonValue(),
            "key_col": key_col,
            "n_buckets": n_buckets,
            "partition_spec": f"bucket({key_col}, {n_buckets}) -> {PART_COL}",
            "partitions": {},  # str(part) -> {"path": rel_dir, "rows": int}
            "branch": "main",
            "branch_heads": {"main": 0},  # ref name -> head version
            "branch_forks": {},  # ref name -> {"from_branch", "at_version"}
            "epoch_watermark": -1,
            "committed_epochs": {},  # str(epoch) -> summary
            "lineage": [],  # per-partition commit records
            "properties": properties or {},
            "committed_at": None,
        }
        t = cls(root, meta)
        t._write_metadata(meta)
        return t

    @classmethod
    def load(
        cls,
        root: str,
        version: int | None = None,
        tag: str | None = None,
        as_of_timestamp: float | None = None,
        branch: str | None = None,
    ) -> "IcehouseTable":
        """Open a snapshot: the **main branch head** by default, or pinned by
        ``version``, ``tag``, ``as_of_timestamp`` (Iceberg ``FOR TIMESTAMP
        AS OF`` — the newest main-branch snapshot whose ``committed_at`` is
        <= the given Unix timestamp), or a named ``branch``'s head
        (:meth:`create_branch`).  Timestamp resolution is a driver-side scan
        of retained metadata versions only; snapshots dropped by
        ``expire_snapshots`` are not time-travelable, same as Iceberg.

        Version numbers are a table-wide namespace shared by every branch
        (one CAS chain serializes all commits), so "latest version" and
        "main head" diverge once a branch commits: main readers resolve
        through ``branch_heads`` and never observe branch snapshots.

        Reference analog: the reference pins consumers to a load date via
        ``detail_date`` columns (`product_matching/main.py`); here any
        historical state is directly readable without date columns.
        """
        pins = sum(x is not None for x in (version, tag, as_of_timestamp))
        if pins > 1 or (pins and branch is not None):
            raise ValueError(
                "pass at most one of version / tag / as_of_timestamp / branch"
            )
        if tag is not None:
            latest = cls.load(root)
            if tag not in latest.meta.get("tags", {}):
                raise KeyError(f"no tag {tag!r} on table {root}")
            version = latest.meta["tags"][tag]
        if as_of_timestamp is not None:
            version = cls._version_as_of(root, as_of_timestamp)
        if version is None:
            v = cls._latest_version(root)
            if v is None:
                raise FileNotFoundError(f"no icehouse metadata under {root}")
            with open(os.path.join(root, "metadata", f"v{v:08d}.metadata.json")) as fh:
                newest = json.load(fh)
            want = branch or "main"
            heads = newest.get("branch_heads") or {"main": v}
            if want not in heads:
                raise KeyError(f"no branch {want!r} on table {root}")
            version = heads[want]
            if version == v:
                t = cls(root, cls._inline_manifests(root, newest))
                t.branch = want
                return t
        with open(os.path.join(root, "metadata", f"v{version:08d}.metadata.json")) as fh:
            t = cls(root, cls._inline_manifests(root, json.load(fh)))
        if branch is not None:
            t.branch = branch
        return t

    @classmethod
    def _version_as_of(cls, root: str, ts: float) -> int:
        """Newest retained version with ``committed_at`` <= ``ts``.  v0
        (create) carries ``committed_at = None`` and acts as the floor:
        eligible whenever ANY retained version exists, so a timestamp
        older than the first commit resolves to the empty created table
        rather than erroring (matching ``read``'s empty-table behavior)."""
        mdir = os.path.join(root, "metadata")
        if not os.path.isdir(mdir):
            raise FileNotFoundError(f"no icehouse metadata under {root}")
        best: int | None = None
        for name in sorted(os.listdir(mdir)):
            if not (name.endswith(".metadata.json") and name[1:9].isdigit()):
                continue
            v = int(name[1:9])
            with open(os.path.join(mdir, name)) as fh:
                doc = json.load(fh)
            if doc.get("branch", "main") != "main":
                continue  # branch snapshots are not on main's timeline
            committed = doc.get("committed_at")
            if committed is None or committed <= ts:
                best = v if best is None else max(best, v)
        if best is None:
            raise ValueError(
                f"no retained snapshot at or before timestamp {ts} under {root}"
            )
        return best

    @staticmethod
    def _latest_version(root: str) -> int | None:
        mdir = os.path.join(root, "metadata")
        if not os.path.isdir(mdir):
            return None
        versions = [
            int(name[1:9])
            for name in os.listdir(mdir)
            if name.endswith(".metadata.json") and name[1:9].isdigit()
        ]
        return max(versions) if versions else None

    @classmethod
    def _global_refs(cls, root: str) -> tuple[int, dict[str, int], dict[str, Any]]:
        """(latest version, branch heads, branch forks) from the NEWEST
        metadata doc regardless of branch.  Every commit — on any branch —
        stamps the full ref map into its doc, so the newest doc is always
        the authoritative ref store (the CAS that orders commits also orders
        ref updates).  Legacy tables without the field are all-main."""
        v = cls._latest_version(root)
        if v is None:
            raise FileNotFoundError(f"no icehouse metadata under {root}")
        with open(os.path.join(root, "metadata", f"v{v:08d}.metadata.json")) as fh:
            doc = json.load(fh)
        heads = dict(doc.get("branch_heads") or {"main": v})
        return v, heads, dict(doc.get("branch_forks") or {})

    def refresh(self) -> "IcehouseTable":
        self.meta = IcehouseTable.load(self.root, branch=self.branch).meta
        return self

    # -- properties ----------------------------------------------------------

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.meta["schema"])

    @property
    def key_col(self) -> str:
        return self.meta["key_col"]

    @property
    def n_buckets(self) -> int:
        return self.meta["n_buckets"]

    @property
    def version(self) -> int:
        return self.meta["version"]

    @property
    def epoch_watermark(self) -> int:
        return self.meta["epoch_watermark"]

    @property
    def write_fanout(self) -> int:
        """``write.fanout`` table property (default 1): how many deterministic
        key-hash sub-partitions each bucket's rewrite is split across.

        At sandbox scale one task per bucket is fine; at the design target
        (thousands of buckets × 10-100 GB each) a single task sorting and
        serially writing one 100-GB file is the write path's scale ceiling —
        its sort spills, its output has no parallelism, and a straggler
        bucket holds the whole commit.  Fanout f gives each bucket f write
        tasks and f output files (bounded ~1/f of the bucket each) with NO
        change to addressing or read semantics: the bucket dir simply holds
        f sorted files, and every reader already scans directories.  The
        sub-split is a pure function of the key (seeded xxhash64), so output
        file CONTENT stays deterministic at any parallelism level."""
        return max(1, int(self.meta.get("properties", {}).get("write.fanout", 1)))

    @property
    def stats_columns(self) -> list[str]:
        """``write.stats-columns`` table property (comma-separated): columns
        whose per-FILE min/max ranges are recorded in the manifests at commit
        time, enabling planning-time file skipping via
        ``read(stats_filters=...)``.  Pair with ``write.sort-order`` on the
        same columns so each bucket's files are range-clustered and the
        ranges actually prune.  Ints/floats/strings/dates work; avoid
        float columns that may hold NaN (parquet min/max is unreliable
        there — such files simply never prune, correct but useless)."""
        return [
            c.strip()
            for c in str(
                self.meta.get("properties", {}).get("write.stats-columns", "")
            ).split(",")
            if c.strip()
        ]

    def _layout(
        self,
        out: DataFrame,
        n_buckets: int,
        fanout: int | None = None,
        order_override: list | None = None,
    ) -> DataFrame:
        """Deterministic physical layout for a write: partition by bucket
        (× fanout sub-split when ``write.fanout`` > 1), rows sorted by key
        within each output file.  ``fanout`` overrides the table property
        (append_deltas pins 1: a fanned-out O(batch) delta write would just
        multiply the small files compaction exists to fix, with no
        sort-memory benefit).

        ``write.sort-order`` (comma-separated columns) clusters rows WITHIN
        each bucket on secondary columns ahead of the key — the Iceberg
        ``SORTED BY`` analog.  The key is hash-distributed, so its row-group
        min/max never prune; clustering on a low-cardinality/range column
        (``source``, an event date) gives parquet row-group min/max stats
        that DO prune for predicates on those columns — data skipping the
        scan gets for free at any scale, orthogonal to bucket pruning and
        ``write.bloom.columns`` point lookups."""
        fanout = self.write_fanout if fanout is None else fanout
        tmp_cols: list[str] = []
        if order_override is not None:
            # caller-supplied clustering expressions (z-order compaction)
            # replace the property-derived secondary sort for this write.
            # Expressions are MATERIALIZED into temp columns before the
            # sort: Spark's sort comparator re-evaluates expression keys
            # per COMPARISON (n log n times), which turned a wide z-value
            # expression into the rewrite's bottleneck; a projected column
            # is computed once per row and dropped after the sort (the
            # post-sort projection is narrow, so file order is preserved).
            order = []
            for idx, o in enumerate(order_override):
                if isinstance(o, str):
                    order.append(o)
                    continue
                name = f"_ord{idx}"
                while name in out.columns:
                    name += "_"
                out = out.withColumn(name, o)
                tmp_cols.append(name)
                order.append(name)
        else:
            order = [
                c.strip()
                for c in str(
                    self.meta.get("properties", {}).get("write.sort-order", "")
                ).split(",")
                if c.strip()
            ]
            unknown = [c for c in order if c not in out.columns]
            if unknown:
                raise ValueError(
                    f"write.sort-order references columns not in the write: {unknown}"
                )
        if fanout <= 1:
            laid = out.repartition(n_buckets, qcol(PART_COL)).sortWithinPartitions(
                *[qcol(c) for c in (PART_COL, *order, self.key_col)]
            )
            return laid.drop(*tmp_cols) if tmp_cols else laid
        sub_col = "_sub"  # collision-proof vs logical columns
        while sub_col in out.columns:
            sub_col += "_"
        sub = F.expr(
            f"CAST(pmod(xxhash64({quote(self.key_col)}, 'write.fanout'), {int(fanout)}) AS INT)"
        )
        laid = (
            out.withColumn(sub_col, sub)
            .repartition(n_buckets * fanout, qcol(PART_COL), qcol(sub_col))
            .drop(sub_col)  # only steers the shuffle; projection keeps slots
            .sortWithinPartitions(*[qcol(c) for c in (PART_COL, *order, self.key_col)])
        )
        return laid.drop(*tmp_cols) if tmp_cols else laid

    def _writer(self, laid_out: DataFrame):
        """Parquet writer for a snapshot dir, honoring ``write.max-file-rows``
        (caps rows per output file WITHIN a task — the cheap file-size bound
        when re-shuffling for fanout isn't warranted)."""
        w = laid_out.withColumn("_pw", qcol(PART_COL)).write.mode("overwrite")
        props = self.meta.get("properties", {})
        cap = props.get("write.max-file-rows")
        if cap:
            w = w.option("maxRecordsPerFile", int(cap))
        # write.compression: parquet codec (e.g. zstd for ~30% smaller files
        # at 100-TB scan volumes, snappy for cheapest CPU; Spark default
        # otherwise).  Applies to base AND delta writes.
        codec = props.get("write.compression")
        if codec:
            w = w.option("compression", str(codec))
        # write.bloom.columns: comma-separated columns to emit parquet bloom
        # filters for (typically the key column).  Point lookups and
        # key-equality scans then skip row groups the parquet reader can
        # prove key-absent — within-bucket pruning that composes with the
        # bucket pruning of read_for_keys (a bucket at 100-TB scale is many
        # row groups; min/max stats on a hash-distributed key never prune).
        # write.bloom.ndv sizes the filter (expected distinct keys PER ROW
        # GROUP — the parquet default of 1M costs ~1 MB per row group; a
        # bucketed CDC table knows its per-file key cardinality, so size it).
        ndv = props.get("write.bloom.ndv")
        for col in str(props.get("write.bloom.columns", "")).split(","):
            col = col.strip()
            if col:
                w = w.option(f"parquet.bloom.filter.enabled#{col}", "true")
                if ndv:
                    w = w.option(f"parquet.bloom.filter.expected.ndv#{col}", int(ndv))
        return w.partitionBy("_pw")

    def ensure_key_type_unchanged(self, new_schema: T.StructType) -> None:
        """The KEY column's type is immutable: bucket addressing is
        pmod(xxhash64(key), n_buckets), and Spark's xxhash64 hashes an int
        and the same value as a long DIFFERENTLY — widening the key would
        re-address every new row while base rows keep their stored ``_part``,
        permanently forking the table's addressing (a merge for doc 5 would
        read the new-hash bucket and never see the old row → silent
        duplicates).  Payload columns widen freely; widening the key
        requires an explicit full-table migration (read → cast → write into
        a NEW table), the same way Iceberg forbids changing a bucket-
        partition source column's type without a new spec + rewrite."""
        old = self.schema[self.key_col].dataType
        new = new_schema[self.key_col].dataType
        if old != new:
            raise SchemaEvolutionError(
                f"key column {self.key_col!r} cannot change type "
                f"{old.simpleString()} -> {new.simpleString()}: bucket "
                "addressing hashes the key's physical type, so existing rows "
                "would become unreachable to merges; migrate to a new table "
                "instead"
            )

    @staticmethod
    def _epoch_key(epoch: int, source: str | None) -> str:
        """Registry key for the exactly-once fence.  ``source`` namespaces
        epoch sequences from independent producers (batch replay vs a
        Structured Streaming checkpoint's batchId) so their integer ranges
        can never collide — colliding would silently no-op real data."""
        return f"{source}:{epoch}" if source else str(epoch)

    def epoch_committed(self, epoch: int, source: str | None = None) -> bool:
        if self._epoch_key(epoch, source) in self.meta["committed_epochs"]:
            return True
        # compacted registry: older epochs live as [lo, hi] ranges per
        # namespace (see compact_epoch_registry) — exact, gap-preserving
        ns = source or ""
        for lo, hi in self.meta.get("committed_epoch_ranges", {}).get(ns, []):
            if lo <= epoch <= hi:
                return True
        return False

    def _pure_metadata_commit(
        self,
        mutate,
        suffix: str,
        max_retries: int = 5,
        touched: "set[str] | None" = None,
    ) -> CommitResult:
        """Shared CAS loop for pure-metadata commits (tags, properties,
        rollback, registry compaction): refresh → deep-copy → ``mutate(meta)``
        → version-stamp → exclusive-create root; retry on a lost race.
        ``mutate`` edits the copied meta dict in place; returning ``False``
        skips the commit (CommitResult.skipped=True).  ``touched`` follows
        :meth:`_write_metadata`'s contract (``set()`` = reuse every manifest
        ref; ``None`` = re-serialize all).  One definition site for the
        loop's invariants (refresh-before-copy, parent/committed_at stamping,
        FileExistsError-retry, exhaustion error)."""
        for _attempt in range(max_retries):
            self.refresh()
            meta = json.loads(json.dumps(self.meta))
            if mutate(meta) is False:
                return CommitResult(
                    self.version, self.meta["snapshot_id"], None, skipped=True,
                    cas_retries=_attempt,
                )
            global_latest, global_heads, global_forks = self._global_refs(self.root)
            meta["version"] = global_latest + 1
            meta["parent_version"] = self.version
            meta["snapshot_id"] = f"s{meta['version']:08d}-{suffix}"
            meta["committed_at"] = time.time()
            meta["branch"] = self.branch
            # ref edits staged by mutate (create/delete branch, fast-forward)
            # are applied ON TOP of the authoritative global refs — the meta
            # copy's own ref map may be stale for OTHER branches (it is the
            # branch head's doc, not necessarily the newest)
            heads, forks = dict(global_heads), dict(global_forks)
            for name, pin in meta.pop("_branch_ref_edits", {}).items():
                if pin is None:
                    heads.pop(name, None)
                    forks.pop(name, None)
                else:
                    # None = "the version this very commit creates" (default
                    # branch create points at the create commit; fast-forward
                    # re-forks the branch at the publish commit)
                    heads[name] = (
                        meta["version"] if pin["version"] is None else pin["version"]
                    )
                    forks[name] = {
                        "from_branch": pin["from_branch"],
                        "at_version": (
                            meta["version"]
                            if pin["at_version"] is None
                            else pin["at_version"]
                        ),
                    }
            meta["branch_heads"] = {**heads, self.branch: meta["version"]}
            meta["branch_forks"] = forks
            try:
                self._write_metadata(meta, touched=touched)
            except FileExistsError:
                continue
            self.meta = meta
            return CommitResult(
                meta["version"], meta["snapshot_id"], None, cas_retries=_attempt
            )
        raise ConcurrentCommitError(
            f"{suffix} commit lost {max_retries} races on {self.root}"
        )

    def compact_epoch_registry(self, keep_recent: int = 100) -> int:
        """Compress the exactly-once registry: per namespace, keep the
        ``keep_recent`` highest epochs as full entries (summaries intact for
        debugging) and fold everything older into ``[lo, hi]`` ranges —
        EXACT semantics (gaps in the epoch sequence stay gaps, so a
        never-applied epoch is still appliable).

        Why: the registry gains one entry per epoch forever; at 10^10 events
        a long-lived ingest accrues 10^4-10^6 entries re-serialized into the
        root document on every commit.  Contiguous committed history (the
        normal ascending-replay shape) collapses to ONE range per namespace,
        making the root O(n_buckets + keep_recent).  Pruned entries lose
        their per-epoch summary (version/snapshot/rows) — lineage records
        keep the durable audit trail.  Returns the number of entries pruned.
        Maintenance operation (``maintenance_job --compact-epochs``); commits
        through the normal CAS like every other metadata mutation."""
        holder = {"pruned": 0}

        def mutate(meta: dict[str, Any]):
            by_ns: dict[str, list[int]] = {}
            for k in meta["committed_epochs"]:
                ns, _, ep = k.rpartition(":")
                by_ns.setdefault(ns, []).append(int(ep))
            pruned = 0
            ranges = meta.setdefault("committed_epoch_ranges", {})
            for ns, eps in by_ns.items():
                eps.sort()
                old = eps[:-keep_recent] if keep_recent else eps
                if not old:
                    continue
                merged = [
                    [int(lo), int(hi)] for lo, hi in ranges.get(ns, [])
                ]
                for e in old:
                    merged.append([e, e])
                    del meta["committed_epochs"][self._epoch_key(e, ns or None)]
                    pruned += 1
                merged.sort()
                out: list[list[int]] = []
                for lo, hi in merged:
                    if out and lo <= out[-1][1] + 1:
                        out[-1][1] = max(out[-1][1], hi)
                    else:
                        out.append([lo, hi])
                ranges[ns] = out
            holder["pruned"] = pruned
            if pruned == 0:
                return False

        res = self._pure_metadata_commit(mutate, "epochgc", touched=set())
        return 0 if res.skipped else holder["pruned"]

    def bucket_expr(self, col: str | None = None, n_buckets: int | None = None):
        """The bucket partitioner: pmod(xxhash64(key), n_buckets).

        xxhash64 is Spark's builtin, bit-stable across runs/versions — replay
        equality depends on this determinism (reference analog: xxhash32
        surrogate keys, dim_shop_product.py:225-245).  This is the ONLY place
        the formula lives — every writer (merge, rebucket) must route through
        it so the addressing can never silently fork.  ``n_buckets`` overrides
        the modulus for partition-spec evolution (:meth:`rebucket`)."""
        return F.expr(
            f"CAST(pmod(xxhash64({quote(col or self.key_col)}), "
            f"{int(n_buckets or self.n_buckets)}) AS INT)"
        )

    # -- read path ------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        partitions: list[int] | None = None,
        with_part_col: bool = False,
        with_meta: bool = False,
        stats_filters: dict[str, tuple] | None = None,
        key_literals: list | None = None,
    ) -> DataFrame:
        """Read the current snapshot (optionally only some bucket partitions —
        this is partition pruning: untouched buckets are never scanned).

        Tombstone rows are filtered out unless ``with_meta`` (the merge path
        reads them to keep delete-wins semantics under out-of-order apply).
        Older data files written without the meta columns read as NULL
        (= live row, LSN unknown ⇒ loses ties to any real LSN).

        Merge-on-read: if any requested bucket carries delta files
        (:meth:`append_deltas`), the scan unions base + deltas and resolves
        **last-writer-wins per key** (``max_by`` on ``_lsn`` — partial
        map-side aggregation, so a hot key resolves in O(#tasks)).  An
        LSN tie can only be duplicate delivery of the same event, so the
        arbitrary tie winner is content-identical.  Buckets without deltas
        pay nothing — the resolve shuffle touches only delta-bearing data.

        ``stats_filters`` — planning-time data skipping: ``{col: (lo, hi)}``
        range predicates (either bound ``None`` = unbounded) that (a) prune,
        DRIVER-SIDE from the manifest stats recorded under
        ``write.stats-columns``, every base file whose stored [min, max]
        cannot intersect the range, and (b) are applied as residual
        ``BETWEEN`` filters on the scan (so results are exact whether or not
        a file carried stats, and the same predicate also drives parquet
        row-group skipping).  Files are pruned ONLY in buckets with no
        pending merge-on-read deltas: in a dirty bucket the current winner
        of a key may live in a file whose OLD column value is out of range
        (or vice versa), so pruning any of its files could surface a
        superseded row — dirty buckets scan fully until compaction folds
        their deltas, exactly the data-skipping cost MOR tables pay in
        Iceberg.  Requires ``with_meta=False`` (tombstones carry no payload
        values for the residual filter to pass).

        ``key_literals`` (used by :meth:`read_for_keys`): a point-lookup
        key set.  Files within a bucket are KEY-sorted, so when the key
        column is under ``write.stats-columns`` each file's key range is
        tight and the lookup prunes to the one file per bucket that can
        hold each key — planning-time pruning UNDER the bucket pruning,
        before blooms or row-group stats are even opened.  Clean buckets
        only (same merge-on-read rule as ``stats_filters``); purely an
        optimization — the caller still applies its exact key predicate.
        """
        if stats_filters:
            if with_meta:
                raise ValueError("stats_filters requires with_meta=False")
            unknown = [c for c in stats_filters if c not in self.schema.fieldNames()]
            if unknown:
                raise ValueError(f"stats_filters references unknown columns: {unknown}")
        norm_keys = None
        if key_literals:
            norm_keys = [
                k for k in (self._stat_json(k) for k in key_literals) if k is not None
            ] or None
        read_schema = T.StructType(
            list(self.schema.fields)
            + [
                T.StructField(LSN_COL, T.LongType(), True),
                T.StructField(DELETED_COL, T.BooleanType(), True),
                T.StructField(PART_COL, T.IntegerType(), True),
            ]
        )
        parts = self.meta["partitions"]
        deltas = self.meta.get("deltas", {})
        keys = (
            [str(p) for p in partitions]
            if partitions is not None
            else sorted(set(parts) | set(deltas), key=int)
        )
        delta_keys = [k for k in keys if deltas.get(k)]
        base_paths = []
        for k in keys:
            if k not in parts:
                continue
            entry = parts[k]
            pdir = os.path.join(self.root, entry["path"])
            if (stats_filters or norm_keys) and k not in delta_keys and entry.get("files"):
                # stats are keyed by the column's PHYSICAL name at write
                # time; map current filter names through the rename log
                v_entry = self._data_path_version(entry["path"])
                phys_filters = {
                    self._physical_name(c, v_entry): b
                    for c, b in (stats_filters or {}).items()
                }
                phys_key = self._physical_name(self.key_col, v_entry)
                survivors = []
                for f in entry["files"]:
                    fs = f.get("stats") or {}
                    if not self._file_may_match(fs, phys_filters):
                        continue
                    if norm_keys is not None:
                        rng = fs.get(phys_key)
                        if rng:
                            try:
                                if not any(rng[0] <= kk <= rng[1] for kk in norm_keys):
                                    continue
                            except TypeError:
                                pass  # uncomparable -> keep the file
                    survivors.append(f["name"])
                if len(survivors) < len(entry["files"]):
                    base_paths.extend(os.path.join(pdir, n) for n in survivors)
                    continue
            base_paths.append(pdir)
        delta_paths = [
            os.path.join(self.root, d["path"]) for k in delta_keys for d in deltas[k]
        ]
        if not base_paths and not delta_paths:
            df = spark.createDataFrame([], read_schema)
        else:
            df = self._scan_paths(spark, base_paths + delta_paths, read_schema)
        if delta_paths:
            # resolve only the delta-bearing buckets; clean buckets pass through
            df = self._resolve_dirty(df, delta_keys)
        if with_meta:
            return df if with_part_col else df.drop(PART_COL)
        df = df.where(f"NOT coalesce({quote(DELETED_COL)}, false)").drop(LSN_COL, DELETED_COL)
        if stats_filters:
            # residual predicate: exactness does not depend on which files
            # carried stats, and the same bounds push into the parquet scan
            # for row-group skipping on the survivors
            for col, (lo, hi) in stats_filters.items():
                if lo is not None:
                    df = df.where(F.col(col) >= F.lit(lo))
                if hi is not None:
                    df = df.where(F.col(col) <= F.lit(hi))
        return df if with_part_col else df.drop(PART_COL)

    def _resolve_dirty(self, df: DataFrame, buckets) -> DataFrame:
        """Last-writer-wins per key (``max_by`` on ``coalesce(_lsn, -1)``)
        over the rows of the delta-bearing ``buckets``; every other bucket
        passes through unresolved.  The read planner shared by :meth:`read`
        and :meth:`read_changed_since`."""
        dirty = in_ints(PART_COL, buckets)
        resolved = lww_resolve(
            df.where(dirty), self.key_col, f"coalesce({quote(LSN_COL)}, -1)"
        )
        return df.where(f"NOT ({dirty})").unionByName(resolved)

    @classmethod
    def _file_may_match(cls, file_stats: dict, stats_filters: dict) -> bool:
        """Can a file with the given per-column [min, max] ranges hold a row
        matching every range predicate?  Unknown columns / uncomparable
        bounds keep the file (pruning must be provably safe)."""
        for col, (lo, hi) in stats_filters.items():
            rng = file_stats.get(col)
            if not rng:
                continue
            fmin, fmax = rng
            nlo = cls._stat_json(lo) if lo is not None else None
            nhi = cls._stat_json(hi) if hi is not None else None
            try:
                if nlo is not None and fmax < nlo:
                    return False
                if nhi is not None and fmin > nhi:
                    return False
            except TypeError:
                continue  # mixed types: range unknowable -> keep
        return True

    def read_changed_since(
        self,
        spark: SparkSession,
        lsn_watermark: int,
        stats_filters: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Incremental-consumer scan: the current WINNING version of every key
        whose latest change has ``_lsn > lsn_watermark`` — deleted keys appear
        as tombstone rows (``_deleted = true``), so a downstream sink can
        apply the feed as upserts+deletes (the Iceberg incremental-scan /
        changed-data-feed read pattern).

        File skipping makes this O(changed data), not O(table): every commit
        records per-file ``lsn_max`` from the parquet footer statistics, and
        any file whose ``lsn_max <= watermark`` CANNOT contain a winner newer
        than the watermark — so old base files are pruned driver-side before
        the scan.  Under merge-on-read ingest the recent deltas are exactly
        the unpruned files, so a consumer polling each epoch reads only that
        epoch's delta files.  (Winners are resolved among the surviving files
        only: a pruned file could at most hold a SUPERSEDED version of a
        changed key — never the winner — and unchanged keys are filtered by
        the final ``_lsn > watermark`` gate.)

        ``stats_filters`` — a SELECTIVE feed (``{col: (lo, hi)}``, the
        :meth:`read` contract): upsert rows are restricted to the value
        range, while **every delete tombstone newer than the watermark is
        still delivered** — a filtered replica must hear about deletions
        even though a tombstone carries no payload values to test (the
        consumer drops deletes for keys it never stored; the standard
        filtered-CDC contract).  Value pruning composes with LSN pruning on
        clean-bucket base files, and only where the manifest proves the
        file holds no tombstones (``has_deletes=false``); dirty buckets and
        tombstone-bearing files scan fully, exactness guaranteed by the
        residual predicate.  NOTE the predicate tests the row's CURRENT
        value: a key UPDATED OUT of the range emits nothing (not a delete)
        — consumers needing leave-the-range retractions should diff
        successive filtered reads or consume the unfiltered feed.
        """
        if stats_filters:
            unknown = [c for c in stats_filters if c not in self.schema.fieldNames()]
            if unknown:
                raise ValueError(f"stats_filters references unknown columns: {unknown}")
        read_schema = T.StructType(
            list(self.schema.fields)
            + [
                T.StructField(LSN_COL, T.LongType(), True),
                T.StructField(DELETED_COL, T.BooleanType(), True),
                T.StructField(PART_COL, T.IntegerType(), True),
            ]
        )

        def live(entry: dict) -> bool:
            mx = entry.get("lsn_max")
            return mx is None or mx > lsn_watermark  # None = pre-stats file: keep

        dirty_bucket_keys = {
            k for k, ds in self.meta.get("deltas", {}).items() if ds
        }
        paths = []
        for k, e in self.meta["partitions"].items():
            if not live(e):
                continue
            pdir = os.path.join(self.root, e["path"])
            if stats_filters and k not in dirty_bucket_keys and e.get("files"):
                v_entry = self._data_path_version(e["path"])
                phys_filters = {
                    self._physical_name(c, v_entry): b
                    for c, b in stats_filters.items()
                }
                survivors = [
                    f["name"]
                    for f in e["files"]
                    if f.get("has_deletes", True)
                    or self._file_may_match(f.get("stats") or {}, phys_filters)
                ]
                if len(survivors) < len(e["files"]):
                    paths.extend(os.path.join(pdir, n) for n in survivors)
                    continue
            paths.append(pdir)
        paths += [
            os.path.join(self.root, d["path"])
            for ds in self.meta.get("deltas", {}).values()
            for d in ds
            if live(d)
        ]
        if not paths:
            return spark.createDataFrame([], read_schema).drop(PART_COL)
        df = self._scan_paths(spark, paths, read_schema)
        # The LWW resolve shuffle is needed ONLY where several versions of a
        # key can coexist in the scanned set — the delta-bearing buckets.  A
        # COW snapshot holds exactly one version per key (each bucket rewrite
        # materializes the winners), so a pure-COW feed is scan + filter with
        # ZERO shuffle; mixed tables resolve only their dirty buckets (the
        # same scoping as :meth:`read`).  Winners among survivors suffice: a
        # pruned file's rows are all <= the watermark, so any key whose true
        # winner was pruned is filtered by the final gate, never mis-emitted.
        dirty_keys = [
            int(k)
            for k, ds in self.meta.get("deltas", {}).items()
            if any(live(d) for d in ds)
        ]
        if dirty_keys:
            df = self._resolve_dirty(df, dirty_keys)
        df = df.where(f"{quote(LSN_COL)} > {int(lsn_watermark)}")
        if stats_filters:
            # residual: upserts gated by the range, tombstones always pass
            is_del = F.coalesce(F.col(DELETED_COL), F.lit(False))
            for col, (lo, hi) in stats_filters.items():
                cond = F.lit(True)
                if lo is not None:
                    cond = cond & (F.col(col) >= F.lit(lo))
                if hi is not None:
                    cond = cond & (F.col(col) <= F.lit(hi))
                df = df.where(is_del | cond)
        return df.drop(PART_COL)

    def read_for_keys(self, spark: SparkSession, keys: DataFrame | list) -> DataFrame:
        """Bucket-pruned point lookup: read ONLY the bucket partitions the
        requested keys hash to, then semi-join.  For k keys over B buckets
        the scan touches ≤ min(k, B) buckets — the Iceberg bucket-transform
        pruning a key-value consumer relies on (vs scanning the full table).

        ``keys``: a one-column DataFrame or a Python list of key values.
        For a DataFrame the bucket set is computed with a keys-sized Spark
        job (the bucket hash lives JVM-side).  A list of supported key type
        is bucketed driver-side by the xxhash64 twin, and up to
        ``SMALL_BATCH_ROWS`` literals filter through a pushed-down IN
        instead of a semi join.
        """
        key_type = self.schema[self.key_col].dataType
        literal_keys: list | None = None
        if not isinstance(keys, DataFrame):
            # None keys can match nothing (the key column is non-null by
            # contract) — drop them instead of blowing up sorted(); mixed
            # uncomparable types fall back to the semi-join path unsorted
            # (sorting is only for deterministic plan text, not correctness)
            non_null = {k for k in keys if k is not None}
            try:
                literal_keys = sorted(non_null)
            except TypeError:
                literal_keys = list(non_null)
            if not literal_keys:
                return self.read(spark).limit(0)

        def keys_df() -> DataFrame:
            df = keys if literal_keys is None else spark.createDataFrame(
                [(k,) for k in literal_keys],
                T.StructType([T.StructField(self.key_col, key_type)]),
            )
            return df.select(F.col(df.columns[0]).alias(self.key_col)).distinct()

        buckets = None
        if literal_keys is not None:
            # bucket ids driver-side via the bit-equality-tested xxhash64
            # twin — no keys-sized Spark job for the supported key types
            # (the fixed cost that dominated small maintenance refreshes)
            from ..functions.keys import bucket_for_key

            tname = key_type.simpleString()
            try:
                buckets = sorted(
                    {bucket_for_key(k, tname, self.n_buckets) for k in literal_keys}
                )
            except TypeError:
                buckets = None  # unsupported key type: Spark-job fallback
        if buckets is None:
            buckets = [
                r["b"]
                for r in keys_df().select(self.bucket_expr().alias("b")).distinct().collect()
            ]
        if literal_keys is not None and len(literal_keys) <= SMALL_BATCH_ROWS:
            # literal IN predicate instead of a semi join: it pushes into the
            # parquet scan, where per-file min/max on the sorted key column,
            # dictionary filtering, and (with write.bloom.columns) row-group
            # bloom filters all prune BEFORE any row is materialized — a
            # semi join prunes nothing below the scan.  key_literals adds
            # the PLANNING-time tier: with the key under
            # write.stats-columns, each clean bucket prunes to the files
            # whose key range can hold a requested key (files are
            # key-sorted, so that is ~one file per key per bucket).
            pruned = self.read(spark, partitions=buckets, key_literals=literal_keys)
            return pruned.where(_key_in(spark, self.key_col, key_type, literal_keys))
        pruned = self.read(spark, partitions=buckets)
        return pruned.join(F.broadcast(keys_df()), self.key_col, "left_semi")

    def row_count(self) -> int:
        """PHYSICAL row count from metadata (base + delta files).  With
        merge-on-read deltas pending this over-counts live rows (superseded
        versions and their tombstones are still on disk until compaction) —
        the live count is ``read(spark).count()``."""
        return sum(p["rows"] for p in self.meta["partitions"].values()) + sum(
            d["rows"] for ds in self.meta.get("deltas", {}).values() for d in ds
        )

    # -- write path -----------------------------------------------------------

    def overwrite_partitions(
        self,
        df: DataFrame,
        epoch: int | None = None,
        lineage_extra: dict[str, Any] | None = None,
        incoming_schema: T.StructType | None = None,
        max_retries: int = 5,
        epoch_source: str | None = None,
        affected_partitions: list[int] | None = None,
        read_version: int | None = None,
        meta_updates: dict[str, Any] | None = None,
        conflict_scope: str = "partitions",
        sort_override: list | None = None,
    ) -> CommitResult:
        """Atomically replace the bucket partitions present in ``df``.

        ``sort_override``: clustering expressions replacing the
        ``write.sort-order`` property for THIS write (z-order compaction).

        ``meta_updates``: extra table-metadata fields committed atomically
        with the data (partition-spec evolution — see :meth:`rebucket`).

        ``df`` must contain the logical columns plus ``_part``; ONLY the
        distinct ``_part`` values present are rewritten — all other partitions
        carry over by reference (no data movement).  ``affected_partitions``
        widens that set explicitly: partitions listed there but absent from the
        written output (all their rows were filtered away, e.g. by vacuum) are
        committed as EMPTY and dropped from metadata instead of silently
        keeping their stale pre-rewrite files.

        Exactly-once: if ``epoch`` is not None and already committed (within
        ``epoch_source``'s namespace), this is a no-op (skipped=True) and no
        data is written.

        Concurrency: optimistic — the metadata version is claimed with an
        exclusive create; on collision the commit retries against the refreshed
        metadata (data files are snapshot-scoped so no partial state leaks).
        ``read_version``: the snapshot version the caller's plan READ (merge
        inputs).  If a concurrent commit has since changed any partition this
        write touches, the plan is stale — the commit raises
        :class:`CommitConflictError` so the caller rebuilds its merge against
        the fresh snapshot (serializable isolation, Iceberg-style validation).
        Commits over disjoint partitions still succeed via the plain retry.
        """
        if epoch is not None and self.epoch_committed(epoch, epoch_source):
            return CommitResult(self.version, self.meta["snapshot_id"], epoch, skipped=True)

        new_schema = self.schema
        schema_changed = False
        if incoming_schema is not None:
            new_schema, schema_changed = evolve_schema(self.schema, incoming_schema)
            self.ensure_key_type_unchanged(new_schema)

        # conform + deterministic physical layout (see _layout):
        #   one task per bucket × write.fanout (repartition by _part [+ key
        #   sub-hash]), rows sorted by key within each file → output file
        #   CONTENT is deterministic at any parallelism level.
        with_part = df if PART_COL in df.columns else df.withColumn(PART_COL, self.bucket_expr())
        # conform to the (possibly evolved) schema; CDC meta columns
        # (_lsn/_deleted) ride along when the caller provides them
        out = conform_to_schema(
            with_part,
            T.StructType(
                [
                    *new_schema.fields,
                    *_meta_fields(with_part.columns),
                    T.StructField(PART_COL, T.IntegerType(), True),
                ]
            ),
        )
        layout_buckets = (meta_updates or {}).get("n_buckets", self.n_buckets)
        laid_out = self._layout(out, layout_buckets, order_override=sort_override)
        return self._commit_attempts(
            laid_out, epoch, lineage_extra, new_schema, schema_changed, max_retries,
            epoch_source=epoch_source, affected_partitions=affected_partitions,
            read_version=read_version, meta_updates=meta_updates,
            conflict_scope=conflict_scope,
        )

    def append_deltas(
        self,
        df: DataFrame,
        epoch: int | None = None,
        lineage_extra: dict[str, Any] | None = None,
        incoming_schema: T.StructType | None = None,
        max_retries: int = 5,
        epoch_source: str | None = None,
    ) -> CommitResult:
        """Merge-on-read commit: append ``df`` as per-bucket DELTA files —
        no base read, no rewrite; per-epoch write cost is O(batch).

        ``df`` carries the logical columns plus ``_lsn`` and ``_deleted``
        (a delete is a row with ``_deleted=true`` at its LSN — the
        equality-delete analog).  The caller should LWW-reduce the batch
        first (one row per key); reads resolve ``max(_lsn)`` per key either
        way.  Deltas fold into the base at :meth:`compact_partitions` or any
        copy-on-write commit of the same bucket.

        Concurrency: appends commute — two concurrent appends both succeed
        via the plain CAS retry, and the data files written by a losing
        attempt are REUSED (only the metadata race is retried).  The one
        real conflict is partition-spec evolution: if a rebucket landed
        since this batch was bucketed, the rows are addressed under a dead
        modulus — :class:`CommitConflictError` tells the caller to rebuild.

        Exactly-once: same epoch fencing as :meth:`overwrite_partitions`.
        """
        if LSN_COL not in df.columns or DELETED_COL not in df.columns:
            raise ValueError(f"append_deltas requires {LSN_COL} and {DELETED_COL} columns")
        if epoch is not None and self.epoch_committed(epoch, epoch_source):
            return CommitResult(self.version, self.meta["snapshot_id"], epoch, skipped=True)
        new_schema = self.schema
        schema_changed = False
        if incoming_schema is not None:
            new_schema, schema_changed = evolve_schema(self.schema, incoming_schema)
            self.ensure_key_type_unchanged(new_schema)
        plan_buckets = self.n_buckets
        with_part = df if PART_COL in df.columns else df.withColumn(PART_COL, self.bucket_expr())
        out = conform_to_schema(
            with_part,
            T.StructType(
                [
                    *new_schema.fields,
                    *_meta_fields((LSN_COL, DELETED_COL)),
                    T.StructField(PART_COL, T.IntegerType(), True),
                ]
            ),
        )
        laid_out = self._layout(out, plan_buckets, fanout=1)  # see _layout
        sdir_rel = sdir = None
        stats: dict[int, int] = {}
        for _attempt in range(max_retries):
            self.refresh()
            if epoch is not None and self.epoch_committed(epoch, epoch_source):
                if sdir is not None:
                    shutil.rmtree(sdir, ignore_errors=True)
                return CommitResult(
                    self.version, self.meta["snapshot_id"], epoch, skipped=True,
                    cas_retries=_attempt,
                )
            if self.n_buckets != plan_buckets:
                if sdir is not None:
                    shutil.rmtree(sdir, ignore_errors=True)
                raise CommitConflictError(
                    f"partition spec evolved ({plan_buckets} -> {self.n_buckets} buckets) "
                    "while this delta batch was in flight; re-bucket the batch and retry"
                )
            global_latest, global_heads, global_forks = self._global_refs(self.root)
            new_version = global_latest + 1
            if sdir is None:
                # delta content depends only on the batch (never table state):
                # write once, reuse the files across metadata CAS retries
                snapshot_id = f"s{new_version:08d}-{uuid.uuid4().hex[:8]}"
                sdir_rel = os.path.join("data", snapshot_id)
                sdir = os.path.join(self.root, sdir_rel)
                self._writer(laid_out).parquet(sdir)
                stats = self._footer_stats(sdir, lsn_range=True)
            else:
                snapshot_id = f"s{new_version:08d}-{snapshot_id.split('-', 1)[1]}"
            affected = sorted(stats)
            meta = json.loads(json.dumps(self.meta))
            meta["version"] = new_version
            meta["parent_version"] = self.version
            meta["snapshot_id"] = snapshot_id
            meta["branch"] = self.branch
            meta["branch_heads"] = {**global_heads, self.branch: new_version}
            meta["branch_forks"] = global_forks
            # re-merge against the REFRESHED schema: losing a CAS race to a
            # concurrent schema evolution must not clobber its new columns
            # (additive ∪ additive is safe; data files conformed to the
            # narrower schema read the extra columns as NULL)
            final_schema, _ = evolve_schema(self.schema, new_schema)
            self._check_retired_names(final_schema)
            meta["schema"] = final_schema.jsonValue()
            for p in affected:
                meta.setdefault("deltas", {}).setdefault(str(p), []).append(
                    {
                        "path": os.path.join(sdir_rel, f"_pw={p}"),
                        "rows": stats[p]["rows"],
                        "lsn_min": stats[p]["lsn_min"],
                        "lsn_max": stats[p]["lsn_max"],
                    }
                )
            extra = lineage_extra() if callable(lineage_extra) else lineage_extra
            meta["lineage"] = (
                meta["lineage"]
                + [
                    {
                        "snapshot_id": snapshot_id,
                        "version": new_version,
                        "epoch": epoch,
                        "partition": p,
                        "rows_after": stats[p]["rows"],
                        "delta": True,
                        **(extra or {}).get(p, (extra or {}).get(str(p), {})),
                    }
                    for p in affected
                ]
            )
            if epoch is not None:
                if epoch_source is None:
                    meta["epoch_watermark"] = max(meta["epoch_watermark"], epoch)
                meta["committed_epochs"][self._epoch_key(epoch, epoch_source)] = {
                    "version": new_version,
                    "snapshot_id": snapshot_id,
                    "partitions": affected,
                    "rows_written": sum(v["rows"] for v in stats.values()),
                }
            if schema_changed:
                meta.setdefault("schema_log", []).append(
                    {"version": new_version, "schema": final_schema.jsonValue()}
                )
            meta["committed_at"] = time.time()
            try:
                self._write_metadata(meta, touched={str(p) for p in affected})
            except FileExistsError:
                continue  # metadata race only — delta files stay valid
            self.meta = meta
            return CommitResult(
                new_version, snapshot_id, epoch,
                partitions_rewritten=affected,
                rows_written=sum(v["rows"] for v in stats.values()),
                cas_retries=_attempt,
            )
        if sdir is not None:
            shutil.rmtree(sdir, ignore_errors=True)
        raise ConcurrentCommitError(f"lost {max_retries} consecutive commit races on {self.root}")

    @staticmethod
    def _stat_json(v):
        """Normalize a parquet footer statistic to a JSON-storable value that
        compares consistently with itself (ints/floats/strs as-is, temporal
        values as ISO strings — lexicographic order == chronological order).
        ``None`` means "not representable" — the caller must treat the
        column's range as unknown for that file (never prune on it)."""
        import datetime

        if isinstance(v, bool) or v is None:
            return None  # bool min/max never prunes anything useful
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, (int, float, str)):
            return v
        return None

    @staticmethod
    def _footer_stats(
        sdir: str, lsn_range: bool = False, stats_cols: list[str] | None = None
    ) -> dict[int, Any]:
        """Per-partition row counts (and, with ``lsn_range``, min/max ``_lsn``
        from the parquet column statistics) read from the footers of a just-
        written snapshot dir — driver-side metadata only, no Spark job.  This
        keeps the commit at ONE compute pass over the merged data (the write);
        a stats-side groupBy would recompute the whole merge plan.

        With ``stats_cols`` (the parsed ``write.stats-columns`` property),
        each partition additionally records a PER-FILE entry list
        ``files=[{name, rows, stats: {col: [min, max]}}, ...]`` — the
        manifest-level data-skipping stats an Iceberg scan plans against.  A
        column appears in a file's stats only if EVERY row group of that
        file carries trustworthy min/max for it (a partial range could prune
        a file that still holds matching rows).  Combined with
        ``write.sort-order`` on the same columns, the files inside a bucket
        are range-clustered, so a range predicate prunes most of them at
        PLANNING time — no listing, no footer reads, no tasks for skipped
        files (see :meth:`read` ``stats_filters``).

        Routed through ``pyarrow.fs`` so any URI scheme pyarrow can resolve
        works (local, hdfs://, s3://).  NOTE the metadata CAS
        (``_write_metadata``) still requires exclusive-create semantics —
        POSIX-local/NFS/HDFS; raw object stores need a CAS-capable catalog."""
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        if "://" in sdir:
            filesystem, path = pafs.FileSystem.from_uri(sdir)
        else:
            filesystem, path = pafs.LocalFileSystem(), sdir
        rows: dict[int, int] = {}
        lsn_lo: dict[int, int] = {}
        lsn_hi: dict[int, int] = {}
        files: dict[int, list] = {}
        sel = pafs.FileSelector(path, recursive=True, allow_not_found=True)
        for finfo in sorted(filesystem.get_file_info(sel), key=lambda fi: fi.path):
            if finfo.type != pafs.FileType.File or not finfo.path.endswith(".parquet"):
                continue
            if "_pw=" not in finfo.path:
                continue
            tail = finfo.path.split("_pw=", 1)[1]
            p = int(tail.split("/", 1)[0])
            with filesystem.open_input_file(finfo.path) as f:
                md = pq.ParquetFile(f).metadata
                rows[p] = rows.get(p, 0) + md.num_rows
                names = {md.schema.column(i).name: i for i in range(md.num_columns)}
                if lsn_range:
                    ci = names.get(LSN_COL)
                    if ci is not None:
                        for rg in range(md.num_row_groups):
                            st = md.row_group(rg).column(ci).statistics
                            if st is not None and st.has_min_max:
                                lsn_lo[p] = min(lsn_lo.get(p, st.min), st.min)
                                lsn_hi[p] = max(lsn_hi.get(p, st.max), st.max)
                if stats_cols:
                    # per-file tombstone presence: a filtered changed-since
                    # feed may value-prune a file ONLY if it provably holds
                    # no delete tombstones (their payload columns are NULL,
                    # so value ranges say nothing about them).  bool max
                    # from the footer: max(_deleted)=false == no tombstones;
                    # missing column/stats -> conservatively true.
                    has_deletes = True
                    di = names.get(DELETED_COL)
                    if di is not None:
                        dmax, complete_d = False, md.num_row_groups > 0
                        for rg in range(md.num_row_groups):
                            st = md.row_group(rg).column(di).statistics
                            if st is None or not st.has_min_max:
                                complete_d = False
                                break
                            dmax = dmax or bool(st.max)
                        if complete_d:
                            has_deletes = dmax
                    col_stats: dict[str, list] = {}
                    for col in stats_cols:
                        ci = names.get(col)
                        if ci is None:
                            continue
                        lo = hi = None
                        complete = md.num_row_groups > 0
                        for rg in range(md.num_row_groups):
                            st = md.row_group(rg).column(ci).statistics
                            if st is None or not st.has_min_max:
                                complete = False
                                break
                            jlo = IcehouseTable._stat_json(st.min)
                            jhi = IcehouseTable._stat_json(st.max)
                            if jlo is None or jhi is None:
                                complete = False
                                break
                            lo = jlo if lo is None else min(lo, jlo)
                            hi = jhi if hi is None else max(hi, jhi)
                        if complete:
                            col_stats[col] = [lo, hi]
                    files.setdefault(p, []).append(
                        {
                            "name": tail.split("/", 1)[1],
                            "rows": md.num_rows,
                            "stats": col_stats,
                            "has_deletes": has_deletes,
                        }
                    )
        if not lsn_range and not stats_cols:
            return rows
        out = {
            p: {"rows": n, "lsn_min": lsn_lo.get(p), "lsn_max": lsn_hi.get(p)}
            for p, n in rows.items()
        }
        if stats_cols:
            for p, fl in files.items():
                out[p]["files"] = fl
        return out

    def _commit_attempts(
        self, laid_out, epoch, lineage_extra, new_schema, schema_changed, max_retries,
        epoch_source: str | None = None, affected_partitions: list[int] | None = None,
        read_version: int | None = None, meta_updates: dict[str, Any] | None = None,
        conflict_scope: str = "partitions",
    ) -> CommitResult:
        for _attempt in range(max_retries):
            self.refresh()
            if epoch is not None and self.epoch_committed(epoch, epoch_source):
                return CommitResult(
                    self.version, self.meta["snapshot_id"], epoch, skipped=True,
                    cas_retries=_attempt,
                )
            # Version numbers are table-wide (shared by every branch): the
            # next number comes from the GLOBAL newest doc, while the state
            # basis (self.meta via refresh above) is this handle's BRANCH
            # head.  A lost race on the number is retried with the branch
            # basis unchanged — commits on other branches never invalidate
            # ours (disjoint lineages); same-branch races re-validate via
            # the epoch fence and read_version check as before.
            global_latest, global_heads, global_forks = self._global_refs(self.root)
            new_version = global_latest + 1
            # data dir is unique per commit ATTEMPT (not per version): two racing
            # writers must never share a directory — the metadata CAS below, not
            # the filesystem write, decides who wins the version.
            snapshot_id = f"s{new_version:08d}-{uuid.uuid4().hex[:8]}"
            sdir_rel = os.path.join("data", snapshot_id)
            sdir = os.path.join(self.root, sdir_rel)
            self._writer(laid_out).parquet(sdir)
            stats = self._footer_stats(
                sdir, lsn_range=True, stats_cols=self.stats_columns or None
            )
            if affected_partitions is not None:
                # partitions the caller read but whose rewrite produced zero
                # rows get an explicit rows=0 entry → dropped from metadata
                # below (vacuum/compact of a 100%-tombstone partition)
                for p in affected_partitions:
                    stats.setdefault(int(p), {"rows": 0, "lsn_min": None, "lsn_max": None})
            affected = sorted(stats)
            if read_version is not None and self.version != read_version:
                # serializable-isolation validation: a concurrent commit won
                # a version race since our plan read its inputs.  Safe ONLY
                # if none of the partitions we are about to replace changed;
                # otherwise our output was derived from stale base rows
                # (lost update) — hand the conflict back to the caller.
                base_meta = IcehouseTable.load(self.root, version=read_version).meta
                base_parts = {
                    k: (v, base_meta.get("deltas", {}).get(k))
                    for k, v in base_meta["partitions"].items()
                }
                for k, ds in base_meta.get("deltas", {}).items():
                    base_parts.setdefault(k, (None, ds))
                cur_parts = {
                    k: (v, self.meta.get("deltas", {}).get(k))
                    for k, v in self.meta["partitions"].items()
                }
                for k, ds in self.meta.get("deltas", {}).items():
                    cur_parts.setdefault(k, (None, ds))
                if conflict_scope == "table":
                    # whole-table validation: a commit that rewrites the
                    # table's ADDRESSING (rebucket) conflicts with ANY
                    # concurrent change — a new partition outside our read
                    # set would otherwise carry over still hashed under the
                    # old modulus and become permanently unreachable to merges
                    dirty = sorted(
                        int(k)
                        for k in set(base_parts) | set(cur_parts)
                        if base_parts.get(k) != cur_parts.get(k)
                    )
                else:
                    dirty = [
                        p for p in affected if base_parts.get(str(p)) != cur_parts.get(str(p))
                    ]
                if dirty:
                    shutil.rmtree(sdir, ignore_errors=True)
                    raise CommitConflictError(
                        f"partitions {dirty} changed between read snapshot "
                        f"v{read_version} and current v{self.version}; rebuild "
                        "the merge against the refreshed snapshot"
                    )
            # build next metadata
            meta = json.loads(json.dumps(self.meta))  # deep copy
            meta.update(meta_updates or {})
            meta["version"] = new_version
            meta["parent_version"] = self.version
            meta["snapshot_id"] = snapshot_id
            meta["branch"] = self.branch
            meta["branch_heads"] = {**global_heads, self.branch: new_version}
            meta["branch_forks"] = global_forks
            # re-merge against the REFRESHED schema (see append_deltas): a
            # CAS retry must not clobber a concurrently-evolved column set
            final_schema, _ = evolve_schema(self.schema, new_schema)
            self._check_retired_names(final_schema)
            meta["schema"] = final_schema.jsonValue()
            for p in affected:
                entry = {
                    "path": os.path.join(sdir_rel, f"_pw={p}"),
                    "rows": stats[p]["rows"],
                    # file-skipping stats: a changed-since scan prunes any
                    # file whose lsn_max is at or below its watermark
                    "lsn_min": stats[p]["lsn_min"],
                    "lsn_max": stats[p]["lsn_max"],
                }
                # write.stats-columns: per-file column ranges for planning-
                # time data skipping (read(stats_filters=...))
                if stats[p].get("files"):
                    entry["files"] = stats[p]["files"]
                meta["partitions"][str(p)] = entry
            # drop partitions that became empty
            meta["partitions"] = {k: v for k, v in meta["partitions"].items() if v["rows"] > 0}
            # a copy-on-write rewrite of a bucket folds its merge-on-read
            # deltas into the new base (the caller read the RESOLVED bucket
            # via read()) — clear them so they are not re-applied
            if meta.get("deltas"):
                for p in affected:
                    meta["deltas"].pop(str(p), None)
            # lineage_extra may be a callable (lazy stats computed CONCURRENTLY
            # with the data write — resolved here, after the write finished)
            extra = lineage_extra() if callable(lineage_extra) else lineage_extra
            lineage_rows = [
                {
                    "snapshot_id": snapshot_id,
                    "version": new_version,
                    "epoch": epoch,
                    "partition": p,
                    "rows_after": stats[p]["rows"],
                    **(extra or {}).get(p, (extra or {}).get(str(p), {})),
                }
                for p in affected
            ]
            meta["lineage"] = meta["lineage"] + lineage_rows
            if epoch is not None:
                if epoch_source is None:
                    # the watermark tracks the BATCH replay namespace only —
                    # streaming batchIds are an independent sequence
                    meta["epoch_watermark"] = max(meta["epoch_watermark"], epoch)
                meta["committed_epochs"][self._epoch_key(epoch, epoch_source)] = {
                    "version": new_version,
                    "snapshot_id": snapshot_id,
                    "partitions": affected,
                    "rows_written": sum(v["rows"] for v in stats.values()),
                }
            if schema_changed:
                meta.setdefault("schema_log", []).append(
                    {"version": new_version, "schema": final_schema.jsonValue()}
                )
            meta["committed_at"] = time.time()
            try:
                self._write_metadata(meta, touched={str(p) for p in affected})
            except FileExistsError:
                # another writer claimed this version — clean our orphan data and retry
                if os.path.isdir(sdir):
                    shutil.rmtree(sdir, ignore_errors=True)
                continue
            self.meta = meta
            return CommitResult(
                new_version, snapshot_id, epoch,
                partitions_rewritten=affected,
                rows_written=sum(v["rows"] for v in stats.values()),
                cas_retries=_attempt,
            )
        raise ConcurrentCommitError(f"lost {max_retries} consecutive commit races on {self.root}")

    # -- metadata persistence (sharded manifests) ------------------------------
    #
    # On disk a snapshot is a ROOT document (v{N}.metadata.json, claimed by
    # exclusive-create CAS) whose per-partition file lists live in separate
    # content-addressed MANIFEST files (metadata/manifests/m-<sha>.json, one
    # per bucket partition, each holding that bucket's base entry + delta
    # list).  An untouched partition's manifest carries over BY REFERENCE —
    # the commit writes only the manifests of touched partitions plus the
    # root, so commit payload is O(touched partitions + n_buckets refs)
    # instead of O(every data-file entry in the table).  That is the Iceberg
    # manifest-list design collapsed one level (bucket == manifest): at
    # 10^10 events with deep pending MOR delta chains, the old single
    # document re-serialized every delta file entry of every bucket on every
    # commit.  Content addressing (sha256 of the canonical JSON) makes
    # manifest writes idempotent — two racing committers producing the same
    # partition state write the same file, so manifests need no CAS; only
    # the root does.  In memory `self.meta` keeps the fully-inlined shape
    # (partitions/deltas dicts) — load() re-inlines, so every algorithm
    # above this line is storage-layout-agnostic.

    @staticmethod
    def _manifest_dir(root: str) -> str:
        return os.path.join(root, "metadata", "manifests")

    @staticmethod
    def _fsync_dir(path: str) -> None:
        """fsync a DIRECTORY so just-renamed entries are durable.  The split
        into root + manifest/segment files creates a cross-file ordering the
        old single-document layout never had: the root CAS must not become
        durable while the rename() directory entries of the manifests it
        references are still only in the page cache — a power loss there
        would leave the newest root pointing at vanished manifests (table
        unreadable until manual repair).  No-op where directories can't be
        opened (non-POSIX)."""
        try:
            fd = os.open(path, os.O_RDONLY)
        except OSError:
            return
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    # Manifests and lineage segments are content-addressed / write-once and
    # therefore IMMUTABLE — perfect cache keys.  refresh()/load() re-read
    # the small root document every time, but re-parse only files this
    # process has never seen: a steady-state commit loop costs 1 root read +
    # O(touched) manifest reads per refresh instead of O(n_buckets).
    # Bounded FIFO on BOTH entry count and serialized bytes (lineage
    # segments can be MB-scale, so a count cap alone is not a memory bound).
    _manifest_cache: "dict[str, tuple[Any, int]]" = {}
    _manifest_cache_bytes = 0
    _manifest_cache_lock = threading.Lock()
    _MANIFEST_CACHE_MAX = 65536
    _MANIFEST_CACHE_MAX_BYTES = 128 * 1024 * 1024

    @classmethod
    def _read_manifest(cls, mandir: str, fname: str):
        key = os.path.join(mandir, fname)
        hit = cls._manifest_cache.get(key)  # hits stay lock-free (GIL-atomic)
        if hit is not None:
            return hit[0]
        with open(key) as fh:
            text = fh.read()
        content = json.loads(text)
        size = len(text)
        # mutations serialize: concurrent same-key misses (the background
        # stats thread racing the commit loop) must not double-count `size`
        # into the byte budget — drift would make eviction fire early forever
        with cls._manifest_cache_lock:
            if not cls._manifest_cache:
                cls._manifest_cache_bytes = 0  # re-sync after an external clear()
            if key in cls._manifest_cache:
                return cls._manifest_cache[key][0]
            while cls._manifest_cache and (
                len(cls._manifest_cache) >= cls._MANIFEST_CACHE_MAX
                or cls._manifest_cache_bytes + size > cls._MANIFEST_CACHE_MAX_BYTES
            ):
                evicted = cls._manifest_cache.pop(next(iter(cls._manifest_cache)), None)
                if evicted is not None:
                    cls._manifest_cache_bytes -= evicted[1]
            cls._manifest_cache[key] = (content, size)
            cls._manifest_cache_bytes += size
        return content

    @classmethod
    def _inline_manifests(cls, root: str, doc: dict[str, Any]) -> dict[str, Any]:
        """Root document -> fully-inlined meta (format v2); v1 passes through."""
        if "manifest_refs" not in doc:
            return doc
        mandir = cls._manifest_dir(root)
        partitions: dict[str, Any] = {}
        deltas: dict[str, Any] = {}
        for pkey, fname in doc["manifest_refs"].items():
            content = cls._read_manifest(mandir, fname)
            if content.get("partition") is not None:
                partitions[pkey] = content["partition"]
            if content.get("deltas"):
                deltas[pkey] = content["deltas"]
        meta = {k: v for k, v in doc.items() if k != "manifest_refs"}
        meta["partitions"] = partitions
        # preserve the lazy-init contract: 'deltas' appears only once any
        # bucket has pending delta files (rollback/COW-boundary semantics)
        if deltas or doc.get("had_deltas_key"):
            meta["deltas"] = deltas
        meta.pop("had_deltas_key", None)
        # lineage lives in append-only immutable SEGMENT files (one per
        # commit) — the root holds only their refs, so the retained lineage
        # log is never re-serialized into the root (same O(touched) property
        # as the partition manifests).  Materialize for in-memory consumers.
        if "lineage_segments" in doc:
            ldir = os.path.join(root, "metadata", "lineage")
            meta["lineage"] = [
                row
                for seg in doc["lineage_segments"]
                for row in cls._read_manifest(ldir, seg["file"])
            ]
            meta["lineage_segments_cache"] = [dict(s) for s in doc["lineage_segments"]]
            meta.pop("lineage_segments", None)
        # ref cache: lets a commit that declares its touched set reuse the
        # untouched partitions' manifests WITHOUT re-serializing them —
        # the O(touched) commit property (json-serializable so it survives
        # the deep copies the commit paths make)
        meta["manifest_refs_cache"] = dict(doc["manifest_refs"])
        return meta

    def _write_metadata(
        self, meta: dict[str, Any], touched: "set[str] | None" = None
    ) -> None:
        """Exclusive-create CAS on the root; per-partition manifests are
        content-addressed and written only when their content is new.

        ``touched``: the partition keys this commit may have changed.  When
        given (the hot commit paths pass their affected set), untouched
        partitions reuse the parent's manifest reference verbatim — no
        re-serialization, no hash — so commit CPU is O(touched partitions).
        When None (rollback/tags/spec evolution and any wholesale-mutation
        path), every partition is re-serialized: always correct, costs one
        pass over the metadata."""
        mdir = os.path.join(self.root, "metadata")
        mandir = self._manifest_dir(self.root)
        os.makedirs(mandir, exist_ok=True)
        ref_cache = meta.get("manifest_refs_cache") or {}
        refs: dict[str, str] = {}
        wrote_manifest = wrote_segment = False
        for pkey in sorted(
            set(meta["partitions"]) | set(meta.get("deltas", {})), key=int
        ):
            if touched is not None and pkey not in touched and pkey in ref_cache:
                refs[pkey] = ref_cache[pkey]
                continue
            content = {
                "partition": meta["partitions"].get(pkey),
                "deltas": meta.get("deltas", {}).get(pkey, []),
            }
            blob = json.dumps(content, sort_keys=True, separators=(",", ":"))
            h = hashlib.sha256(blob.encode()).hexdigest()[:20]
            fname = f"m-{h}.json"
            mpath = os.path.join(mandir, fname)
            if not os.path.exists(mpath):
                tmp = mpath + f".{os.getpid()}.{uuid.uuid4().hex[:6]}.tmp"
                with open(tmp, "w") as fh:
                    fh.write(blob)
                    fh.flush()
                    os.fsync(fh.fileno())
                os.replace(tmp, mpath)  # idempotent: same content, same name
            # fsync the dir even when the file pre-existed: it may have been
            # written by a committer that crashed before ITS dir fsync, so
            # only refs inherited from a durable parent root are exempt
            wrote_manifest = True
            refs[pkey] = fname
        # lineage segmentation: persist only the rows added since the parent
        # snapshot as ONE new immutable segment; retention drops whole old
        # segments once the retained total exceeds the cap (the root carries
        # refs only, so commit cost is O(new lineage rows), not O(retained))
        segs = [dict(s) for s in (meta.get("lineage_segments_cache") or [])]
        lineage = meta.get("lineage", [])
        covered = sum(s["n"] for s in segs)
        if 0 < covered <= len(lineage):
            new_rows = lineage[covered:]
        else:
            segs, new_rows = [], lineage  # fresh table or wholesale rewrite
        if new_rows:
            ldir = os.path.join(mdir, "lineage")
            os.makedirs(ldir, exist_ok=True)
            seg_name = f"L-{meta['version']:08d}-{uuid.uuid4().hex[:8]}.json"
            tmp = os.path.join(ldir, seg_name + ".tmp")
            with open(tmp, "w") as fh:
                json.dump(new_rows, fh, separators=(",", ":"))
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, os.path.join(ldir, seg_name))
            wrote_segment = True
            segs.append({"file": seg_name, "n": len(new_rows)})
        while len(segs) > 1 and sum(s["n"] for s in segs) > self.LINEAGE_KEEP_ROWS:
            segs.pop(0)
        doc = {
            k: v
            for k, v in meta.items()
            if k
            not in (
                "partitions", "deltas", "manifest_refs_cache",
                "lineage", "lineage_segments_cache",
            )
        }
        doc["manifest_refs"] = refs
        doc["lineage_segments"] = segs
        if "deltas" in meta and not any(meta["deltas"].values()):
            doc["had_deltas_key"] = True  # empty-but-present delta map survives reload
        # durability ordering: the manifests'/segments' directory entries
        # must hit disk BEFORE the root that references them (see _fsync_dir)
        if wrote_manifest:
            self._fsync_dir(mandir)
        if wrote_segment:
            self._fsync_dir(os.path.join(mdir, "lineage"))
        final = os.path.join(mdir, f"v{meta['version']:08d}.metadata.json")
        # CAS publish in two steps: write the COMPLETE document to a private
        # tmp file, then hard-link it to the version name.  link(2) fails
        # with FileExistsError if a concurrent committer won (the same
        # exclusive-create election O_EXCL gave), but unlike writing through
        # an O_EXCL fd the version name only ever appears with its full
        # content — a racing reader can never observe an empty/partial root
        # (found as a JSONDecodeError under multi-writer chaos testing).
        tmp = final + f".{os.getpid()}.{uuid.uuid4().hex[:6]}.tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)
        finally:
            os.unlink(tmp)
        # refresh the handle's caches so the NEXT commit on this handle can
        # reuse this version's untouched manifests / persisted lineage, and
        # trim the in-memory lineage to the retained segment window
        meta["manifest_refs_cache"] = refs
        meta["lineage_segments_cache"] = segs
        keep = sum(s["n"] for s in segs)
        if len(meta.get("lineage", [])) > keep:
            meta["lineage"] = meta["lineage"][-keep:]
        hint_tmp = os.path.join(mdir, f".version-hint.{os.getpid()}.tmp")
        with open(hint_tmp, "w") as fh:
            fh.write(str(meta["version"]))
        os.replace(hint_tmp, os.path.join(mdir, "version-hint.text"))

    # -- maintenance ----------------------------------------------------------

    def expire_snapshots(
        self, keep_last: int = 3, older_than_seconds: float | None = None
    ) -> list[str]:
        """Delete data dirs referenced only by metadata versions older than the
        last ``keep_last`` (Iceberg analog: expire_snapshots; reference analog:
        365-day partition expiry, loader.py:135).  TAGGED versions
        (:meth:`create_tag`) are always kept — files and metadata — until
        the tag is deleted.

        ``older_than_seconds``: additionally keep every version committed
        within the window (root-file mtime), regardless of ``keep_last`` —
        the Iceberg ``older_than`` retention form, so a burst of recent
        commits can't age out snapshots a reader may still be pinning.

        Concurrency: the tag set is re-read immediately before the unlink
        pass, closing the create_tag race to the CAS-commit window.  Like
        Iceberg's expire_snapshots, this is a MAINTENANCE operation — run it
        from the maintenance job, not concurrently with an in-flight commit
        (a commit's manifests/data land before its root, so a GC pass in
        that instant could reclaim them)."""
        mdir = os.path.join(self.root, "metadata")

        def _keep_and_live() -> tuple[set[int], set[str], list[int]]:
            self.refresh()
            versions = sorted(
                int(n[1:9]) for n in os.listdir(mdir) if n.endswith(".metadata.json")
            )
            # every branch head is pinned like a tag (its ref must stay
            # loadable), and so is every branch's FORK ANCHOR — cherry_pick
            # diffs the branch head against that snapshot, so reclaiming it
            # would strand the diverged-publish workflow.  Ancestors beyond
            # keep_last age out normally, so a parked branch keeps its head
            # + fork.  Tag maps live per-branch lineage, so the exempt set
            # unions the tags of EVERY branch head — expire run from one
            # branch must not reclaim a snapshot another branch's tag pins.
            _, heads, forks = self._global_refs(self.root)
            ref_pins = set(heads.values()) | {
                int(f["at_version"]) for f in forks.values()
            }
            tagged = set(self.meta.get("tags", {}).values())
            for hv in set(heads.values()):
                if hv in set(versions):
                    head_meta = IcehouseTable.load(self.root, version=hv).meta
                    tagged |= set(head_meta.get("tags", {}).values())
            keep = (
                set(versions[-keep_last:])
                | (tagged & set(versions))
                | (ref_pins & set(versions))
            )
            if older_than_seconds is not None:
                cutoff = time.time() - older_than_seconds
                for v in versions:
                    try:
                        mtime = os.path.getmtime(
                            os.path.join(mdir, f"v{v:08d}.metadata.json")
                        )
                    except FileNotFoundError:
                        continue
                    if mtime >= cutoff:
                        keep.add(v)
            live: set[str] = set()
            for v in sorted(keep):
                meta = IcehouseTable.load(self.root, version=v).meta
                for p in meta["partitions"].values():
                    live.add(p["path"].split("/_pw=")[0])
                for ds in meta.get("deltas", {}).values():
                    for d in ds:
                        live.add(d["path"].split("/_pw=")[0])
            return keep, live, versions

        keep_versions, live_dirs, versions = _keep_and_live()
        # Re-read immediately before the destructive pass: a create_tag that
        # CAS-committed while we computed live_dirs may have pinned a version
        # this pass would otherwise unlink.  One re-read closes the window to
        # the same order as the CAS commits everywhere else in this file.
        keep2, live2, versions2 = _keep_and_live()
        keep_versions |= keep2
        live_dirs |= live2
        versions = sorted(set(versions) | set(versions2))
        removed = []
        ddir = os.path.join(self.root, "data")
        for snap in os.listdir(ddir):
            rel = os.path.join("data", snap)
            if rel not in live_dirs:
                shutil.rmtree(os.path.join(ddir, snap), ignore_errors=True)
                removed.append(rel)
        for v in versions:
            if v not in keep_versions:
                os.unlink(os.path.join(mdir, f"v{v:08d}.metadata.json"))
        # manifest GC: drop content-addressed manifests referenced by no
        # surviving root (manifests are shared across versions by design,
        # so liveness is the union of the kept roots' reference sets)
        mandir = self._manifest_dir(self.root)
        ldir = os.path.join(mdir, "lineage")
        live_manifests: set[str] = set()
        live_segments: set[str] = set()
        for name in os.listdir(mdir):
            if not name.endswith(".metadata.json"):
                continue
            with open(os.path.join(mdir, name)) as fh:
                doc = json.load(fh)
            live_manifests.update(doc.get("manifest_refs", {}).values())
            live_segments.update(s["file"] for s in doc.get("lineage_segments", []))
        for gc_dir, live in ((mandir, live_manifests), (ldir, live_segments)):
            if not os.path.isdir(gc_dir):
                continue
            for name in os.listdir(gc_dir):
                # .tmp files are crash leftovers from the write-then-rename
                # in _write_metadata — safe to reclaim here because expire
                # runs in a maintenance window (no in-flight commits)
                if (name.endswith(".json") and name not in live) or name.endswith(".tmp"):
                    try:
                        os.unlink(os.path.join(gc_dir, name))
                    except FileNotFoundError:
                        pass
        return removed

    def _live_refs_all_versions(self) -> tuple[set[str], set[str], set[str]]:
        """(data snapshot dirs, manifest filenames, lineage segment filenames)
        referenced by ANY retained metadata version — the liveness set for
        orphan GC.  Data-dir liveness is resolved through the manifests
        themselves (one read per referenced manifest, cached) instead of a
        full load() per version."""
        mdir = os.path.join(self.root, "metadata")
        mandir = self._manifest_dir(self.root)
        live_manifests: set[str] = set()
        live_segments: set[str] = set()
        for name in os.listdir(mdir):
            if not name.endswith(".metadata.json"):
                continue
            with open(os.path.join(mdir, name)) as fh:
                doc = json.load(fh)
            live_manifests.update(doc.get("manifest_refs", {}).values())
            live_segments.update(s["file"] for s in doc.get("lineage_segments", []))
        live_dirs: set[str] = set()
        for fname in live_manifests:
            content = self._read_manifest(mandir, fname)
            part = content.get("partition")
            if part:
                live_dirs.add(part["path"].split("/_pw=")[0])
            for d in content.get("deltas", []):
                live_dirs.add(d["path"].split("/_pw=")[0])
        return live_dirs, live_manifests, live_segments

    def remove_orphan_files(self, grace_seconds: float = 3600.0) -> list[str]:
        """Delete files under the table root that NO retained metadata version
        references (Iceberg analog: remove_orphan_files(older_than)).

        A commit writes its data files, manifests, and lineage segments
        BEFORE the root CAS — a crash in that window strands them (the
        lost-race path cleans up only if the process survives).  At 10^10
        events those leftovers accumulate without bound, and
        :meth:`expire_snapshots` only reclaims them as a side effect of
        dropping history.  This op never drops history: every file reachable
        from any retained version (including tagged and time-travel
        versions) survives.

        ``grace_seconds`` makes it safe to run CONCURRENTLY with ingest: an
        in-flight commit's files are newer than the cutoff, so they are
        never swept even though no root references them yet.  Keep it
        comfortably above the longest expected commit data-write (the
        default 1 h is conservative).  One sharp edge is closed explicitly:
        manifests are content-addressed and REUSABLE, so a new commit can
        resurrect a reference to an old, previously-orphaned manifest — the
        liveness set is re-read immediately before the manifest unlink pass,
        the same CAS-instant window as every other multi-writer path here.
        """
        cutoff = time.time() - grace_seconds
        self.refresh()
        live_dirs, live_manifests, live_segments = self._live_refs_all_versions()

        def newest_mtime(path: str) -> float:
            newest = os.path.getmtime(path)
            for dirpath, _dirnames, filenames in os.walk(path):
                for n in filenames:
                    try:
                        newest = max(newest, os.path.getmtime(os.path.join(dirpath, n)))
                    except FileNotFoundError:
                        pass
            return newest

        removed: list[str] = []
        # 1. data snapshot dirs (uuid-unique, never resurrected)
        ddir = os.path.join(self.root, "data")
        if os.path.isdir(ddir):
            for snap in os.listdir(ddir):
                rel = os.path.join("data", snap)
                full = os.path.join(ddir, snap)
                if rel not in live_dirs and newest_mtime(full) < cutoff:
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(rel)
        # 2. manifests + lineage segments (+ crash-leftover .tmp files).
        # Re-read liveness first: a commit that landed during pass 1 may
        # have resurrected a content-addressed manifest by reference.
        _dirs2, live_manifests2, live_segments2 = self._live_refs_all_versions()
        live_manifests |= live_manifests2
        live_segments |= live_segments2
        mdir = os.path.join(self.root, "metadata")
        sweeps = (
            (self._manifest_dir(self.root), live_manifests),
            (os.path.join(mdir, "lineage"), live_segments),
            (mdir, None),  # .tmp leftovers only (roots are never orphans)
        )
        for gc_dir, live in sweeps:
            if not os.path.isdir(gc_dir):
                continue
            for name in os.listdir(gc_dir):
                full = os.path.join(gc_dir, name)
                if not os.path.isfile(full):
                    continue
                orphan = (
                    name.endswith(".tmp")
                    if live is None
                    else (name.endswith(".json") and name not in live) or name.endswith(".tmp")
                )
                if not orphan:
                    continue
                try:
                    if os.path.getmtime(full) < cutoff:
                        os.unlink(full)
                        removed.append(os.path.relpath(full, self.root))
                except FileNotFoundError:
                    pass
        return removed

    def delete_where(
        self, spark: SparkSession, condition, lsn: int, epoch: int | None = None
    ) -> CommitResult:
        """S8 predicate delete (reference: idempotent re-run fence
        ``DELETE ... WHERE DATE(created_at)=CURRENT_DATE() AND model_id=...``,
        ``priceforecasting/bigquery_handler.py:216-225``): convert matching
        live rows to tombstones carrying ``lsn`` — a later out-of-order event
        with a lower LSN stays deleted, and the delete itself is fenced by
        ``epoch`` like any other commit."""
        for _ in range(5):
            read_version = self.version
            df = self.read(spark, with_part_col=True, with_meta=True)
            live = ~F.coalesce(F.col(DELETED_COL), F.lit(False))
            matched = F.coalesce(condition, F.lit(False))
            out = df.select(
                *[F.col(f.name) for f in self.schema.fields],
                F.when(live & matched, F.lit(lsn)).otherwise(F.col(LSN_COL)).alias(LSN_COL),
                F.when(live & matched, F.lit(True))
                .otherwise(F.coalesce(F.col(DELETED_COL), F.lit(False)))
                .alias(DELETED_COL),
                PART_COL,
            )
            try:
                return self.overwrite_partitions(out, epoch=epoch, read_version=read_version)
            except CommitConflictError:
                self.refresh()
        raise ConcurrentCommitError(f"delete_where lost 5 conflict races on {self.root}")

    def truncate(
        self, epoch: int | None = None, max_retries: int = 5,
        epoch_source: str | None = None,
    ) -> CommitResult:
        """S6 truncate: drop every partition in one pure-metadata commit —
        no data is read or written (the idempotent full-reload fence,
        ``loader.py:157-205``; old snapshots stay time-travelable until
        expire_snapshots)."""
        for _ in range(max_retries):
            self.refresh()
            if epoch is not None and self.epoch_committed(epoch, epoch_source):
                return CommitResult(self.version, self.meta["snapshot_id"], epoch, skipped=True)
            meta = json.loads(json.dumps(self.meta))
            global_latest, global_heads, global_forks = self._global_refs(self.root)
            meta["version"] = global_latest + 1
            meta["parent_version"] = self.version
            meta["snapshot_id"] = f"s{meta['version']:08d}-truncate"
            meta["branch"] = self.branch
            meta["branch_heads"] = {**global_heads, self.branch: meta["version"]}
            meta["branch_forks"] = global_forks
            meta["partitions"] = {}
            meta["deltas"] = {}
            if epoch is not None:
                if epoch_source is None:
                    meta["epoch_watermark"] = max(meta["epoch_watermark"], epoch)
                meta["committed_epochs"][self._epoch_key(epoch, epoch_source)] = {
                    "version": meta["version"], "snapshot_id": meta["snapshot_id"],
                    "partitions": [], "rows_written": 0,
                }
            meta["committed_at"] = time.time()
            try:
                self._write_metadata(meta)
            except FileExistsError:
                continue
            self.meta = meta
            return CommitResult(meta["version"], meta["snapshot_id"], epoch)
        raise ConcurrentCommitError(f"lost {max_retries} truncate races on {self.root}")

    def validate_schema(self, expected: T.StructType) -> list[str]:
        """S13 schema probe (reference: field/type/mode diff against the live
        table, ``staging_schema.py:56-73``).  Returns human-readable
        mismatches; empty list = schemas agree."""
        cur = {f.name: f for f in self.schema.fields}
        exp = {f.name: f for f in expected.fields}
        problems = []
        for name, f in exp.items():
            if name not in cur:
                problems.append(f"missing column {name!r}")
            elif cur[name].dataType != f.dataType:
                problems.append(
                    f"column {name!r}: {cur[name].dataType.simpleString()} != "
                    f"{f.dataType.simpleString()}"
                )
        for name in cur:
            if name not in exp:
                problems.append(f"unexpected column {name!r}")
        return problems

    def buckets_needing_compaction(
        self, max_delta_ratio: float = 0.3, min_delta_files: int = 2
    ) -> list[int]:
        """Compaction POLICY: buckets whose pending merge-on-read deltas make
        reads too expensive — metadata-only, no scan.

        A bucket qualifies when it has at least ``min_delta_files`` pending
        delta files AND its delta rows exceed ``max_delta_ratio`` × base rows
        (a bucket with no base yet qualifies on the file-count gate alone).
        Read-time LWW resolution shuffles base+delta rows of dirty buckets,
        so the ratio bounds read amplification per bucket; the file-count
        floor keeps a single fresh delta from triggering an immediate fold
        (which would collapse MOR back into COW).  Returned buckets feed
        :meth:`compact_partitions` — maintenance cost stays proportional to
        the offending buckets only."""
        out = []
        for k, ds in self.meta.get("deltas", {}).items():
            if not ds or len(ds) < min_delta_files:
                continue
            delta_rows = sum(d["rows"] for d in ds)
            base = self.meta["partitions"].get(k)
            base_rows = base["rows"] if base else 0
            if base_rows == 0 or delta_rows > max_delta_ratio * base_rows:
                out.append(int(k))
        return sorted(out)

    # -- z-order clustering (compaction-time, Delta OPTIMIZE ZORDER analog) --

    _ZORDER_BITS = 8  # 256 quantile bins per dimension

    @staticmethod
    def _zorder_expr(cols: list[str], cuts: dict[str, list[float]]):
        """Interleaved-bit z-value over per-column quantile-bin ids: rows
        close in EVERY dimension get close z-values, so sorting by z gives
        each written file a tight min/max range on ALL the columns at once
        — range predicates on any one of them prune files
        (``write.stats-columns``) and row groups (parquet footers), where a
        1-D ``write.sort-order`` only serves its leading column.  Bin id =
        #cuts below the value (codegen'd fold over a 255-literal array;
        NULLs land in bin 0 and sort first)."""
        bits = IcehouseTable._ZORDER_BITS
        k = len(cols)
        z = F.lit(0).cast("long")
        for j, c in enumerate(cols):
            arr = F.array(*[F.lit(float(x)) for x in cuts[c]])
            v = F.col(c).cast("double")
            b = F.aggregate(
                arr,
                F.lit(0),
                lambda acc, x: acc + F.when(v >= x, 1).otherwise(0),
            )
            # driver-precomputed Morton spread table: bin -> its bits spread
            # to every k-th position with this column's offset.  ONE fold +
            # ONE array lookup per column per row; interleaving bit-by-bit
            # in the expression tree would duplicate the 255-literal fold
            # `bits` times (measured ~8x slower sort on wide rewrites)
            spread = [
                sum(((vv >> i) & 1) << (i * k + (k - 1 - j)) for i in range(bits))
                for vv in range(1 << bits)
            ]
            z = z + F.element_at(
                F.array(*[F.lit(s) for s in spread]), b + 1
            ).cast("long")
        return z

    def _zorder_cuts(
        self, df: DataFrame, cols: list[str]
    ) -> dict[str, list[float]]:
        """Per-column quantile cut points (255 cuts → 256 equi-depth bins)
        from ONE approxQuantile pass over the frame being rewritten.  The
        pass costs a scan of exactly the files compaction is about to
        rewrite anyway — which is why z-ordering lives on the compaction
        path, never the per-epoch commit hot path (where an extra full
        evaluation of the merge plan would double the write cost)."""
        numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}
        if not cols or len(set(cols)) != len(cols):
            raise ValueError(f"zorder columns must be non-empty and distinct: {cols}")
        if len(cols) * self._ZORDER_BITS > 63:
            raise ValueError(
                f"zorder supports at most {63 // self._ZORDER_BITS} columns "
                f"({self._ZORDER_BITS} bits each in a signed 64-bit z-value); "
                f"got {len(cols)} — and past ~4 dimensions the interleave "
                "stops clustering anything usefully anyway"
            )
        dtypes = dict(df.dtypes)
        bad = [c for c in cols if dtypes.get(c, "").split("(")[0] not in numeric]
        if bad:
            raise ValueError(
                f"zorder columns must be numeric (got {bad}); derive a "
                "numeric column first (e.g. datediff for dates)"
            )
        probs = [i / 256 for i in range(1, 256)]
        qdf = df.select(*[F.col(c).cast("double").alias(c) for c in cols])
        cuts = qdf.approxQuantile(cols, probs, 0.001)
        return dict(zip(cols, cuts))

    def compact_partitions(
        self,
        spark: SparkSession,
        partitions: "list[int] | Literal['deltas'] | None" = None,
        zorder: list[str] | None = None,
    ) -> CommitResult:
        """Small-file compaction: rewrite partitions into one sorted file per
        bucket (× ``write.fanout``), folding any merge-on-read deltas into
        the base (Iceberg
        rewrite_data_files analog).  Read+write of live+tombstone rows, no
        semantic change — lineage shows the commit.

        ``partitions=None`` compacts the whole table; pass ``"deltas"`` to
        compact ONLY the delta-bearing buckets — the maintenance-schedule
        shape: cost proportional to pending-delta data, clean buckets
        untouched (ReplayRunner's ``compact_every`` uses this).

        ``zorder=[colA, colB, ...]``: cluster the rewritten files on an
        interleaved-bit z-value instead of ``write.sort-order`` — see
        :meth:`_zorder_expr`.  Pair with ``write.stats-columns`` on the
        same columns for planning-time multi-dimension file skipping.
        """
        for _ in range(5):
            read_version = self.version
            if partitions == "deltas":
                read_parts = sorted(
                    int(k) for k, ds in self.meta.get("deltas", {}).items() if ds
                )
            elif partitions is not None:
                read_parts = sorted(int(p) for p in partitions)
            else:
                read_parts = sorted(
                    {int(k) for k in self.meta["partitions"]}
                    | {int(k) for k, ds in self.meta.get("deltas", {}).items() if ds}
                )
            if not read_parts:
                return CommitResult(
                    self.version, self.meta["snapshot_id"], None, skipped=True
                )
            df = self.read(
                spark, partitions=read_parts, with_part_col=True, with_meta=True
            )
            sort_override = None
            if zorder:
                cuts = self._zorder_cuts(df, zorder)
                sort_override = [self._zorder_expr(zorder, cuts)]
            try:
                return self.overwrite_partitions(
                    df,
                    affected_partitions=read_parts,
                    read_version=read_version,
                    sort_override=sort_override,
                )
            except CommitConflictError:
                self.refresh()
        raise ConcurrentCommitError(f"compact lost 5 conflict races on {self.root}")

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> CommitResult:
        """Partition-spec evolution: rewrite the table under a new bucket
        count in ONE atomic commit (Iceberg analog: update the partition
        spec + rewrite_data_files).

        A table sized for 10^8 rows will skew its way to hot 100-GB buckets
        at 10^10 — rebucketing is how the layout keeps up without any change
        to the logical state.  The whole current snapshot (live rows AND
        tombstones, carrying their ``_lsn``) is re-hashed with the new
        modulus and rewritten; the commit atomically updates ``n_buckets`` /
        ``partition_spec``, so every later merge buckets with the new hash.
        Old bucket ids not re-populated are passed as the explicit
        affected-set and dropped.  Serializable: a concurrent writer that
        commits mid-rewrite triggers CommitConflictError and the rebuild
        retries against the fresh snapshot — no lost updates, and the loser
        re-buckets the winner's rows too.

        Shuffle budget: one full-table shuffle (the write-side repartition on
        the new bucket column) — the unavoidable minimum for a re-hash.
        """
        if new_n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        if new_n_buckets == self.n_buckets:
            return CommitResult(self.version, self.meta["snapshot_id"], None, skipped=True)
        for _ in range(5):
            read_version = self.version
            read_parts = sorted(
                {int(k) for k in self.meta["partitions"]}
                | {int(k) for k, ds in self.meta.get("deltas", {}).items() if ds}
            )
            df = self.read(spark, with_part_col=False, with_meta=True)
            out = df.withColumn(PART_COL, self.bucket_expr(n_buckets=new_n_buckets))
            try:
                return self.overwrite_partitions(
                    out,
                    affected_partitions=read_parts,
                    read_version=read_version,
                    meta_updates={
                        "n_buckets": new_n_buckets,
                        "partition_spec": f"bucket({self.key_col}, {new_n_buckets}) -> {PART_COL}",
                    },
                    # rebucket rewrites the ADDRESSING: conflict with any
                    # concurrent commit, even to partitions outside our read
                    # set (those rows would stay bucketed under the old
                    # modulus and become unreachable to future merges)
                    conflict_scope="table",
                )
            except CommitConflictError:
                self.refresh()
        raise ConcurrentCommitError(f"rebucket lost 5 conflict races on {self.root}")

    def migrate_key_type(
        self,
        spark: SparkSession,
        new_root: str,
        new_key_type: T.DataType,
        n_buckets: int | None = None,
    ) -> "IcehouseTable":
        """The sanctioned escape hatch for a key-type change: one-pass
        migration into a NEW table keyed under ``new_key_type``.

        In-place key widening is rejected everywhere (see
        :meth:`ensure_key_type_unchanged` — the bucket hash covers the key's
        physical type, so existing rows would become unreachable).  This
        reads the CURRENT snapshot with its CDC meta columns (live rows AND
        tombstones, carrying their ``_lsn``), casts the key, and writes one
        commit into a fresh table bucketed under the new type's hash.  The
        exactly-once registry and epoch watermark carry over atomically with
        the data, so an in-flight replay resumes against the new root
        without re-applying committed epochs, and order-insensitive LWW
        semantics survive (tombstones + LSNs travel).  Table properties
        carry over; tags/lineage do NOT (they pin snapshots of the OLD root,
        which stays intact for time travel until retired).

        Cost: one full-table shuffle — the same unavoidable minimum as
        :meth:`rebucket`, since every row re-addresses.
        """
        old_t = self.schema[self.key_col].dataType
        if old_t != new_key_type and not _WIDENINGS.get(
            (old_t.typeName(), new_key_type.typeName())
        ):
            raise SchemaEvolutionError(
                f"key migration must widen: {old_t.simpleString()} -> "
                f"{new_key_type.simpleString()} is not a recorded widening"
            )
        new_schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    new_key_type if f.name == self.key_col else f.dataType,
                    f.nullable,
                )
                for f in self.schema.fields
            ]
        )
        dst = IcehouseTable.create(
            new_root,
            new_schema,
            key_col=self.key_col,
            n_buckets=n_buckets or self.n_buckets,
            properties=dict(self.meta.get("properties", {})),
        )
        # like rebucket, a full-table re-address conflicts with ANY
        # concurrent source commit: a write landing mid-copy would be
        # silently absent from the new root (deleted rows resurrecting,
        # rows lost).  Validate the source version after the copy and
        # re-copy against the fresh snapshot if it advanced.
        for _ in range(5):
            self.refresh()
            src_version = self.version
            df = self.read(spark, with_meta=True, with_part_col=False).withColumn(
                self.key_col, F.col(self.key_col).cast(new_key_type)
            )
            out = df.withColumn(PART_COL, dst.bucket_expr())
            dst.overwrite_partitions(
                out,
                # force-drop dst buckets a previous attempt populated but
                # this (fresh-snapshot) copy did not
                affected_partitions=list(range(dst.n_buckets)),
                meta_updates={
                    "committed_epochs": json.loads(
                        json.dumps(self.meta["committed_epochs"])
                    ),
                    "committed_epoch_ranges": json.loads(
                        json.dumps(self.meta.get("committed_epoch_ranges", {}))
                    ),
                    "epoch_watermark": self.meta["epoch_watermark"],
                },
            )
            self.refresh()
            if self.version == src_version:
                return dst
        raise ConcurrentCommitError(
            f"migrate_key_type lost 5 source-commit races on {self.root}; "
            "quiesce ingest or retry during a maintenance window"
        )

    # -- rename / drop without rewrite ------------------------------------
    #
    # The Iceberg no-rewrite schema-change pair beyond additive evolution.
    # Instead of parquet field ids, the metadata keeps an ordered
    # ``column_renames`` event log [{version, old, new}], and every data
    # path embeds its commit version (``data/s{N:08d}-…``): a reader
    # resolves a CURRENT column to its PHYSICAL name in a given file by
    # walking the events newest→oldest and undoing each rename that
    # happened after the file was written.  Chains (a→b→c) and renaming a
    # retired name back both resolve correctly because the walk is
    # name-chained; the ONE ambiguous shape — re-ADDING a retired name as
    # a brand-new column via additive evolution — is rejected at commit
    # (:meth:`_check_retired_names`), since the old files' bytes under
    # that name belong to a different column.  Dropped columns keep their
    # bytes in old files (time travel still sees them); current reads
    # simply stop projecting them.

    @staticmethod
    def _data_path_version(path: str) -> int:
        """Commit version a data path was written at (parsed from its
        snapshot dir name); -1 = unrecognizable → treated as oldest, so
        every rename applies (always safe, possibly suboptimal)."""
        m = re.search(r"data/s(\d{8})-", path)
        return int(m.group(1)) if m else -1

    def _physical_name(self, col: str, v_file: int) -> str:
        """Physical column name of CURRENT logical ``col`` in a file
        written at version ``v_file``."""
        for e in reversed(self.meta.get("column_renames", [])):
            if v_file <= e["version"] and col == e["new"]:
                col = e["old"]
        return col

    def _scan_paths(self, spark: SparkSession, paths: list[str], read_schema: T.StructType) -> DataFrame:
        """Scan data paths into ``read_schema`` (current logical names),
        aliasing renamed columns per file era.  With no renames on record
        this is exactly the single pinned-schema scan; with renames, paths
        group by their name-mapping signature (a handful of eras, however
        many files) and the groups union."""
        renames = self.meta.get("column_renames", [])
        if not renames:
            return spark.read.schema(read_schema).parquet(*paths)
        groups: dict[tuple, list[str]] = {}
        for p in paths:
            v = self._data_path_version(p)
            sig = tuple(self._physical_name(f.name, v) for f in read_schema.fields)
            groups.setdefault(sig, []).append(p)
        parts = []
        for sig, grp in sorted(groups.items()):
            phys = T.StructType(
                [
                    T.StructField(pn, f.dataType, f.nullable)
                    for pn, f in zip(sig, read_schema.fields)
                ]
            )
            parts.append(
                spark.read.schema(phys)
                .parquet(*grp)
                .select(
                    *[
                        F.col(pn).alias(f.name)
                        for pn, f in zip(sig, read_schema.fields)
                    ]
                )
            )
        out = parts[0]
        for d in parts[1:]:
            out = out.unionByName(d)
        return out

    def _check_retired_names(self, final_schema: T.StructType) -> None:
        """Reject additive evolution that re-ADDS a name some older files
        still use for a different (renamed or dropped) column — reading it
        from those files would resurrect the other column's bytes."""
        retired = {e["old"] for e in self.meta.get("column_renames", [])}
        retired |= set(self.meta.get("dropped_columns", []))
        if not retired:
            return
        current = set(self.schema.fieldNames())
        clash = [
            n for n in final_schema.fieldNames() if n in retired and n not in current
        ]
        if clash:
            raise SchemaEvolutionError(
                f"columns {clash} were previously renamed away or dropped; "
                "older data files still carry bytes under these names, so "
                "re-adding them would silently resurrect unrelated data — "
                "pick fresh names"
            )

    #: table properties holding comma-separated COLUMN LISTS — schema DDL
    #: must rewrite them in the same commit, or the next write would fail
    #: (sort-order validation) or silently stop recording stats
    _COLUMN_LIST_PROPS = (
        "write.sort-order",
        "write.stats-columns",
        "write.bloom.columns",
    )

    @classmethod
    def _remap_column_props(
        cls, meta: dict[str, Any], old: str, new: str | None
    ) -> None:
        """Rewrite ``old`` to ``new`` (or remove it, ``new=None``) in every
        column-list table property, atomically with the schema change."""
        props = meta.get("properties") or {}
        for prop in cls._COLUMN_LIST_PROPS:
            if prop not in props:
                continue
            cols = [c.strip() for c in str(props[prop]).split(",") if c.strip()]
            out = [new if c == old else c for c in cols if not (c == old and new is None)]
            if out:
                props[prop] = ",".join(out)
            else:
                props.pop(prop)

    def check_no_stale_renamed_columns(self, batch_columns) -> None:
        """Refuse a change batch still written under a RENAMED-AWAY column
        name: the values would be silently conformed away (the successor
        column gets NULL) — data loss, not drift.  A DROPPED column in a
        batch stays silently ignored (the documented stale-producer
        contract: the engine stopped caring about those values)."""
        renamed_away = {
            e["old"] for e in self.meta.get("column_renames", [])
        } - set(self.schema.fieldNames())
        stale = sorted(set(batch_columns) & renamed_away)
        if stale:
            live = {
                e["old"]: e["new"] for e in self.meta.get("column_renames", [])
            }
            raise SchemaEvolutionError(
                f"batch uses renamed-away columns {stale} — their values "
                "would be silently lost (the current schema reads them as "
                f"NULL); update the producer to the new names "
                f"({ {o: live[o] for o in stale} })"
            )

    def rename_column(self, old: str, new: str, max_retries: int = 5) -> CommitResult:
        """Rename a logical column in one pure-metadata commit — zero data
        movement at any table size.  Existing files keep their bytes under
        the old name; reads alias per file era (see the section comment).
        Renaming the key column updates the key binding too (bucket
        addressing hashes key VALUES, so placement is unaffected), and any
        column-list table property (sort-order, stats-columns, bloom)
        naming the column is rewritten in the same commit.
        Writers must use the new name from the next batch on — an old-name
        batch would be rejected by :meth:`_check_retired_names`."""
        reserved = {LSN_COL, DELETED_COL, PART_COL, "_pw"}

        def mutate(meta: dict[str, Any]):
            schema = T.StructType.fromJson(meta["schema"])
            names = schema.fieldNames()
            if old not in names:
                raise SchemaEvolutionError(f"no such column {old!r}")
            if new in names:
                raise SchemaEvolutionError(f"column {new!r} already exists")
            if new in reserved or not new.isidentifier():
                raise SchemaEvolutionError(f"invalid target column name {new!r}")
            meta["schema"] = T.StructType(
                [
                    T.StructField(
                        new if f.name == old else f.name, f.dataType, f.nullable
                    )
                    for f in schema.fields
                ]
            ).jsonValue()
            # event version = the CAS basis: every existing data file was
            # committed at <= this version (a racing data commit would win
            # the version race and force our retry), every later file at >
            meta.setdefault("column_renames", []).append(
                {"version": meta["version"], "old": old, "new": new}
            )
            if meta.get("key_col") == old:
                meta["key_col"] = new
                meta["partition_spec"] = (
                    f"bucket({new}, {meta['n_buckets']}) -> {PART_COL}"
                )
            self._remap_column_props(meta, old, new)
            meta.setdefault("schema_log", []).append(
                {"version": meta["version"], "schema": meta["schema"], "rename": [old, new]}
            )

        return self._pure_metadata_commit(
            mutate, "rename", max_retries=max_retries, touched=set()
        )

    def drop_column(self, name: str, max_retries: int = 5) -> CommitResult:
        """Drop a logical column in one pure-metadata commit — no rewrite.
        Old files keep the bytes (time travel to any pre-drop snapshot
        still reads them); current reads stop projecting the column, and
        the name is retired against re-adding."""

        def mutate(meta: dict[str, Any]):
            schema = T.StructType.fromJson(meta["schema"])
            if name not in schema.fieldNames():
                raise SchemaEvolutionError(f"no such column {name!r}")
            if name == meta.get("key_col"):
                raise SchemaEvolutionError(
                    f"cannot drop the key column {name!r}: every merge and "
                    "bucket address depends on it"
                )
            meta["schema"] = T.StructType(
                [f for f in schema.fields if f.name != name]
            ).jsonValue()
            meta.setdefault("dropped_columns", []).append(name)
            self._remap_column_props(meta, name, None)
            meta.setdefault("schema_log", []).append(
                {"version": meta["version"], "schema": meta["schema"], "drop": name}
            )

        return self._pure_metadata_commit(
            mutate, "dropcol", max_retries=max_retries, touched=set()
        )

    def vacuum_tombstones(self, spark: SparkSession, lsn_watermark: int) -> CommitResult:
        """Reclaim tombstones with ``_lsn <= lsn_watermark`` (safe once every
        change source is past that LSN — an older event for a vacuumed key can
        no longer arrive).  The full set of partitions read is passed as the
        explicit affected-set, so a partition left 100%-tombstone is dropped
        from metadata (files reclaimed at expire_snapshots) instead of
        lingering with a stale pre-vacuum row count."""
        for _ in range(5):
            read_version = self.version
            read_parts = sorted(
                {int(k) for k in self.meta["partitions"]}
                | {int(k) for k, ds in self.meta.get("deltas", {}).items() if ds}
            )
            df = self.read(spark, with_part_col=True, with_meta=True)
            keep = df.where(
                ~(
                    F.coalesce(F.col(DELETED_COL), F.lit(False))
                    & (F.coalesce(F.col(LSN_COL), F.lit(-1)) <= lsn_watermark)
                )
            )
            try:
                return self.overwrite_partitions(
                    keep, affected_partitions=read_parts, read_version=read_version
                )
            except CommitConflictError:
                self.refresh()
        raise ConcurrentCommitError(f"vacuum lost 5 conflict races on {self.root}")

    def update_properties(
        self, updates: dict[str, Any], max_retries: int = 5
    ) -> CommitResult:
        """Pure-metadata commit updating table properties (Iceberg
        ``updateProperties`` analog); a value of ``None`` deletes the key.
        Write-path properties take effect on the NEXT write:

        - ``write.fanout`` (int ≥ 1, default 1): split each bucket rewrite
          across this many deterministic key-hash sub-partitions — write
          parallelism and per-task sort memory decouple from ``n_buckets``
          (see :attr:`write_fanout`).  Retune it as buckets grow, without
          the full-table shuffle a :meth:`rebucket` costs.
        - ``write.max-file-rows`` (int): cap rows per output file within a
          task (``maxRecordsPerFile``) — bounds file sizes without changing
          the shuffle.

        Known write-path keys are validated HERE: a malformed value would
        otherwise commit cleanly and then fail every subsequent write with
        an opaque int() error.
        """
        for k, v in updates.items():
            if v is None:
                continue
            if k in ("write.fanout", "write.max-file-rows"):
                try:
                    ok = int(v) >= 1
                except (TypeError, ValueError):
                    ok = False
                if not ok:
                    raise ValueError(
                        f"table property {k!r} must be an integer >= 1, got {v!r}"
                    )

        def mutate(meta: dict[str, Any]) -> None:
            props = meta.setdefault("properties", {})
            for k, v in updates.items():
                if v is None:
                    props.pop(k, None)
                else:
                    props[k] = v

        return self._pure_metadata_commit(mutate, "props", max_retries, touched=set())

    #: every field that together defines a snapshot's logical STATE (vs the
    #: refs/audit fields the commit loop manages).  Rollback and fast-forward
    #: both adopt exactly this set; defaults cover snapshots that predate a
    #: field's introduction (e.g. "deltas" appears at the first MOR append —
    #: crossing that boundary must DROP pending deltas, not keep them).
    _STATE_FIELDS: tuple = (
        ("partitions", {}), ("deltas", {}), ("schema", None),
        ("epoch_watermark", -1), ("committed_epochs", {}),
        ("committed_epoch_ranges", {}),
        ("n_buckets", None), ("partition_spec", None),
    )

    @classmethod
    def _adopt_state_fields(cls, meta: dict[str, Any], source: dict[str, Any]) -> None:
        for field_name, default in cls._STATE_FIELDS:
            if field_name in source:
                meta[field_name] = json.loads(json.dumps(source[field_name]))
            elif default is not None:
                meta[field_name] = json.loads(json.dumps(default))

    # -- branches -------------------------------------------------------------

    def list_branches(self) -> dict[str, int]:
        """Current ref map: branch name -> head version (always includes
        ``main``).  Read from the authoritative newest doc, not this
        handle's possibly-stale snapshot."""
        _, heads, _ = self._global_refs(self.root)
        return heads

    def create_branch(
        self, name: str, version: int | None = None, max_retries: int = 5
    ) -> CommitResult:
        """Create branch ``name`` pointing at ``version`` (default: this
        handle's current branch head) — Iceberg ``createBranch``.  Pure
        metadata: the branch initially SHARES every data file and manifest
        ref with the fork point; commits made through a
        ``load(root, branch=name)`` handle diverge from there without ever
        being visible to readers of this branch (isolated lineage, same
        table-wide version namespace and CAS).  The fork point is recorded
        so :meth:`fast_forward` can validate publishes in O(1), independent
        of snapshot expiry.

        Scale shape: create/delete/fast-forward are O(refs) metadata-only
        commits; branch commits cost exactly what main commits cost (same
        write paths, same manifest-ref reuse)."""
        if not name or name == "main":
            raise ValueError("branch name must be non-empty and not 'main'")

        def mutate(meta: dict[str, Any]):
            _, heads, _ = self._global_refs(self.root)
            if name in heads:
                raise ValueError(f"branch {name!r} already exists on {self.root}")
            if version is None:
                # default fork: the branch points at the create commit
                # itself (state-identical to the current head, and the
                # version the fast-forward check must anchor on — the
                # create commit advances this branch's head)
                pin = at = None
            else:
                pin = at = int(version)
                if not os.path.exists(
                    os.path.join(self.root, "metadata", f"v{pin:08d}.metadata.json")
                ):
                    raise ValueError(f"cannot fork branch at missing version {pin}")
            meta["_branch_ref_edits"] = {
                name: {
                    "version": pin,
                    "from_branch": self.branch,
                    "at_version": at,
                }
            }

        return self._pure_metadata_commit(
            mutate, f"branch-{name}", max_retries, touched=set()
        )

    def delete_branch(self, name: str, max_retries: int = 5) -> CommitResult:
        """Drop branch ``name``'s ref (Iceberg ``removeBranch``).  The
        branch's snapshots stay time-travelable by version until
        ``expire_snapshots`` reclaims them (they lose their head exemption
        with the ref)."""
        if name == "main":
            raise ValueError("cannot delete the main branch")
        if name == self.branch:
            raise ValueError("cannot delete the branch this handle is on")

        def mutate(meta: dict[str, Any]):
            _, heads, _ = self._global_refs(self.root)
            if name not in heads:
                return False
            meta["_branch_ref_edits"] = {name: None}

        return self._pure_metadata_commit(
            mutate, f"branchdel-{name}", max_retries, touched=set()
        )

    def fast_forward(self, branch: str, max_retries: int = 5) -> CommitResult:
        """Publish branch ``branch``'s head onto THIS handle's branch
        (Iceberg ``fast_forward("main", "audit")`` — the write-audit-publish
        branch pattern): adopts the branch head's entire logical state
        (partitions, deltas, schema, exactly-once registry, addressing) as
        one pure-metadata commit, keeping this branch's tags.

        Allowed only when this branch has NOT advanced since the fork point
        (``branch_forks``-recorded; O(1) check, robust to snapshot expiry) —
        otherwise the publish would silently discard commits, and the caller
        must instead re-create the branch from the current head and re-stage
        (the same contract as Iceberg's fast-forward).  On success the fork
        point advances to the published version, so a long-lived staging
        branch can keep committing and fast-forwarding repeatedly."""

        def mutate(meta: dict[str, Any]):
            _, heads, forks = self._global_refs(self.root)
            if branch not in heads:
                raise KeyError(f"no branch {branch!r} on table {self.root}")
            fork = forks.get(branch)
            if fork is None or fork.get("from_branch") != self.branch:
                raise ValueError(
                    f"branch {branch!r} was not forked from {self.branch!r}"
                )
            if self.version != fork["at_version"]:
                raise CommitConflictError(
                    f"{self.branch!r} advanced from v{fork['at_version']} to "
                    f"v{self.version} since {branch!r} forked — not a "
                    "fast-forward; re-create the branch from the current head"
                )
            if heads[branch] <= fork["at_version"]:
                # no branch commits since the fork (or since the last
                # publish re-forked it) — nothing to publish
                return False
            head_doc = IcehouseTable.load(self.root, version=heads[branch]).meta
            self._adopt_state_fields(meta, head_doc)
            if "properties" in head_doc:
                meta["properties"] = json.loads(json.dumps(head_doc["properties"]))
            # re-fork the branch at the version this publish is about to
            # create, so the staging loop (commit -> audit -> fast-forward)
            # can continue on the same branch
            meta["_branch_ref_edits"] = {
                branch: {
                    "version": heads[branch],
                    "from_branch": self.branch,
                    "at_version": None,  # resolved to the publish commit
                }
            }

        res = self._pure_metadata_commit(
            mutate, f"ff-{branch}", max_retries, touched=None
        )
        return res

    def create_tag(self, name: str, version: int | None = None, max_retries: int = 5) -> CommitResult:
        """Pin a snapshot under a named tag (Iceberg tag analog): a new
        pure-metadata commit recording ``tags[name] = version`` (default:
        current).  Tagged snapshots are exempt from ``expire_snapshots`` —
        their data files and metadata stay until the tag is deleted.
        Typical use: ``create_tag("training-run-17")`` before kicking off a
        training job, so the exact dataset state stays reproducible while
        ingest keeps committing."""

        def mutate(meta: dict[str, Any]) -> None:
            pin = self.version if version is None else version
            if not os.path.exists(
                os.path.join(self.root, "metadata", f"v{pin:08d}.metadata.json")
            ):
                raise FileNotFoundError(f"no metadata version {pin} to tag")
            meta.setdefault("tags", {})[name] = pin

        return self._pure_metadata_commit(mutate, "tag", max_retries, touched=set())

    def delete_tag(self, name: str, max_retries: int = 5) -> CommitResult:
        """Drop a tag (the pinned snapshot becomes expirable again)."""

        def mutate(meta: dict[str, Any]):
            if name not in meta.get("tags", {}):
                return False
            del meta["tags"][name]

        return self._pure_metadata_commit(mutate, "untag", max_retries, touched=set())

    def rollback(self, to_version: int | str, max_retries: int = 5) -> CommitResult:
        """Roll the table back to snapshot ``to_version`` as a NEW commit
        (Iceberg ``rollback_to_snapshot``): the old version's partition map,
        delta map, and schema are restored by reference — pure metadata, no
        data movement, and the rolled-back-over versions stay time-travelable
        until ``expire_snapshots``.

        The exactly-once registry is restored to the target version's view as
        well — epochs committed AFTER ``to_version`` become uncommitted again,
        so a replay naturally re-applies them (the recover-from-bad-batch
        workflow: roll back, fix the source, re-run the replayer).

        ``to_version`` may be a tag name (rolls back to the tagged snapshot).
        """
        if isinstance(to_version, str):
            self.refresh()
            if to_version not in self.meta.get("tags", {}):
                raise KeyError(f"no tag {to_version!r} on table {self.root}")
            to_version = self.meta["tags"][to_version]
        target = IcehouseTable.load(self.root, version=to_version)

        def mutate(meta: dict[str, Any]):
            if self.version == to_version:
                return False
            # Restore every state-bearing field, supplying the lazy-init
            # default when the target snapshot predates the field ("deltas"
            # only appears after the first MOR append: rolling back across a
            # COW->MOR boundary must DROP the pending deltas, not keep them).
            self._adopt_state_fields(meta, target.meta)
            meta.setdefault("rollback_log", []).append(
                {"version": self.version + 1, "restored_version": to_version}
            )

        return self._pure_metadata_commit(
            mutate, f"rollback{to_version}", max_retries, touched=None
        )

    def history(self, spark: SparkSession) -> DataFrame:
        """Commit history across all retained metadata versions (Delta
        ``DESCRIBE HISTORY`` analog): one row per version with snapshot id,
        physical row count, bucket count, schema width, and committed-at
        timestamp — driver-side metadata only, no data scan."""
        rows = []
        mdir = os.path.join(self.root, "metadata")
        for name in sorted(os.listdir(mdir)):
            if not name.endswith(".metadata.json"):
                continue
            m = IcehouseTable.load(self.root, version=int(name[1:9])).meta
            rows.append(
                (
                    m["version"],
                    m["snapshot_id"],
                    m.get("branch", "main"),
                    m.get("parent_version"),
                    sum(p["rows"] for p in m["partitions"].values())
                    + sum(d["rows"] for ds in m.get("deltas", {}).values() for d in ds),
                    len(m["partitions"]),
                    sum(1 for ds in m.get("deltas", {}).values() if ds),
                    m["n_buckets"],
                    len(m["schema"]["fields"]),
                    len(m["committed_epochs"])
                    + sum(
                        hi - lo + 1
                        for rs in m.get("committed_epoch_ranges", {}).values()
                        for lo, hi in rs
                    ),
                    m.get("committed_at"),
                )
            )
        schema = T.StructType(
            [
                T.StructField("version", T.IntegerType()),
                T.StructField("snapshot_id", T.StringType()),
                T.StructField("branch", T.StringType()),
                T.StructField("parent_version", T.IntegerType()),
                T.StructField("physical_rows", T.LongType()),
                T.StructField("populated_partitions", T.IntegerType()),
                T.StructField("delta_buckets", T.IntegerType()),
                T.StructField("n_buckets", T.IntegerType()),
                T.StructField("schema_width", T.IntegerType()),
                T.StructField("committed_epochs", T.IntegerType()),
                T.StructField("committed_at", T.DoubleType()),
            ]
        )
        return spark.createDataFrame(rows, schema)

    def files(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """One row per LIVE data file of a snapshot (Iceberg ``.files``
        metadata-table analog): partition, base/delta kind, the partition's
        footer LSN stats, and on-disk size.  The diagnostic surface for
        layout tuning — verifying ``write.fanout`` produced f files per
        bucket, sizing ``compact_ratio`` from real delta-file counts, or
        auditing what :meth:`expire_snapshots`/:meth:`remove_orphan_files`
        may reclaim.  Driver-side metadata + directory listing of live dirs
        only (O(live files), bounded by buckets × fanout × delta depth —
        never a scan of the data)."""
        meta = self.meta if version is None else IcehouseTable.load(self.root, version=version).meta

        def list_dir(rel: str):
            full = os.path.join(self.root, rel)
            if not os.path.isdir(full):
                return
            for entry in sorted(os.scandir(full), key=lambda e: e.name):
                if entry.is_file() and entry.name.endswith(".parquet"):
                    yield os.path.join(rel, entry.name), entry.stat().st_size

        rows = []
        entries: list[tuple[int, str, dict]] = [
            (int(p), "base", ref) for p, ref in meta["partitions"].items()
        ] + [
            (int(p), "delta", d)
            for p, ds in meta.get("deltas", {}).items()
            for d in ds
        ]
        for part, kind, ref in entries:
            for rel, size in list_dir(ref["path"]):
                rows.append(
                    (part, kind, rel, size, ref["rows"],
                     ref.get("lsn_min"), ref.get("lsn_max"))
                )
        schema = T.StructType(
            [
                T.StructField("partition", T.IntegerType()),
                T.StructField("kind", T.StringType()),
                T.StructField("path", T.StringType()),
                T.StructField("bytes", T.LongType()),
                T.StructField("entry_rows", T.LongType()),
                T.StructField("lsn_min", T.LongType()),
                T.StructField("lsn_max", T.LongType()),
            ]
        )
        return spark.createDataFrame(rows, schema)

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        """Per-partition lineage as a DataFrame (queryable audit log)."""
        schema = T.StructType(
            [
                T.StructField("snapshot_id", T.StringType()),
                T.StructField("version", T.IntegerType()),
                T.StructField("epoch", T.IntegerType()),
                T.StructField("partition", T.IntegerType()),
                T.StructField("rows_after", T.LongType()),
                T.StructField("lsn_min", T.LongType()),
                T.StructField("lsn_max", T.LongType()),
                T.StructField("rows_upserted", T.LongType()),
                T.StructField("rows_deleted", T.LongType()),
            ]
        )
        rows = [
            tuple(rec.get(f.name) for f in schema.fields) for rec in self.meta["lineage"]
        ]
        return spark.createDataFrame(rows, schema)
