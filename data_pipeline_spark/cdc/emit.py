"""Outbound CDC: publish the table's OWN change feed as Debezium envelopes.

``sources/debezium.py`` is the inbound half (wire envelopes → canonical
change events); this is the outbound half — any two committed snapshots
(or tags) become a stream of standard Debezium JSON envelopes that ANY
downstream CDC consumer can tail, including this engine itself
(``debezium_to_change_events`` parses its own emission bit-faithfully,
asserted by the mirror round-trip tests).  Together they close the loop
the reference leaves open: its consumers re-diff whole BigQuery extracts
client-side every run (``notification_service/bigquery_queries.py``,
``anomaly_detection/big_query/extraction.py``), while a lakehouse CDC
engine republishes row-level deltas downstream.

Design points:

- **True-LSN passthrough, no manufactured ordering.**  Every live row and
  every tombstone already carries the ``_lsn`` of the change event that
  produced it, so the emitted envelope's ``source.lsn`` is the ORIGINAL
  upstream LSN — lineage survives the hop, re-emission is deterministic
  (replay-stable), and a mirror table built from the feed resolves
  last-writer-wins on the true order.  No window function, no
  ``monotonically_increasing_id``, no driver-side numbering.
- **Debezium-faithful images**: ``c`` carries ``after`` only, ``u`` carries
  ``before`` AND ``after``, ``d`` carries ``before`` only (the convention
  ``snapshot_diff``'s single-image feed flattens; consumers that want the
  old value of an update need the two-image form).
- **Scale shape**: two bucket-pruned snapshot scans + one co-partitioned
  full-outer join on the immutable key-hash layout (same cost model as
  ``cdc/cdf.py``), then a pure ``to_json`` projection — whole-stage
  codegen, zero Python, output size O(changed rows).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..table.exprs import conform, quote, quote_all, str_lit
from ..table.icehouse import DELETED_COL, LSN_COL, IcehouseTable


def _resolve_ref(root: str, ref: "int | str") -> int:
    if isinstance(ref, str):
        tags = IcehouseTable.load(root).meta.get("tags", {})
        if ref not in tags:
            raise KeyError(f"no tag {ref!r} on table {root}")
        return int(tags[ref])
    return int(ref)


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
    two-image generalization of ``cdf.snapshot_diff`` (which keeps one
    image per row).  ``lsn`` is the TRUE LSN of the ``v_to`` row that won
    the key — for deletes, the retained tombstone's LSN; if a tombstone was
    compacted away between the versions the lsn is null and the emitter
    substitutes the snapshot watermark.

    Value columns are the union of both schemas, so additive evolution
    between the versions surfaces as ``before.<new_col> = null`` — exactly
    how the table itself reads pre-evolution files.
    """
    vf = _resolve_ref(root, v_from)
    try:
        old_t = IcehouseTable.load(root, version=vf)
    except FileNotFoundError:
        if vf != 0:
            raise
        # v0 is BY CONSTRUCTION the empty table; if snapshot retention has
        # expired its metadata, a bootstrap diff (0 -> head) still has a
        # well-defined answer — every live head row as an insert
        old_t = None
    new_t = IcehouseTable.load(root, version=_resolve_ref(root, v_to))
    key = new_t.key_col
    fields: dict[str, object] = {}
    old_fields = list(old_t.schema.fields) if old_t is not None else []
    for f in old_fields + list(new_t.schema.fields):
        if f.name != key and f.name not in fields:
            fields[f.name] = f.dataType
    value_cols = list(fields)

    def _image(t: IcehouseTable, alias: str, with_tombstones: bool):
        # live rows define presence in the FROM snapshot; the TO snapshot
        # keeps tombstones so a delete's true LSN rides along.  A value
        # column the snapshot lacks reads as a typed NULL.
        df = t.read(spark, with_meta=with_tombstones)
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
    j = old.join(new, "_k", "full_outer")
    after_live = "(_after_raw IS NOT NULL AND NOT coalesce(_dead, false))"
    op = (
        f"CASE WHEN _before IS NULL AND {after_live} THEN 'I'"
        f" WHEN _before IS NOT NULL AND {after_live}"
        " AND NOT (_before <=> _after_raw) THEN 'U'"
        f" WHEN _before IS NOT NULL AND NOT {after_live} THEN 'D' END"
    )
    return j.selectExpr(
        f"_k AS {quote(key)}",
        f"{op} AS `op`",
        "_before AS `before`",
        f"CASE WHEN {after_live} THEN _after_raw END AS `after`",
        "_vlsn AS `lsn`",
    ).where("`op` IS NOT NULL")


def emit_debezium_envelopes(
    spark: SparkSession,
    root: str,
    ref_from: "int | str",
    ref_to: "int | str",
    connector: str = "icehouse",
    table_name: str | None = None,
    lsn_fallback: int | None = None,
) -> DataFrame:
    """Emit the delta between two committed snapshots (or tags) as Debezium
    JSON envelopes — one string column ``value``, the exact shape
    ``sources.debezium.debezium_to_change_events`` (and any real Debezium
    consumer) takes.

    - ``op`` ∈ c/u/d with Debezium image conventions (see module docstring);
    - ``source.lsn`` = the true per-row LSN from the TO snapshot (tombstone
      LSN for deletes); deletes whose tombstone was compacted away fall back
      to ``lsn_fallback`` (default: the TO snapshot's LSN watermark from
      commit metadata — a driver-side max over per-partition footer stats,
      no data scan);
    - ``source.txId`` = the TO version, ``ts_ms`` = its commit wall-clock —
      both deterministic per (table, version) pair, so re-emission of the
      same feed is byte-identical (modulo the commit timestamp, which is
      pinned in the metadata, hence byte-identical too).
    """
    v_to = _resolve_ref(root, ref_to)
    new_t = IcehouseTable.load(root, version=v_to)
    if lsn_fallback is None:
        highs = [
            e.get("lsn_max")
            for e in list(new_t.meta["partitions"].values())
            + [d for ds in new_t.meta.get("deltas", {}).values() for d in ds]
        ]
        lsn_fallback = max((h for h in highs if h is not None), default=0)
    ts_ms = int((new_t.meta.get("committed_at") or 0) * 1000)
    diff = snapshot_diff_images(spark, root, ref_from, v_to)
    key = new_t.key_col

    # Debezium image conventions from the two-image diff: the key column
    # rides inside before/after (consumers take deletes' key from `before`)
    def _with_key(img_col: str, present: str) -> str:
        fields = [f"{quote(key)} AS {quote(key)}"] + [
            f"`{img_col}`.{quote(c)} AS {quote(c)}"
            for c in diff.schema[img_col].dataType.fieldNames()
        ]
        return f"CASE WHEN {present} THEN struct({', '.join(fields)}) END"

    table = table_name or os.path.basename(os.path.abspath(root))
    before = _with_key("before", "NOT (`op` = 'I')")
    after = _with_key("after", "NOT (`op` = 'D')")
    envelope = (
        f"struct({before} AS `before`, {after} AS `after`,"
        " CASE WHEN `op` = 'I' THEN 'c' WHEN `op` = 'D' THEN 'd' ELSE 'u' END AS `op`,"
        f" {int(ts_ms)} AS `ts_ms`,"
        f" struct({str_lit(connector)} AS `connector`, CAST(NULL AS STRING) AS `db`,"
        f" CAST(NULL AS STRING) AS `schema`, {str_lit(table)} AS `table`,"
        f" coalesce(`lsn`, {int(lsn_fallback)}) AS `lsn`,"
        f" CAST({int(v_to)} AS BIGINT) AS `txId`) AS `source`)"
    )
    # explicit nulls: Debezium serializes "before": null / "after": null
    # (and null payload fields) literally — consumers key on their presence
    return diff.selectExpr(
        f"to_json({envelope}, map('ignoreNullFields', 'false')) AS value"
    )


def emit_changed_since(
    spark: SparkSession,
    table: IcehouseTable,
    lsn_watermark: int,
    connector: str = "icehouse",
    table_name: str | None = None,
) -> DataFrame:
    """The O(changed-data) emitter: Debezium envelopes for every key whose
    winning version has ``_lsn > lsn_watermark``, built on
    ``IcehouseTable.read_changed_since`` — per-file ``lsn_max`` footer stats
    prune every file that cannot hold a newer winner, so a consumer polling
    each epoch reads (and emits) only that epoch's changed data, never the
    table.

    Cost/fidelity trade vs :func:`emit_debezium_envelopes` (pick per feed):

    - **snapshot-pair diff**: exact ``c``/``u``/``d`` with full BEFORE
      images, but costs two table scans + a key join — the audited-publish
      feed shape;
    - **watermark feed (this)**: one pruned scan, no join, O(changed data) —
      but no before images and no insert/update distinction (the old state
      was never read).  Non-deletes are emitted as ``op": "u"`` with
      ``before: null`` — the shape Postgres logical replication produces
      under ``REPLICA IDENTITY NOTHING``, and every upsert consumer
      (including this engine's inbound adapter, which maps c/r/u alike to
      upsert) converges identically on it.  Deletes carry the key inside
      ``before`` per the Debezium contract, also with null payload fields.

    ``source.lsn`` is the row's true ``_lsn``; ``txId`` the current version;
    ``ts_ms`` its commit wall-clock.  The next poll's watermark is the max
    emitted lsn (aggregate it from the feed, or track the table's own
    lineage high-water mark).
    """
    key = table.key_col
    changed = table.read_changed_since(spark, lsn_watermark)
    value_cols = [f.name for f in table.schema.fields if f.name != key]
    is_d = F.coalesce(F.col(DELETED_COL), F.lit(False))
    row_image = F.struct(
        F.col(key).alias(key), *[F.col(c).alias(c) for c in value_cols]
    )
    # delete envelopes carry the key (payload fields are NULL on tombstone
    # rows already — the apply path never writes a delete's payload)
    ts_ms = int((table.meta.get("committed_at") or 0) * 1000)
    envelope = F.struct(
        F.when(is_d, row_image).alias("before"),
        F.when(~is_d, row_image).alias("after"),
        F.when(is_d, "d").otherwise("u").alias("op"),
        F.lit(ts_ms).alias("ts_ms"),
        F.struct(
            F.lit(connector).alias("connector"),
            F.lit(None).cast("string").alias("db"),
            F.lit(None).cast("string").alias("schema"),
            F.lit(table_name or os.path.basename(os.path.abspath(table.root))).alias(
                "table"
            ),
            F.col(LSN_COL).alias("lsn"),
            F.lit(int(table.version)).cast("long").alias("txId"),
        ).alias("source"),
    )
    return changed.select(
        F.to_json(envelope, {"ignoreNullFields": "false"}).alias("value")
    )


def changed_since_events(
    spark: SparkSession, table: IcehouseTable, lsn_watermark: int
) -> DataFrame:
    """The BULK replication feed: the watermark delta as the engine's own
    canonical change-event frame ``(lsn, op, <key>, <payload cols>)`` —
    written as parquet it is directly tailable by ``jobs/replay_job.py``
    (``--source-format parquet``) or ``ReplayRunner``.

    This is the efficient wire for table→table replication of token
    payloads: JSON envelopes (:func:`emit_changed_since`) cost ~4× the
    bytes of parquet for large ``array<int>`` columns and exist for
    interop with external Debezium consumers; between two instances of
    THIS engine, ship the columnar frame.  Same O(changed-data) scan, no
    serialization round-trip.  Insert/update collapse to ``U`` (upsert) —
    identical apply semantics."""
    changed = table.read_changed_since(spark, lsn_watermark)
    is_d = F.coalesce(F.col(DELETED_COL), F.lit(False))
    cols = [f.name for f in table.schema.fields]
    return changed.select(
        F.col(LSN_COL).alias("lsn"),
        F.when(is_d, "D").otherwise("U").alias("op"),
        *cols,
    )


def kafka_sink_frame(feed: DataFrame, key_expr=None, key_col: str = "doc_id") -> DataFrame:
    """Shape an envelope feed (one ``value`` string column) for Spark's
    Kafka sink: ``(key, value)`` string columns for
    ``feed.writeStream.format("kafka").option("topic", ...)``.

    ``key_expr`` defaults to the envelope's row key (``after.<key_col>``,
    falling back to ``before.<key_col>`` for deletes) — the Debezium
    convention that makes Kafka LOG COMPACTION retain exactly the latest
    envelope per key, turning the topic itself into a bounded changelog.
    The outbound twin of ``sources.debezium.kafka_value_lines``; like the
    inbound leg it is jar-free to construct and test (the ``kafka`` format
    is only needed at ``writeStream`` time)."""
    if key_expr is None:
        env = F.from_json(
            F.col("value"),
            f"before struct<{key_col}:string>, after struct<{key_col}:string>",
        )
        key_expr = F.coalesce(env["after"][key_col], env["before"][key_col])
    return feed.select(
        key_expr.cast("string").alias("key"), F.col("value").cast("string")
    )


def emit_to_files(
    spark: SparkSession,
    root: str,
    out_dir: str,
    checkpoint: str,
    ref_to: "int | str | None" = None,
    **kwargs,
) -> dict:
    """Checkpointed incremental publisher: emit everything committed since
    the last run as Debezium JSON-lines files in ``out_dir`` — the exact
    wire a downstream ``StreamingIngest(source_format="debezium")`` (or any
    Kafka-Connect-style consumer) tails.

    ``checkpoint`` is a tiny JSON file holding the last emitted version;
    each run emits ``(last, head]`` (or ``(last, ref_to]``) and advances it.
    Files are written to a scratch subdirectory and MOVED into ``out_dir``
    with unique names (rename = the atomic-visibility contract file-stream
    sources rely on).

    Delivery contract: AT-LEAST-ONCE with idempotent effect — a crash
    between the move and the checkpoint write re-emits the same delta next
    run, but re-applied envelopes carry identical true LSNs and payloads,
    so a LWW consumer converges to the same state (and the engine's own
    streaming tail additionally fences per micro-batch).  Exactly-once
    OUTPUT would need a transactional sink; the checkpoint bounds the
    window to one delta.

    GC safety: each successful run re-points a feed tag (``emit:<checkpoint
    sha>``, override with ``pin_tag``; ``pin_tag=None`` disables) at the
    newly emitted head — tagged versions are exempt from
    ``expire_snapshots``, so snapshot retention can never age out the
    baseline the NEXT run must diff against.  If the baseline is gone
    anyway (pinning was off, or the tag was deleted), the run fails fast
    with the remediation named instead of silently mis-diffing.

    Idle polls are metadata-only: when the baseline and head reference the
    IDENTICAL data files (only pure-metadata commits in between — tags,
    including this publisher's own pin, GC bookkeeping), no row can have
    changed, so the run returns empty without a Spark job and without
    advancing checkpoint or tag.
    """
    import hashlib
    import json as _json
    import shutil
    import tempfile

    pin_tag = kwargs.pop(
        "pin_tag",
        "emit:" + hashlib.sha256(os.path.abspath(checkpoint).encode()).hexdigest()[:12],
    )
    last = 0
    if os.path.exists(checkpoint):
        with open(checkpoint) as fh:
            last = int(_json.load(fh)["last_emitted_version"])
    head = _resolve_ref(root, ref_to) if ref_to is not None else IcehouseTable.load(root).version
    empty: dict = {"emitted_versions": None, "files": 0, "rows": 0}
    if head <= last:
        return empty
    last_meta: "dict | None" = None
    try:
        if last > 0:  # v0 needs no metadata: a bootstrap diff is inserts-only
            last_meta = IcehouseTable.load(root, version=last).meta
    except FileNotFoundError:
        raise RuntimeError(
            f"emit baseline v{last} of {root} was expired by snapshot "
            f"retention — the incremental feed cannot diff against it. "
            f"Keep the feed tag ({pin_tag or 'pin_tag'}) in place (it is "
            "created automatically unless pin_tag=None), or re-bootstrap "
            "the consumer: delete the emit checkpoint to emit a full "
            "snapshot from version 0."
        ) from None

    def _data_refs(meta: "dict | None"):
        if meta is None:  # v0: the empty table
            return ({}, {})
        return (
            {p: r["path"] for p, r in meta["partitions"].items()},
            {p: [d["path"] for d in ds] for p, ds in meta.get("deltas", {}).items()},
        )

    head_meta = IcehouseTable.load(root, version=head).meta
    if _data_refs(last_meta) == _data_refs(head_meta):
        # only pure-metadata commits since the baseline (tags — including
        # this publisher's OWN pin —, GC bookkeeping): no row can have
        # changed, so emit nothing and leave checkpoint+tag in place.
        # This is also what keeps an idle poll cheap (two driver-side
        # metadata loads, zero Spark jobs) and prevents the pin commit
        # from turning every idle run into a fresh "new version".
        return empty
    feed = emit_debezium_envelopes(spark, root, last, head, **kwargs)
    os.makedirs(out_dir, exist_ok=True)
    # scratch lives INSIDE out_dir so the renames below stay same-filesystem
    # (atomic); the leading underscore keeps it invisible to any file-stream
    # source already tailing out_dir (Spark ignores _/. prefixed paths)
    scratch = tempfile.mkdtemp(prefix="_emit_tmp_", dir=out_dir)
    try:
        data_dir = os.path.join(scratch, "data")
        feed.write.mode("overwrite").text(data_dir)
        # distributed line count over the just-written files — never pull
        # the feed's bytes through the driver (a big delta is GBs)
        rows = spark.read.text(data_dir).count()
        moved = 0
        for name in sorted(os.listdir(data_dir)):
            if not name.startswith("part-"):
                continue
            src = os.path.join(data_dir, name)
            if os.path.getsize(src) == 0:
                continue
            os.rename(src, os.path.join(out_dir, f"delta_v{last:08d}_v{head:08d}_{name}"))
            moved += 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    tmp_ck = checkpoint + ".tmp"
    with open(tmp_ck, "w") as fh:
        _json.dump({"last_emitted_version": head}, fh)
    os.replace(tmp_ck, checkpoint)
    if pin_tag:
        # pin the new baseline against snapshot retention (re-pointing the
        # same tag each run releases the previous baseline for GC)
        IcehouseTable.load(root).create_tag(pin_tag, version=head)
    return {"emitted_versions": (last, head), "files": moved, "rows": rows}


def emit_published_feed(
    spark: SparkSession,
    root: str,
    tag: str = "published",
    **kwargs,
) -> DataFrame:
    """The WAP consumer's outbound feed: envelopes for everything that
    changed between the last two AUDITED publishes (``{tag}-prev`` → ``tag``,
    the pin pair ``table/wap.audit_and_publish`` maintains).  First publish
    (no ``-prev`` tag yet) emits the full snapshot as inserts by diffing
    against version 0 (the empty table)."""
    tags = IcehouseTable.load(root).meta.get("tags", {})
    if tag not in tags:
        raise KeyError(f"no tag {tag!r} on table {root}")
    prev: "int | str" = f"{tag}-prev" if f"{tag}-prev" in tags else 0
    return emit_debezium_envelopes(spark, root, prev, tag, **kwargs)
