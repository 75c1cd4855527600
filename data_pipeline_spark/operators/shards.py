"""Deterministic training-shard export: slice a curated, tokenized corpus
into fixed-size shards a data loader can stream (the WebDataset / streaming-
dataset layout every large training run feeds from).

Reference analog: the reference ships curated rows to its warehouse and
leaves loader sharding to downstream jobs (`transformations/load.py`
`load_to_bigquery`); here the engine closes the loop — the table that CDC
maintains is exported as numbered shards with a manifest, so a training job
can resume mid-epoch and verify integrity without scanning data.

Scale shape: the global rank that drives shard assignment is a distributed
prefix COUNT — range-repartition on the order key, a partition-local
row_number, and P driver-side partition totals broadcast back as a literal
map (the same pattern as ``functions.tokens.pack_corpus_sequences``).  NO
global single-partition window, NO collect of data rows; the subsequent
write is one hash shuffle on ``shard_id``.  Every shard lives wholly inside
one task, so ``partitionBy`` emits exactly one sorted file per shard at any
parallelism level, and the bytes are deterministic for a given order key.
"""

from __future__ import annotations

import decimal
import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..table.exprs import col as qcol
from ..table.exprs import quote

__all__ = [
    "append_training_shards",
    "assign_training_shards",
    "last_exported_key",
    "read_shard_manifest",
    "shard_summary",
    "write_training_shards",
]


def _canon_key(v):
    """Normalize an order-key value to a form that compares consistently
    with itself after a JSON round-trip (the manifest is JSON): ints /
    floats / strs as-is, temporal values as ISO strings, Decimals as
    ints / floats, or decimal strings when a float would round them.  Raises on
    types with no canonically comparable JSON form — the append-only
    contract check must never fall back to guessing (lexicographic
    ``str()`` comparison would accept '10' <= '9').  Mirrors
    ``icehouse._stat_json``'s normalization rules."""
    import datetime

    if v is None:
        return None
    if isinstance(v, bool):
        raise TypeError("bool order keys are not supported for shard export")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()  # lexicographic == chronological
    if isinstance(v, decimal.Decimal):
        i = int(v)
        if v == i:
            return i
        # a float stands in only when it reads back as the same decimal;
        # past float precision the key is kept as its exact decimal string
        # (append reads every stored form back as a Decimal:
        # :func:`last_exported_key`)
        f = float(v)
        return f if decimal.Decimal(repr(f)) == v else str(v)
    if isinstance(v, (int, float, str)):
        return v
    raise TypeError(
        f"order key type {type(v).__name__} has no canonically comparable "
        "JSON form; use a string/numeric/temporal order column"
    )


def _canon_summary(s: dict) -> dict:
    out = dict(s)
    out["first_key"] = _canon_key(s["first_key"])
    out["last_key"] = _canon_key(s["last_key"])
    return out


_LEGACY_DT = None  # compiled lazily


def _canon_str_key(s: str) -> str:
    """Normalize a STRING order key for comparison: a pre-round-5 manifest
    serialized temporal keys via ``json.dump(default=str)``, i.e.
    ``str(datetime)`` = 'YYYY-MM-DD HH:MM:SS[.ffffff]' (space separator),
    while :func:`_canon_key` emits isoformat ('T' separator).  Comparing
    the two raw would order 'T' (0x54) after ' ' (0x20) and silently
    accept a mid-order append — normalize the legacy space form to the
    'T' form so legacy-vs-new comparisons stay chronological."""
    global _LEGACY_DT
    if _LEGACY_DT is None:
        import re

        _LEGACY_DT = re.compile(r"^(\d{4}-\d{2}-\d{2}) (\d{2}:\d{2}:\d{2})")
    return _LEGACY_DT.sub(r"\1T\2", s)


def assign_training_shards(
    df: DataFrame,
    order_col: str = "doc_id",
    shard_rows: int = 1024,
    num_parts: int | None = None,
) -> DataFrame:
    """Append ``shard_id`` / ``shard_pos`` from each row's GLOBAL rank in
    ``order_col`` order: ``rank = partition_offset + local row_number``,
    ``shard_id = rank div shard_rows``, ``shard_pos = rank mod shard_rows``.

    ``order_col`` must be globally unique (a key column) — ties would make
    the rank, and therefore shard contents, nondeterministic across runs.
    Determinism is the point: two exports of the same table state produce
    byte-identical shards, so a training run can be reproduced or resumed
    against a re-export.
    """
    if shard_rows <= 0:
        raise ValueError(f"shard_rows must be positive, got {shard_rows}")
    spark = df.sparkSession
    n_parts = num_parts or spark.sparkContext.defaultParallelism
    d = df.repartitionByRange(n_parts, qcol(order_col)).withColumn(
        "_pid", F.expr("spark_partition_id()")
    )
    # pin partition ids: the counts pass and the rank pass below must see the
    # same pid assignment
    d = d.localCheckpoint()
    totals = {
        r["_pid"]: r["n"]
        for r in d.groupBy(qcol("_pid")).agg(F.expr("count(1) AS n")).collect()
    }
    if not totals:
        return (
            df.withColumn("shard_id", F.lit(None).cast("long"))
            .withColumn("shard_pos", F.lit(None).cast("long"))
            .limit(0)
        )
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets += [str(int(pid)), str(acc)]
        acc += int(totals[pid])
    rank = (
        "CAST(row_number() OVER (PARTITION BY `_pid` ORDER BY "
        f"{quote(order_col)}) AS BIGINT) - 1 + element_at(map({', '.join(offsets)}), `_pid`)"
    )
    shard_rows = int(shard_rows)
    return (
        d.withColumn("_rank", F.expr(rank))
        .withColumns(
            {
                "shard_id": F.expr(f"CAST(`_rank` / {shard_rows} AS BIGINT)"),
                "shard_pos": F.expr(f"CAST(pmod(`_rank`, {shard_rows}) AS BIGINT)"),
            }
        )
        .drop("_pid", "_rank")
    )


def shard_summary(
    sharded: DataFrame,
    order_col: str = "doc_id",
    tokens_col: str | None = "tokens",
) -> DataFrame:
    """Per-shard manifest rows from an :func:`assign_training_shards` output:
    (shard_id, n_rows, first_key, last_key[, n_tokens, token_checksum]).
    One combinable groupBy — the manifest costs a scan, never a sort."""
    key = quote(order_col)
    aggs = ["count(1) AS n_rows", f"min({key}) AS first_key", f"max({key}) AS last_key"]
    if tokens_col is not None:
        toks = quote(tokens_col)
        aggs += [
            f"CAST(sum(size({toks})) AS BIGINT) AS n_tokens",
            f"CAST(sum(aggregate({toks}, CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT)))"
            " AS BIGINT) AS token_checksum",
        ]
    return (
        sharded.groupBy(qcol("shard_id"))
        .agg(*[F.expr(a) for a in aggs])
        .orderBy(qcol("shard_id"))
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    order_col: str = "doc_id",
    shard_rows: int = 1024,
    tokens_col: str | None = "tokens",
    overwrite: bool = False,
    num_parts: int | None = None,
    cleanup_grace_seconds: float = 1800.0,
) -> dict[str, Any]:
    """Export ``df`` as ``path/shard=NNNNNN/`` parquet dirs (exactly one
    sorted file per shard) plus a ``_manifest.json`` (underscore: invisible
    to Spark's parquet reader) holding per-shard row/token counts and
    checksums.

    Publication is a SYMLINK swap: the data lands in an immutable
    ``path.v-<hex>`` sibling dir and ``path`` atomically repoints to it
    (``os.replace`` of a relative symlink, so the dataset survives a
    mv/remount of its parent) — at every instant a reader resolving
    ``path`` sees either the complete old dataset or the complete new one.
    The just-replaced version dir is KEPT (keep-last-2): a reader that
    resolved the link before the swap finishes its epoch on intact files;
    generations older than that are reclaimed on the next overwrite.  A
    crashed export leaves at most an orphan version dir the link never
    referenced.  To delete the dataset remove the link and its ``.v-*``
    siblings (``shutil.rmtree`` on the symlink itself raises by design).

    Returns the manifest dict.
    """
    import shutil

    path = os.path.abspath(path)
    if os.path.lexists(path) and not overwrite:
        # fail in milliseconds, not after a corpus-scale write
        raise FileExistsError(f"{path} exists; pass overwrite=True to replace")
    sharded = assign_training_shards(
        df, order_col=order_col, shard_rows=shard_rows, num_parts=num_parts
    ).withColumn("shard", F.expr("format_string('%06d', CAST(`shard_id` AS INT))"))
    summary = [
        _canon_summary(r.asDict())
        for r in shard_summary(sharded, order_col, tokens_col).collect()
    ]

    parent = os.path.dirname(path) or "."
    os.makedirs(parent, exist_ok=True)
    staging = path + f".v-{uuid.uuid4().hex[:8]}"
    (
        sharded.repartition(max(len(summary), 1), qcol("shard_id"))
        .sortWithinPartitions(qcol("shard_id"), qcol("shard_pos"))
        .drop("shard_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(staging)
    )
    manifest = {
        "format": "training-shards/1",
        "order_col": order_col,
        "shard_rows": shard_rows,
        "n_shards": len(summary),
        "n_rows": sum(s["n_rows"] for s in summary),
        "shards": summary,
    }
    if tokens_col is not None:
        manifest["n_tokens"] = sum(s["n_tokens"] for s in summary)
    with open(os.path.join(staging, "_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, default=str)

    prev_target = None
    if os.path.lexists(path):
        if not overwrite:  # re-check: racing writer since the early check
            shutil.rmtree(staging, ignore_errors=True)
            raise FileExistsError(f"{path} exists; pass overwrite=True to replace")
        if os.path.islink(path):
            prev_target = os.path.realpath(path)
        else:
            # legacy real-dir layout: move it aside (non-atomic window is
            # legacy-only; every symlink-era overwrite is atomic)
            prev_target = path + f".old-{uuid.uuid4().hex[:8]}"
            os.rename(path, prev_target)
    tmp_link = path + f".lnk-{uuid.uuid4().hex[:8]}"
    # RELATIVE target: the version dir is a sibling, so the whole dataset
    # (link + versions) survives a mv/remount/rsync of its parent
    os.symlink(os.path.basename(staging), tmp_link)
    os.replace(tmp_link, path)  # atomic publish
    # keep-last-2: the just-replaced version stays on disk so a reader that
    # resolved the link before the swap finishes its epoch on intact files;
    # only OLDER generations are reclaimed (next overwrite retires prev)
    keep = {os.path.abspath(staging)}
    if prev_target:
        keep.add(os.path.abspath(prev_target))
    import glob as _glob

    # age-gated reclamation: a sibling dir younger than the grace window may
    # be ANOTHER export's in-flight staging dir (overlapping cron) — deleting
    # it would fail that writer mid-write or dangle its published symlink.
    # Old-enough dirs not in the keep set are retired generations no reader
    # following the keep-last-2 contract can still be on.
    now = time.time()
    for d in _glob.glob(path + ".v-*") + _glob.glob(path + ".old-*"):
        if os.path.abspath(d) in keep or not os.path.isdir(d):
            continue
        try:
            if now - os.path.getmtime(d) < cleanup_grace_seconds:
                continue
        except OSError:  # vanished under a concurrent cleanup
            continue
        shutil.rmtree(d, ignore_errors=True)
    return manifest


def read_shard_manifest(path: str) -> dict[str, Any]:
    with open(os.path.join(path, "_manifest.json")) as f:
        return json.load(f)


def last_exported_key(manifest: dict[str, Any], decimal_keys: bool = False):
    """The largest ``last_key`` of a shard manifest (``None`` when it has no
    keyed shard).  ``decimal_keys``: the order column is a decimal, whose
    keys are stored as ints, floats or decimal strings (:func:`_canon_key`)
    — read them all back as exact ``Decimal`` values before comparing."""
    keys = [s["last_key"] for s in manifest["shards"] if s["last_key"] is not None]
    if decimal_keys:
        keys = [decimal.Decimal(str(k)) for k in keys]
    return max(keys, default=None)


def append_training_shards(
    df_new: DataFrame,
    path: str,
    tokens_col: str | None = "tokens",
    num_parts: int | None = None,
) -> dict[str, Any]:
    """Incremental export: add ``df_new``'s rows to an existing shard
    dataset as NEW shards, leaving every published shard untouched — the
    O(delta) complement of :func:`write_training_shards`'s O(corpus) rewrite.

    Contract: the dataset's order key is append-only — every new row's
    ``order_col`` must sort strictly AFTER the last exported key (checked
    with one tiny aggregate; violations raise, because a mid-order insert
    would silently change what a full re-export of the same data produces).
    Each append cycle closes its own shard group, so the previous cycle's
    tail shard may stay partial forever; loaders must take per-shard row
    counts from the manifest, not assume uniformity.  That is the explicit
    trade for never rewriting published bytes: a training run already
    mid-epoch on the old manifest keeps byte-stable shards.

    Crash safety: new shard dirs are staged inside the target under
    dot-prefixed (Spark-invisible) names, renamed to their final
    ``shard=NNNNNN`` names only immediately before the manifest swap
    (atomic tmp+rename, last) — a crash before the final renames leaves
    only dot-prefixed orphans even a raw ``spark.read.parquet(path)``
    never scans; a crash between renames and manifest leaves dirs the old
    manifest never references, and a re-run replaces them.
    """
    manifest = read_shard_manifest(path)
    order_col = manifest["order_col"]
    shard_rows = int(manifest["shard_rows"])
    if (tokens_col is not None) != ("n_tokens" in manifest):
        raise ValueError(
            "tokens accounting mismatch: manifest "
            + ("has" if "n_tokens" in manifest else "lacks")
            + f" n_tokens but tokens_col={tokens_col!r} — appending would "
            "leave the dataset-level totals wrong for integrity checks"
        )
    probe = df_new.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(order_col).alias("n_keyed"),
        F.min(order_col).alias("lo"),
    ).collect()[0]
    if probe["n"] == 0:
        return manifest
    if probe["n_keyed"] < probe["n"]:
        raise ValueError(
            f"append found {probe['n'] - probe['n_keyed']} rows with a NULL "
            f"{order_col}: the order column must be a non-null unique key"
        )
    if isinstance(probe["lo"], decimal.Decimal):
        # exact: no float rounding on either side
        lo, last_key = probe["lo"], last_exported_key(manifest, decimal_keys=True)
    else:
        lo, last_key = _canon_key(probe["lo"]), last_exported_key(manifest)
    if last_key is not None and isinstance(lo, str) != isinstance(last_key, str):
        # a legacy manifest serialized a non-JSON key type via str() — a
        # lexicographic compare against it can both falsely accept a
        # mid-order insert ('10' <= '9') and falsely reject a valid append;
        # never guess on the byte-determinism contract
        raise TypeError(
            f"manifest last_key {last_key!r} and new key {lo!r} are not "
            "canonically comparable (legacy manifest with a str()-serialized "
            "key type?) — run a full write_training_shards(overwrite=True)"
        )
    if isinstance(lo, str) and isinstance(last_key, str):
        lo, last_key = _canon_str_key(lo), _canon_str_key(last_key)
    if last_key is not None and lo <= last_key:
        raise ValueError(
            f"append requires every new {order_col} to sort after the last "
            f"exported key {last_key!r}; got min={probe['lo']!r} — run a "
            "full write_training_shards(overwrite=True) instead"
        )

    base_shard = manifest["n_shards"]
    sharded = assign_training_shards(
        df_new, order_col=order_col, shard_rows=shard_rows, num_parts=num_parts
    ).withColumn("shard_id", F.col("shard_id") + base_shard)
    sharded = sharded.withColumn(
        "shard", F.format_string("%06d", F.col("shard_id").cast("int"))
    )
    summary = [
        _canon_summary(r.asDict())
        for r in shard_summary(sharded, order_col, tokens_col).collect()
    ]

    # pin the CURRENT version dir: every rename and the manifest swap land
    # in this resolved target, not through the (swappable) symlink — a
    # concurrent overwrite publish can then never split an append across
    # two generations
    target = os.path.realpath(path) if os.path.islink(path) else os.path.abspath(path)
    staging = os.path.abspath(path) + f".append-{uuid.uuid4().hex[:8]}"
    (
        sharded.repartition(max(len(summary), 1), qcol("shard_id"))
        .sortWithinPartitions(qcol("shard_id"), qcol("shard_pos"))
        .drop("shard_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(staging)
    )
    import shutil

    # land the new shards INSIDE the target under dot-prefixed names first
    # (invisible to Spark's parquet reader and to any raw
    # spark.read.parquet(path) consumer) — the visible shard=NNNNNN renames
    # happen only immediately before the manifest swap below, so a crash
    # mid-append leaves only Spark-invisible orphans, never duplicate or
    # partial data a raw read would scan
    batch = uuid.uuid4().hex[:8]
    staged = []
    for s in summary:
        name = f"shard={s['shard_id']:06d}"
        tmp_name = f".staged-{batch}-{name}"
        os.rename(os.path.join(staging, name), os.path.join(target, tmp_name))
        staged.append((tmp_name, name))
    shutil.rmtree(staging, ignore_errors=True)
    if os.path.islink(path) and os.path.realpath(path) != target:
        raise RuntimeError(
            f"concurrent overwrite republished {path} while this append ran; "
            "the append is void (its shards landed in the retired version "
            "dir, which the keep-last-2 policy will reclaim) — re-run "
            "against the new dataset"
        )
    for tmp_name, name in staged:
        dst = os.path.join(target, name)
        if os.path.exists(dst):  # orphan from a crashed prior append
            shutil.rmtree(dst)
        os.rename(os.path.join(target, tmp_name), dst)
    # sweep Spark-invisible leftovers of crashed prior appends (age-gated:
    # a young .staged- dir may belong to a concurrent append)
    import glob as _glob

    now = time.time()
    for d in _glob.glob(os.path.join(target, ".staged-*")):
        if f".staged-{batch}-" in os.path.basename(d):
            continue
        try:
            if now - os.path.getmtime(d) < 1800.0:
                continue
        except OSError:
            continue
        shutil.rmtree(d, ignore_errors=True)

    out = dict(manifest)
    out["shards"] = manifest["shards"] + summary
    out["n_shards"] = len(out["shards"])
    out["n_rows"] = manifest["n_rows"] + sum(s["n_rows"] for s in summary)
    if tokens_col is not None and "n_tokens" in manifest:
        out["n_tokens"] = manifest["n_tokens"] + sum(s["n_tokens"] for s in summary)
    tmp = os.path.join(target, f"._manifest.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(out, f, indent=1, default=str)
    os.replace(tmp, os.path.join(target, "_manifest.json"))
    return out
