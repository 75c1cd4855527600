"""Deterministic training-shard export (``operators/shards``).

The loader-facing layout: fixed-size numbered shards, one sorted parquet
file each, plus a manifest with per-shard counts/checksums; exports are
staged and atomically published, and two exports of the same input are
byte-identical.
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_spark.operators.shards import (
    append_training_shards,
    assign_training_shards,
    read_shard_manifest,
    shard_summary,
    write_training_shards,
)

N_DOCS = 1037
SHARD_ROWS = 100


@pytest.fixture()
def docs(spark):
    return spark.range(N_DOCS).select(
        F.format_string("doc-%05d", F.col("id").cast("int")).alias("doc_id"),
        F.sequence(F.lit(1), (F.pmod(F.col("id"), F.lit(9)) + 1).cast("int")).alias(
            "tokens"
        ),
    )


def test_assignment_matches_global_rank(spark, docs):
    got = assign_training_shards(docs, "doc_id", SHARD_ROWS).collect()
    assert len(got) == N_DOCS
    by_id = sorted(got, key=lambda r: r["doc_id"])
    for rank, r in enumerate(by_id):
        assert r["shard_id"] == rank // SHARD_ROWS, r
        assert r["shard_pos"] == rank % SHARD_ROWS, r


def test_assignment_deterministic_across_parallelism(spark, docs):
    a = {
        r["doc_id"]: (r["shard_id"], r["shard_pos"])
        for r in assign_training_shards(docs, "doc_id", SHARD_ROWS, num_parts=2).collect()
    }
    b = {
        r["doc_id"]: (r["shard_id"], r["shard_pos"])
        for r in assign_training_shards(
            docs.repartition(13), "doc_id", SHARD_ROWS, num_parts=7
        ).collect()
    }
    assert a == b


def test_write_layout_and_manifest(spark, docs, tmp_path):
    out = str(tmp_path / "export")
    manifest = write_training_shards(docs, out, "doc_id", SHARD_ROWS)

    n_shards = (N_DOCS + SHARD_ROWS - 1) // SHARD_ROWS
    assert manifest["n_shards"] == n_shards
    assert manifest["n_rows"] == N_DOCS
    assert read_shard_manifest(out)["n_rows"] == N_DOCS

    # exactly one data file per shard dir, shards numbered densely
    dirs = sorted(glob.glob(os.path.join(out, "shard=*")))
    assert [os.path.basename(d) for d in dirs] == [
        f"shard={i:06d}" for i in range(n_shards)
    ]
    for d in dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1

    # shard files hold the manifest's rows, in shard_pos order
    s0 = spark.read.parquet(dirs[0]).collect()
    assert [r["shard_pos"] for r in s0] == list(range(SHARD_ROWS))
    assert s0[0]["doc_id"] == "doc-00000"
    # last shard is the remainder
    last = spark.read.parquet(dirs[-1]).collect()
    assert len(last) == N_DOCS - (n_shards - 1) * SHARD_ROWS

    # manifest aggregates reconcile with the data
    whole = spark.read.parquet(out)
    assert whole.count() == N_DOCS
    per = {
        r["shard"]: r["n"]
        for r in whole.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for s in manifest["shards"]:
        assert per[s["shard_id"]] == s["n_rows"]
        assert s["n_tokens"] >= s["n_rows"]  # every doc has >=1 token here


def test_export_is_reproducible_bytes(spark, docs, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_training_shards(docs, a, "doc_id", SHARD_ROWS)
    write_training_shards(docs.repartition(17), b, "doc_id", SHARD_ROWS, num_parts=3)
    fa = sorted(glob.glob(os.path.join(a, "shard=*", "*.parquet")))
    fb = sorted(glob.glob(os.path.join(b, "shard=*", "*.parquet")))
    assert len(fa) == len(fb)
    for x, y in zip(fa, fb):
        with open(x, "rb") as f1, open(y, "rb") as f2:
            assert f1.read() == f2.read(), (x, y)


def test_overwrite_semantics(spark, docs, tmp_path):
    out = str(tmp_path / "export")
    write_training_shards(docs, out, "doc_id", SHARD_ROWS)
    # published as an atomic symlink to an immutable version dir
    assert os.path.islink(out)
    with pytest.raises(FileExistsError):
        write_training_shards(docs, out, "doc_id", SHARD_ROWS)
    # the refused write failed BEFORE staging anything
    assert len(glob.glob(str(tmp_path / "export.v-*"))) == 1
    m = write_training_shards(
        docs.limit(150), out, "doc_id", SHARD_ROWS, overwrite=True
    )
    assert m["n_rows"] == 150
    assert read_shard_manifest(out)["n_rows"] == 150
    # keep-last-2: current + just-replaced version stay (a reader that
    # resolved the link pre-swap finishes on intact files); a third
    # overwrite retires the oldest
    assert len(glob.glob(str(tmp_path / "export.v-*"))) == 2
    assert not glob.glob(str(tmp_path / "export.lnk-*"))
    assert spark.read.parquet(out).count() == 150
    write_training_shards(docs.limit(70), out, "doc_id", SHARD_ROWS, overwrite=True)
    # the default grace window keeps the young retired dir — it is
    # indistinguishable by age from a concurrent export's in-flight staging
    # dir, and deleting such a dir would fail that writer mid-write
    assert len(glob.glob(str(tmp_path / "export.v-*"))) == 3
    write_training_shards(
        docs.limit(70),
        out,
        "doc_id",
        SHARD_ROWS,
        overwrite=True,
        cleanup_grace_seconds=0.0,
    )
    assert len(glob.glob(str(tmp_path / "export.v-*"))) == 2

    # the symlink is RELATIVE: moving the parent keeps the dataset readable
    assert not os.path.isabs(os.readlink(out))
    moved = tmp_path / "moved"
    os.makedirs(moved)
    for p in glob.glob(str(tmp_path / "export*")):
        os.rename(p, str(moved / os.path.basename(p)))
    assert read_shard_manifest(str(moved / "export"))["n_rows"] == 70


def test_empty_input(spark, docs, tmp_path):
    out = str(tmp_path / "empty")
    m = write_training_shards(docs.limit(0), out, "doc_id", SHARD_ROWS)
    assert m["n_shards"] == 0 and m["n_rows"] == 0
    assert read_shard_manifest(out)["shards"] == []


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.format_string("doc-%05d", F.col("id").cast("int")).alias("doc_id"),
        F.sequence(F.lit(1), (F.pmod(F.col("id"), F.lit(5)) + 1).cast("int")).alias(
            "tokens"
        ),
    )


def test_append_adds_new_shards_without_touching_published_bytes(spark, tmp_path):
    out = str(tmp_path / "ds")
    write_training_shards(_mk(spark, 0, 250), out, "doc_id", 100)
    published = {}
    for f in glob.glob(os.path.join(out, "shard=*", "*.parquet")):
        with open(f, "rb") as fh:
            published[f] = fh.read()

    m = append_training_shards(_mk(spark, 250, 430), out)
    assert m["n_shards"] == 3 + 2  # 100+100+50, then 100+80
    assert m["n_rows"] == 430
    assert read_shard_manifest(out)["n_rows"] == 430

    # every previously published byte is untouched (mid-epoch readers keep
    # byte-stable shards); the old tail stays partial by contract
    for f, blob in published.items():
        with open(f, "rb") as fh:
            assert fh.read() == blob, f
    assert m["shards"][2]["n_rows"] == 50
    assert m["shards"][3]["n_rows"] == 100 and m["shards"][3]["shard_id"] == 3
    assert m["shards"][4]["n_rows"] == 80

    # loader view is complete and deduplicated
    back = spark.read.parquet(out)
    assert back.count() == 430
    assert back.select("doc_id").distinct().count() == 430
    # manifest total token count reconciles with data
    tok = back.select(F.sum(F.size("tokens")).alias("s")).collect()[0]["s"]
    assert m["n_tokens"] == tok


def test_append_rejects_out_of_order_keys(spark, tmp_path):
    out = str(tmp_path / "ds")
    write_training_shards(_mk(spark, 100, 200), out, "doc_id", 50)
    with pytest.raises(ValueError, match="sort after"):
        append_training_shards(_mk(spark, 0, 50), out)
    # overlapping key (equal to last) also rejected
    with pytest.raises(ValueError, match="sort after"):
        append_training_shards(_mk(spark, 199, 260), out)
    # dataset unchanged by the refused appends
    assert read_shard_manifest(out)["n_rows"] == 100


def test_append_empty_is_noop_and_orphan_dirs_are_replaced(spark, tmp_path):
    out = str(tmp_path / "ds")
    write_training_shards(_mk(spark, 0, 100), out, "doc_id", 100)
    m0 = read_shard_manifest(out)
    assert append_training_shards(_mk(spark, 0, 0), out) == m0

    # tokens accounting must stay consistent with the manifest
    with pytest.raises(ValueError, match="tokens accounting"):
        append_training_shards(_mk(spark, 500, 510), out, tokens_col=None)

    # a crashed prior append left an orphan next-shard dir the manifest
    # never referenced; a re-run must replace it, not fail or double-count
    orphan = os.path.join(out, "shard=000001")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "w") as f:
        f.write("not parquet")
    m = append_training_shards(_mk(spark, 100, 150), out)
    assert m["n_rows"] == 150
    assert not os.path.exists(os.path.join(orphan, "junk.parquet"))
    assert spark.read.parquet(out).count() == 150


def test_summary_matches_manual_aggregation(spark, docs):
    sharded = assign_training_shards(docs, "doc_id", SHARD_ROWS)
    summ = {r["shard_id"]: r for r in shard_summary(sharded).collect()}
    manual = {
        r["shard_id"]: r
        for r in sharded.groupBy("shard_id")
        .agg(
            F.sum(F.size("tokens")).alias("n_tokens"),
            F.min("doc_id").alias("first_key"),
        )
        .collect()
    }
    for sid, m in manual.items():
        assert summ[sid]["n_tokens"] == m["n_tokens"]
        assert summ[sid]["first_key"] == m["first_key"]


def test_append_legacy_datetime_manifest_compares_chronologically(spark, tmp_path):
    """Round-5 review finding: a pre-round-5 manifest serialized datetime
    keys via str() ('YYYY-MM-DD HH:MM:SS', space), while canonical keys
    use isoformat ('T').  Raw lexicographic compare orders 'T' after ' ',
    silently accepting a mid-order append — both sides must normalize to
    the same form first."""
    import json as _json

    out = str(tmp_path / "legacy")
    df = spark.createDataFrame(
        [("2024-06-01T10:00:00", [1]), ("2024-06-01T12:00:00", [2])],
        "ts string, tokens array<int>",
    ).select(F.to_timestamp("ts").alias("ts"), "tokens")
    write_training_shards(df, out, order_col="ts", shard_rows=10)
    # rewrite the manifest keys into the LEGACY str(datetime) space form
    mpath = os.path.join(os.path.realpath(out), "_manifest.json")
    m = _json.load(open(mpath))
    for s in m["shards"]:
        s["first_key"] = s["first_key"].replace("T", " ")
        s["last_key"] = s["last_key"].replace("T", " ")
    with open(mpath, "w") as f:
        _json.dump(m, f)

    from data_pipeline_spark.operators.shards import append_training_shards

    # a key 4 hours BEFORE the legacy last key must be rejected even
    # though 'T' > ' ' lexicographically
    before = spark.createDataFrame([("2024-06-01T08:00:00", [3])],
                                   "ts string, tokens array<int>").select(
        F.to_timestamp("ts").alias("ts"), "tokens")
    with pytest.raises(ValueError, match="sort after"):
        append_training_shards(before, out)
    # and a genuinely-later key appends fine
    after = spark.createDataFrame([("2024-06-01T15:00:00", [4])],
                                  "ts string, tokens array<int>").select(
        F.to_timestamp("ts").alias("ts"), "tokens")
    res = append_training_shards(after, out)
    assert res["n_rows"] == 3


def test_append_rejects_null_order_key(spark, tmp_path):
    """A NULL order key in the appended rows is a contract violation with a
    clear error, not a bare TypeError from comparing None to the last key."""
    out = str(tmp_path / "ds")
    schema = "k long, tokens array<int>"
    write_training_shards(
        spark.createDataFrame([(i, [1]) for i in range(10)], schema), out, "k", 5
    )
    with pytest.raises(ValueError, match="NULL k"):
        append_training_shards(spark.createDataFrame([(None, [1])], schema), out)
    with pytest.raises(ValueError, match="NULL k"):
        append_training_shards(
            spark.createDataFrame([(None, [1]), (20, [1])], schema), out
        )
    assert read_shard_manifest(out)["n_rows"] == 10


def test_decimal_order_keys_compare_without_float_rounding(spark, tmp_path):
    """Non-integral decimal keys are stored and compared exactly: keys that
    differ only past float precision are neither refused nor compared equal,
    and a full export of such a column still succeeds."""
    from decimal import Decimal

    from data_pipeline_spark.operators.shards import _canon_key, last_exported_key

    assert _canon_key(Decimal("2.50")) == 2.5
    assert _canon_key(Decimal("7")) == 7
    assert _canon_key(Decimal("1.00000000000000000001")) == "1.00000000000000000001"

    out = str(tmp_path / "ds")
    schema = "k decimal(30,20), tokens array<int>"
    third = Decimal(1) / Decimal(3)
    m = write_training_shards(
        spark.createDataFrame(
            [(Decimal("1.5"), [1]), (third, [1]), (Decimal("2.375"), [1])], schema
        ),
        out, "k", 2,
    )
    assert m["n_rows"] == 3
    # one shard ends on a float-exact key, the other on 1/3 kept as a string
    assert last_exported_key(read_shard_manifest(out), decimal_keys=True) == Decimal("2.375")
    # same float as the last key, but after it: accepted
    m = append_training_shards(
        spark.createDataFrame([(Decimal("2.37500000000000000001"), [1])], schema), out
    )
    assert m["n_rows"] == 4
    assert last_exported_key(m, decimal_keys=True) == Decimal("2.37500000000000000001")
    # same float as the new last key, but not after it: rejected
    for k in ("2.37500000000000000001", "2.375"):
        with pytest.raises(ValueError, match="sort after"):
            append_training_shards(spark.createDataFrame([(Decimal(k), [1])], schema), out)
    assert read_shard_manifest(out)["n_rows"] == 4
