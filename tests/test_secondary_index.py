"""Secondary index tables: attribute lookups on a wide tokenized table via
a slim value-sorted (key, value) icehouse table maintained exactly-once
from the base's changed-data feed."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.cdc.apply import apply_changes, apply_changes_mor
from data_pipeline_spark.table import IcehouseTable, SecondaryIndex, open_index

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


def mk_batch(spark, events):
    return spark.createDataFrame(
        events, "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string"
    )


@pytest.fixture()
def base(spark, tmp_path):
    t = IcehouseTable.create(
        str(tmp_path / "base"), schema=SCHEMA, key_col="doc_id", n_buckets=4
    )
    events = [
        (i, "U", f"d{i:04d}", [i], 1, f"s{i % 5}") for i in range(400)
    ]
    apply_changes(t, mk_batch(spark, events), epoch=0)
    return t.refresh()


def expected(spark, base, sources):
    return sorted(
        r["doc_id"]
        for r in base.read(spark).where(F.col("source").isin(sources)).collect()
    )


def test_build_and_lookup(spark, tmp_path, base):
    idx = SecondaryIndex.create(
        spark, base, str(tmp_path / "idx"), "source", max_file_rows=50
    )
    got = sorted(r["doc_id"] for r in idx.lookup_keys(spark, ["s2"]).collect())
    assert got == expected(spark, base, ["s2"])
    assert len(got) == 80

    # slim-table probe plans fewer files than a full index scan
    probe = idx.lookup_keys(spark, ["s2"])
    assert len(probe.inputFiles()) < len(idx.index.read(spark).inputFiles())

    # full-row fetch returns the wide rows for exactly the hits
    rows = idx.lookup_rows(spark, ["s2", "s4"]).collect()
    assert sorted(r["doc_id"] for r in rows) == expected(spark, base, ["s2", "s4"])
    assert all(r["tokens"] is not None for r in rows)


def test_incremental_refresh_updates_and_deletes(spark, tmp_path, base):
    idx = SecondaryIndex.create(spark, base, str(tmp_path / "idx"), "source")

    # epoch 1: move d0001 from s1 -> s2, delete d0002, add d9999 (s1)
    events = [
        (1_000, "U", "d0001", [1], 1, "s2"),
        (1_001, "D", "d0002", None, None, None),
        (1_002, "U", "d9999", [9], 1, "s1"),
    ]
    apply_changes(base, mk_batch(spark, events), epoch=1)
    base.refresh()
    res = idx.refresh(spark)
    assert not res["skipped"] and res["applied"] == 3

    s1 = set(r["doc_id"] for r in idx.lookup_keys(spark, ["s1"]).collect())
    s2 = set(r["doc_id"] for r in idx.lookup_keys(spark, ["s2"]).collect())
    assert "d0001" not in s1 and "d0001" in s2  # old value left, new arrived
    assert "d0002" not in s1 | s2  # deleted key gone from the index
    assert "d9999" in s1
    assert s1 == set(expected(spark, base, ["s1"]))
    assert s2 == set(expected(spark, base, ["s2"]))


def test_refresh_is_exactly_once_and_cronnable(spark, tmp_path, base):
    idx = SecondaryIndex.create(spark, base, str(tmp_path / "idx"), "source")
    v = idx.index.version
    res = idx.refresh(spark)  # no base change -> fenced no-op
    assert res["skipped"]
    assert idx.index.refresh().version == v

    # reopened handle refreshes the same way (cron shape)
    idx2 = open_index(str(tmp_path / "idx"))
    assert idx2.refresh(spark)["skipped"]
    assert idx2.column == "source" and idx2.base_root == base.root


def test_point_read_refresh_interleaves_with_feed_refresh(spark, tmp_path, base):
    """The two builds of a refresh window share one LWW ordinal domain: the
    LSN feed of an appended merge-on-read epoch and the snapshot diff of a
    copy-on-write epoch.  A diff-built refresh AFTER a feed-built one must
    still win for its keys (and vice versa) — every refresh batch carries
    the key's current value, so 'which refresh saw it last' is the only
    correct order."""
    idx = SecondaryIndex.create(spark, base, str(tmp_path / "idx"), "source")

    # feed refresh for epoch 1
    apply_changes_mor(base, mk_batch(spark, [(1_000, "U", "d0001", [1], 1, "s3")]), epoch=1)
    base.refresh()
    assert not idx.refresh(spark)["skipped"]
    assert "d0001" in {r["doc_id"] for r in idx.lookup_keys(spark, ["s3"]).collect()}

    # snapshot-diff refresh for epoch 2 (a copy-on-write epoch)
    apply_changes(
        base,
        mk_batch(
            spark,
            [(1_100, "U", "d0001", [1], 1, "s4"), (1_101, "D", "d0003", None, None, None)],
        ),
        epoch=2,
    )
    base.refresh()
    res = idx.refresh(spark)
    assert not res["skipped"] and res["applied"] == 2
    hits = {r["doc_id"] for r in idx.lookup_keys(spark, ["s3", "s4"]).collect()}
    assert "d0001" in hits  # moved to s4, still found
    got4 = {r["doc_id"] for r in idx.lookup_keys(spark, ["s4"]).collect()}
    assert "d0001" in got4
    assert "d0003" not in {
        r["doc_id"] for r in idx.lookup_keys(spark, ["s3"]).collect()
    }

    # back to the feed path for epoch 3 — must supersede the diff refresh
    apply_changes_mor(base, mk_batch(spark, [(1_200, "U", "d0001", [1], 1, "s0")]), epoch=3)
    base.refresh()
    assert not idx.refresh(spark)["skipped"]
    assert "d0001" not in {r["doc_id"] for r in idx.lookup_keys(spark, ["s4"]).collect()}
    assert "d0001" in {r["doc_id"] for r in idx.lookup_keys(spark, ["s0"]).collect()}


def test_range_lookup_and_validation(spark, tmp_path, base):
    with pytest.raises(ValueError, match="no such column"):
        SecondaryIndex.create(spark, base, str(tmp_path / "x"), "nope")
    with pytest.raises(ValueError, match="key column"):
        SecondaryIndex.create(spark, base, str(tmp_path / "y"), "doc_id")
    with pytest.raises(ValueError, match="not a secondary index"):
        open_index(base.root)

    idx = SecondaryIndex.create(spark, base, str(tmp_path / "idx"), "n_tok")
    # all rows have n_tok=1
    assert idx.range_keys(spark, 0, 5).count() == 400
    assert idx.range_keys(spark, 2, None).count() == 0
    assert idx.lookup_keys(spark, []).count() == 0


def test_concurrent_commit_shows_after_first_refresh(spark, tmp_path, base):
    """A streaming maintainer's micro-batch A and a concurrent writer's
    batch B both land before the refresh.  The refresh window is the base
    versions, not a caller's key set, so B shows in the index after the
    first refresh (it used to stay stale until a later feed refresh healed
    it), and the index's applied version is the base's."""
    idx = SecondaryIndex.create(spark, base, str(tmp_path / "idx"), "source")
    v0 = idx.applied_version()
    assert v0 == base.version

    # micro-batch A (lsns 1000-1001) AND a concurrent writer's batch B
    # (key d0300, lsn 1100) land before the refresh
    apply_changes(
        base,
        mk_batch(spark, [(1_000, "U", "d0001", [1], 1, "s9"),
                         (1_001, "U", "d0002", [1], 1, "s9")]),
        epoch=1,
    )
    apply_changes(
        base.refresh(),
        mk_batch(spark, [(1_100, "U", "d0300", [1], 1, "s9")]),
        epoch=2,
    )
    base.refresh()
    res = idx.refresh(spark)
    assert not res["skipped"] and res["applied"] == 3
    v1 = idx.applied_version()
    assert v1 == base.version and v1 > v0
    s9 = {r["doc_id"] for r in idx.lookup_keys(spark, ["s9"]).collect()}
    assert s9 == {"d0001", "d0002", "d0300"}

    # a reopened handle continues from the applied version
    apply_changes(
        base.refresh(),
        mk_batch(spark, [(1_200, "U", "d0005", [1], 1, "s8")]),
        epoch=3,
    )
    base.refresh()
    idx2 = open_index(str(tmp_path / "idx"))
    res2 = idx2.refresh(spark)
    assert not res2["skipped"] and res2["applied"] == 1
    assert {"d0001", "d0002", "d0300"} <= {
        r["doc_id"] for r in idx2.lookup_keys(spark, ["s9"]).collect()
    }
    assert "d0005" in {r["doc_id"] for r in idx2.lookup_keys(spark, ["s8"]).collect()}
    assert idx2.applied_version() == base.version


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_refresh_after_rollback_reverts_the_index(spark, tmp_path, mode):
    """A 2-row base; an epoch inserts ``c`` and deletes ``a``, the index
    follows it, then the base rolls back over that epoch.  The next
    refresh must give back the base's rows ``a`` and ``b`` — the
    rolled-back epoch's LSNs are gone from the base, so no LSN feed from
    the old mark can show the reversal."""
    t = IcehouseTable.create(str(tmp_path / "base"), schema=SCHEMA, key_col="doc_id", n_buckets=4)
    apply_changes(t, mk_batch(spark, [
        (1, "U", "a", [1], 1, "s1"), (2, "U", "b", [2], 1, "s1"),
    ]), epoch=0)
    v = t.refresh().version
    idx = SecondaryIndex.create(spark, t, str(tmp_path / "idx"), "source")
    apply = apply_changes_mor if mode == "mor" else apply_changes
    apply(t.refresh(), mk_batch(spark, [
        (10, "U", "c", [3], 1, "s2"), (11, "D", "a", None, None, None),
    ]), epoch=1)
    idx.refresh(spark)
    assert sorted(tuple(r) for r in idx.index.refresh().read(spark).collect()) == [
        ("b", "s1"), ("c", "s2"),
    ]
    t.refresh().rollback(v)
    assert not idx.refresh(spark)["skipped"]
    want = sorted(tuple(r) for r in t.refresh().read(spark).select("doc_id", "source").collect())
    assert want == [("a", "s1"), ("b", "s1")]
    assert sorted(tuple(r) for r in idx.index.refresh().read(spark).collect()) == want
    assert sorted(r["doc_id"] for r in idx.lookup_keys(spark, ["s1"]).collect()) == ["a", "b"]


def test_refresh_after_the_applied_snapshot_expired(spark, tmp_path, base):
    """The index window starts at the base snapshot it last applied.  When
    snapshot retention has expired that snapshot, the refresh takes the
    full pass — exact, in one index commit — and the next window is
    incremental again."""
    idx = SecondaryIndex.create(spark, base, str(tmp_path / "idx"), "source")
    applied = idx.applied_version()
    lsn = 1000
    for ep in range(1, 5):
        lsn += 10
        apply_changes_mor(base.refresh(), mk_batch(spark, [
            (lsn, "U", f"d{ep:04d}", [ep], 2, "s9"),
            (lsn + 1, "D", f"d{ep + 100:04d}", None, None, None),
            (lsn + 2, "U", f"n{ep}", [ep], 3, "s8"),
        ]), epoch=ep)
    base.refresh().expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        IcehouseTable.load(base.root, version=applied)
    v = idx.index.refresh().version
    idx.refresh(spark)
    assert idx.index.refresh().version == v + 1
    assert idx.applied_version() == base.refresh().version

    def rows():
        return sorted(tuple(r) for r in idx.index.refresh().read(spark).collect())

    want = sorted(tuple(r) for r in base.refresh().read(spark).select("doc_id", "source").collect())
    assert rows() == want
    apply_changes_mor(base.refresh(), mk_batch(spark, [
        (2000, "U", "d0003", [3], 1, "s7"), (2001, "D", "n1", None, None, None),
    ]), epoch=9)
    assert idx.refresh(spark)["applied"] == 2
    want = sorted(tuple(r) for r in base.refresh().read(spark).select("doc_id", "source").collect())
    assert rows() == want
