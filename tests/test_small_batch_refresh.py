"""Small-batch consumer paths: a change set of at most ``SMALL_BATCH_ROWS``
rows is collected once (``cdc/changeset.py``), the matview / secondary-index
refresh commits from the driver, and emit writes its envelopes from the
driver.  Every driver-side shortcut here is checked against the
Spark path it replaces (same table state, same watermark, same stats), and
the Spark-job budget of each small refresh is pinned so added jobs show up
as a test failure."""

import datetime
import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.cdc import apply as apply_mod
from data_pipeline_spark.cdc import changeset
from data_pipeline_spark.cdc.apply import (
    apply_changes,
    apply_changes_local,
    apply_changes_mor,
    batch_part_stats,
    local_part_stats,
)
from data_pipeline_spark.cdc.driver_rows import collectable
from data_pipeline_spark.cdc.emit import emit_to_files
from data_pipeline_spark.table import matview as mv_mod
from data_pipeline_spark.table.icehouse import (
    DELETED_COL,
    LSN_COL,
    IcehouseTable,
)
from data_pipeline_spark.table.index import SecondaryIndex
from data_pipeline_spark.table.matview import (
    create_matview,
    read_matview,
    refresh_matview,
)

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("score", T.DoubleType(), True),
    ]
)
DDL = "lsn long, op string, doc_id string, source string, n_tok int, score double"


def _table(n_buckets=4, **props):
    root = tempfile.mkdtemp(prefix="sbr_")
    return IcehouseTable.create(
        f"{root}/t", SCHEMA, key_col="doc_id", n_buckets=n_buckets, properties=props
    )


def _view(spark, base, value_col="n_tok"):
    root = tempfile.mkdtemp(prefix="sbr_mv_")
    return create_matview(spark, f"{root}/v", base, ["source"], value_col, scale=4)


def _physical(spark, t):
    """Every stored row of ``t`` (tombstones and _lsn included)."""
    cols = [*t.schema.fieldNames(), LSN_COL, DELETED_COL]
    return sorted(
        (tuple(r) for r in t.refresh().read(spark, with_meta=True).select(*cols).collect()),
        key=repr,
    )


def _recompute(spark, base):
    return sorted(
        (
            tuple(r)
            for r in base.refresh()
            .read(spark)
            .groupBy("source")
            .agg(F.count(F.lit(1)), F.count("n_tok"), F.sum("n_tok"))
            .collect()
        ),
        key=repr,
    )


def _lineage(spark, t):
    return sorted(
        (
            (r["epoch"], r["partition"], r["rows_after"], r.get("lsn_min"), r.get("lsn_max"),
             r.get("rows_upserted"), r.get("rows_deleted"))
            for r in t.refresh().meta["lineage"]
        ),
        key=repr,
    )


def test_driver_view_merge_matches_spark_merge(spark, monkeypatch):
    """Views of one base, each refreshed through a different merge: the
    driver rewrite of small view buckets, the Spark ``_apply_view_delta``
    merge of a collected delta (view buckets over the cap), and of the
    heavy path (the window's snapshot diff).  Their stored rows and
    lineage must be identical after a group retracts to 0, a tombstoned
    group reappears, and a NULL group value comes and goes — for a single-
    and a multi-measure view."""
    base = _table()
    apply_changes(
        base,
        spark.createDataFrame(
            [
                (1, "U", "a", "s1", 1, 0.5),
                (2, "U", "b", "s1", 2, None),
                (3, "U", "c", None, 3, 1.25),
                (4, "U", "d", "s2", 4, 2.0),
            ],
            DDL,
        ),
        epoch=0,
    )
    single = {"fast": _view(spark, base.refresh()), "spark": _view(spark, base.refresh())}
    multi = {
        path: _view(spark, base.refresh(), ["n_tok", "score"])
        for path in ("fast", "over_cap", "spark")
    }
    epochs = [
        # d's group s2 retracts to 0 (tombstone); b joins the NULL group
        [(5, "D", "d", None, None, None), (6, "U", "a", "s1", 10, 0.75),
         (7, "U", "b", None, 2, None)],
        # s2 reappears over its tombstone; the NULL group retracts to 0
        [(8, "U", "e", "s2", 6, 3.5), (9, "D", "c", None, None, None),
         (10, "U", "b", "s1", 2, 1.0)],
    ]
    for ep, rows in enumerate(epochs, start=1):
        apply_changes(base.refresh(), spark.createDataFrame(rows, DDL), epoch=ep)
        for views in (single, multi):
            assert refresh_matview(spark, views["fast"].refresh()).mode == "incremental"
            with monkeypatch.context() as m:
                m.setattr(mv_mod, "change_set", lambda *a, **k: None)
                refresh_matview(spark, views["spark"].refresh(), auto_full_ratio=0)
        with monkeypatch.context() as m:
            m.setattr(apply_mod, "_held_rows", lambda t, bucket: 10**9)
            refresh_matview(spark, multi["over_cap"].refresh())
        for views in (single, multi):
            want = _physical(spark, views["spark"])
            for path, view in views.items():
                assert _physical(spark, view) == want, path
                assert _lineage(spark, view) == _lineage(spark, views["spark"]), path
    # s2's tombstone (epoch 1) was overwritten by its live row (epoch 2),
    # and the NULL group ends as a tombstone
    final = _physical(spark, single["fast"])
    assert any(r[1] == "s2" and not r[-1] for r in final)
    assert any(r[1] is None and r[-1] for r in final)
    got = sorted(
        (tuple(r) for r in read_matview(spark, single["fast"].refresh()).collect()), key=repr
    )
    assert [(s, n, v, t // 4) for s, n, v, t in got] == _recompute(spark, base)


def test_fast_path_retries_a_conflicting_view_commit(spark, monkeypatch):
    """A concurrent commit to the view buckets between the driver's read
    and its commit makes the rewrite rebuild from a fresh read, and the
    result still equals GROUP BY."""
    base = _table()
    apply_changes(
        base, spark.createDataFrame([(1, "U", "a", "s1", 1, None)], DDL), epoch=0
    )
    view = _view(spark, base.refresh())
    apply_changes(
        base.refresh(), spark.createDataFrame([(2, "U", "b", "s1", 2, None)], DDL), epoch=1
    )
    real = IcehouseTable.overwrite_partitions
    calls = {"n": 0}

    def racing(self, df, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            # another writer rewrites every view bucket (unchanged) first
            other = IcehouseTable.load(self.root)
            real(other, other.read(spark, with_part_col=True, with_meta=True))
        return real(self, df, **kw)

    monkeypatch.setattr(IcehouseTable, "overwrite_partitions", racing)
    refresh_matview(spark, view.refresh())
    monkeypatch.undo()
    assert calls["n"] >= 2
    got = sorted(
        (r["source"], r["n_rows"], r["value_sum_scaled"] // 4)
        for r in read_matview(spark, view.refresh()).collect()
    )
    assert got == [("s1", 2, 3)]


def test_collected_index_refresh_matches_spark_path(spark, tmp_path):
    """One index follows the base epoch by epoch (each feed ≤ the cap, so
    the collected path), the other catches up once over more than
    SMALL_BATCH_ROWS rows (the Spark path).  Index rows and the applied
    base version must agree."""
    base = _table(n_buckets=4)
    apply_changes(
        base,
        spark.createDataFrame(
            [(i, "U", f"k{i:05d}", f"s{i % 7}", i, None) for i in range(1500)], DDL
        ),
        epoch=0,
    )
    base = base.refresh()
    small = SecondaryIndex.create(spark, base, str(tmp_path / "small"), "source")
    big = SecondaryIndex.create(spark, base, str(tmp_path / "big"), "source")
    lsn = 10_000
    for ep in (1, 2):
        rows = []
        for i in range(700):
            lsn += 1
            k = f"k{(i * 2 + ep) % 1600:05d}"
            rows.append(
                (lsn, "D", k, None, None, None) if i % 9 == 0
                else (lsn, "U", k, f"s{(i + ep) % 5}", i, None)
            )
        apply_changes_mor(base.refresh(), spark.createDataFrame(rows, DDL), epoch=ep)
        small.refresh(spark)
    assert base.refresh().read_changed_since(spark, 1499).count() > 1000
    big.refresh(spark)

    def rows(idx):
        return sorted(
            tuple(r) for r in idx.index.refresh().read(spark).select("doc_id", "source").collect()
        )

    want = sorted(
        tuple(r) for r in base.refresh().read(spark).select("doc_id", "source").collect()
    )
    assert rows(small) == want
    assert rows(big) == want
    assert small.applied_version() == big.applied_version() == base.refresh().version


def test_index_driver_commit_matches_spark_merge(spark, tmp_path, monkeypatch):
    """Two indexes follow one base: one commits each small refresh from the
    driver (``apply_changes_local``), the other is forced through the
    Spark ``apply_changes`` merge.  After a NULL indexed value, a
    delete→reinsert, a commit that loses a race and rebuilds, and a
    >1000-row catch-up (Spark path for both), their stored rows, lineage
    and applied base versions are identical."""
    base = _table(n_buckets=4)
    apply_changes(
        base,
        spark.createDataFrame(
            [(i, "U", f"k{i:03d}", f"s{i % 5}", i, None) for i in range(60)], DDL
        ),
        epoch=0,
    )
    base = base.refresh()
    driver = SecondaryIndex.create(spark, base, str(tmp_path / "driver"), "source")
    merge = SecondaryIndex.create(spark, base, str(tmp_path / "merge"), "source")
    local_calls = []
    real_local = apply_mod.apply_changes_local

    def counted_local(*a, **kw):
        out = real_local(*a, **kw)
        local_calls.append(out is not None)
        return out

    monkeypatch.setattr(apply_mod, "apply_changes_local", counted_local)

    def refresh_both():
        local_calls.clear()
        driver.refresh(spark)
        took_driver = list(local_calls)
        with monkeypatch.context() as m:
            m.setattr(apply_mod, "_held_rows", lambda t, bucket: 10**9)
            merge.refresh(spark)
        return took_driver

    epochs = [
        # a NULL indexed value, a delete, an update
        [(100, "U", "k001", None, 1, None), (101, "D", "k002", None, None, None),
         (102, "U", "k003", "s9", 3, None)],
        # delete→reinsert within one epoch and across epochs
        [(110, "D", "k004", None, None, None), (111, "U", "k004", "s7", 4, None),
         (112, "U", "k002", "s8", 2, None), (113, "D", "k001", None, None, None)],
    ]
    for ep, rows in enumerate(epochs, start=1):
        apply_changes_mor(base.refresh(), spark.createDataFrame(rows, DDL), epoch=ep)
        assert refresh_both() == [True]

    # a commit that loses a race: another writer rewrites the index
    # buckets first, so each path rebuilds from a fresh read
    real_overwrite = IcehouseTable.overwrite_partitions
    raced = set()

    def racing(self, df, **kw):
        if self.root not in raced and kw.get("read_version") is not None:
            raced.add(self.root)
            other = IcehouseTable.load(self.root)
            real_overwrite(other, other.read(spark, with_part_col=True, with_meta=True))
        return real_overwrite(self, df, **kw)

    apply_changes_mor(
        base.refresh(),
        spark.createDataFrame([(120, "U", "k005", "s6", 5, None), (121, "U", "k001", "s1", 1, None)], DDL),
        epoch=3,
    )
    with monkeypatch.context() as m:
        m.setattr(IcehouseTable, "overwrite_partitions", racing)
        assert refresh_both() == [True]
    assert raced == {driver.index.root, merge.index.root}

    # a catch-up past SMALL_BATCH_ROWS stays on the Spark merge
    apply_changes_mor(
        base.refresh(),
        spark.createDataFrame(
            [(1000 + i, "U", f"n{i:04d}", None if i % 50 == 0 else f"s{i % 4}", i, None)
             for i in range(1100)],
            DDL,
        ),
        epoch=4,
    )
    assert refresh_both() == []

    want = sorted(
        tuple(r) for r in base.refresh().read(spark).select("doc_id", "source").collect()
    )
    for idx in (driver, merge):
        assert sorted(tuple(r) for r in idx.index.refresh().read(spark).collect()) == want
    assert _physical(spark, driver.index) == _physical(spark, merge.index)
    assert _lineage(spark, driver.index) == _lineage(spark, merge.index)
    assert driver.applied_version() == merge.applied_version() == base.refresh().version


INDEX_SHAPED = T.StructType(
    [T.StructField("doc_id", T.StringType(), False), T.StructField("source", T.StringType(), True)]
)
# a batch over every bucket: updates, deletes, NULL values and 10 new keys
LOCAL_BATCH = [
    (1000 + i, "D" if i % 9 == 0 else "U", f"k{(i * 7) % 330:03d}",
     None if i % 13 == 0 else f"s{i % 4}")
    for i in range(120)
]


def _index_shaped(spark, root, **props):
    """An index-shaped table (value-sorted, value stats, small files) of
    300 live rows over 4 buckets."""
    t = IcehouseTable.create(
        root, INDEX_SHAPED, key_col="doc_id", n_buckets=4,
        properties={"write.sort-order": "source", "write.stats-columns": "source",
                    "write.max-file-rows": 40, **props},
    )
    apply_changes(
        t,
        spark.createDataFrame(
            [(i, "U", f"k{i:03d}", None if i % 17 == 0 else f"s{i % 6}") for i in range(300)],
            "lsn long, op string, doc_id string, source string",
        ),
        epoch=0,
    )
    return t.refresh()


def _local_commit(spark, t, monkeypatch, name):
    """Commit LOCAL_BATCH through ``apply_changes_local``; returns the
    Spark jobs of its write (``overwrite_partitions``)."""
    real = IcehouseTable.overwrite_partitions
    jobs = []

    def counted(self, df, **kw):
        out = []
        jobs.append(_jobs(spark, name, lambda: out.append(real(self, df, **kw))))
        return out[0]

    with monkeypatch.context() as m:
        m.setattr(IcehouseTable, "overwrite_partitions", counted)
        stats = apply_changes_local(
            spark, t, [r[2] for r in LOCAL_BATCH], lambda _current: LOCAL_BATCH, epoch=1
        )
    assert stats is not None and len(jobs) == 1
    return jobs[0]


def _bucket_files(t):
    """Per bucket of ``t``'s head: each data file's rows in file order, and
    the manifest's per-file stats without the file names."""
    import pyarrow.parquet as pq

    out = {}
    for b, entry in t.refresh().meta["partitions"].items():
        paths = sorted(glob.glob(os.path.join(t.root, entry["path"], "*.parquet")))
        files = sorted(entry.get("files", []), key=lambda f: f["name"])
        out[b] = (
            [pq.ParquetFile(path).read().to_pylist() for path in paths],
            [{k: v for k, v in f.items() if k != "name"} for f in files],
        )
    return out


def test_driver_commit_layout_matches_shuffled_layout(spark, tmp_path, monkeypatch):
    """A driver-held commit is one write job laid out in one sorted task;
    its files equal the shuffled layout's of the same rows: files per
    bucket (``write.max-file-rows`` splits buckets), rows and their order
    in each file, per-file manifest stats and lineage."""
    one = _index_shaped(spark, str(tmp_path / "one"))
    shuffled = _index_shaped(spark, str(tmp_path / "shuffled"))
    assert _local_commit(spark, one, monkeypatch, "layout-one") == 1
    monkeypatch.setattr(apply_mod, "SINGLE_TASK_ROWS", -1)
    assert _local_commit(spark, shuffled, monkeypatch, "layout-shuffled") == 2
    got, want = _bucket_files(one), _bucket_files(shuffled)
    assert got == want
    assert sorted(got) == ["0", "1", "2", "3"]
    assert all(len(files) > 1 and stats for files, stats in got.values())
    assert _lineage(spark, one) == _lineage(spark, shuffled)
    assert _physical(spark, one) == _physical(spark, shuffled)


def test_driver_commit_above_the_single_task_bound_is_shuffled(spark, tmp_path, monkeypatch):
    """``apply_changes_local`` lays a rewrite of at most ``SINGLE_TASK_ROWS``
    rows out in one task (one write job); one row more takes the shuffled
    layout (two jobs)."""
    rewrite = len({f"k{i:03d}" for i in range(300)} | {r[2] for r in LOCAL_BATCH})
    for bound, jobs in ((rewrite, 1), (rewrite - 1, 2)):
        t = _index_shaped(spark, str(tmp_path / f"t{bound}"))
        monkeypatch.setattr(apply_mod, "SINGLE_TASK_ROWS", bound)
        assert _local_commit(spark, t, monkeypatch, f"bound-{bound}") == jobs
        assert sum(e["rows"] for e in t.refresh().meta["partitions"].values()) == rewrite


def test_driver_commit_keeps_the_fanout_layout(spark, tmp_path, monkeypatch):
    """A ``write.fanout=2`` table committed from the driver keeps the
    shuffled fanout layout: the same files as the shuffled write of the
    same rows, each bucket split in two — one file per write task its two
    sub-splits hash to (Spark's hash partitioning of ``(_part, _sub)``)."""
    props = {"write.fanout": 2, "write.max-file-rows": 1_000_000}
    fan = _index_shaped(spark, str(tmp_path / "fan"), **props)
    shuffled = _index_shaped(spark, str(tmp_path / "shuffled"), **props)
    assert _local_commit(spark, fan, monkeypatch, "fanout") == 2
    monkeypatch.setattr(apply_mod, "SINGLE_TASK_ROWS", -1)
    _local_commit(spark, shuffled, monkeypatch, "fanout-shuffled")
    got = _bucket_files(fan)
    assert got == _bucket_files(shuffled)
    tasks = {
        str(r["_part"]): r["n"]
        for r in fan.read(spark, with_part_col=True, with_meta=True)
        .selectExpr(
            "_part",
            "pmod(hash(_part, CAST(pmod(xxhash64(doc_id, 'write.fanout'), 2) AS INT)), 8) AS task",
        )
        .groupBy("_part")
        .agg(F.countDistinct("task").alias("n"))
        .collect()
    }
    assert {b: len(files) for b, (files, _) in got.items()} == tasks
    assert sum(tasks.values()) > len(tasks)


def test_rows_that_cannot_round_trip_the_driver_take_the_spark_merge(spark, tmp_path):
    """A table whose rows a local relation cannot carry — a local-time
    timestamp, or a type with no Arrow form (variant, year-month interval) —
    is refused by ``apply_changes_local`` before it reads anything, and its
    caller's Spark merge lands the commit: an index on a timestamp column
    still equals the base after a refresh."""
    for dt in (T.VariantType(), T.YearMonthIntervalType()):
        schema = T.StructType([*INDEX_SHAPED.fields, T.StructField("v", dt)])
        assert not collectable(schema)
        t = IcehouseTable.create(str(tmp_path / dt.typeName()), schema, key_col="doc_id")
        assert apply_changes_local(spark, t, ["k1"], lambda _current: pytest.fail("read")) is None
    base = IcehouseTable.create(
        str(tmp_path / "base"),
        T.StructType([*INDEX_SHAPED.fields, T.StructField("at", T.TimestampType())]),
        key_col="doc_id", n_buckets=4,
    )
    ddl = "lsn long, op string, doc_id string, source string, at timestamp"
    apply_changes(
        base,
        spark.createDataFrame(
            [(i, "U", f"k{i}", "s", datetime.datetime(2024, 1, 1, i % 24)) for i in range(40)], ddl
        ),
        epoch=0,
    )
    idx = SecondaryIndex.create(spark, base.refresh(), str(tmp_path / "idx"), "at")
    apply_changes_mor(
        base.refresh(),
        spark.createDataFrame(
            [(100, "U", "k1", "s", datetime.datetime(2025, 3, 30, 2, 30)),
             (101, "D", "k2", None, None), (102, "U", "k50", "s", None)],
            ddl,
        ),
        epoch=1,
    )
    assert idx.refresh(spark)["applied"] == 3
    got = sorted(tuple(r) for r in idx.index.refresh().read(spark).collect())
    want = sorted(tuple(r) for r in base.refresh().read(spark).select("doc_id", "at").collect())
    assert got == want
    assert idx.applied_version() == base.refresh().version


@pytest.mark.parametrize("key_type", ["string", "bigint", "int"])
def test_local_part_stats_matches_batch_part_stats(spark, key_type):
    schema = T.StructType(
        [
            T.StructField("k", T.StringType() if key_type == "string" else
                          (T.LongType() if key_type == "bigint" else T.IntegerType()), False),
            T.StructField("v", T.IntegerType(), True),
        ]
    )
    t = IcehouseTable.create(
        tempfile.mkdtemp(prefix="sbr_lps_") + "/t", schema, key_col="k", n_buckets=7
    )
    rows = [
        (lsn, "D" if lsn % 4 == 0 else "U", f"key-{lsn % 37}" if key_type == "string" else lsn % 37 - 5)
        for lsn in range(1, 300)
    ]
    df = spark.createDataFrame(
        [(lsn, op, k, 1) for lsn, op, k in rows], f"lsn long, op string, k {key_type}, v int"
    )
    assert local_part_stats(t, rows) == batch_part_stats(t, df)
    assert local_part_stats(t, []) == batch_part_stats(t, df.limit(0)) == {}


def test_local_part_stats_defers_unsupported_keys():
    schema = T.StructType([T.StructField("k", T.DateType(), False)])
    t = IcehouseTable.create(tempfile.mkdtemp(prefix="sbr_lps_") + "/t", schema, key_col="k")
    assert local_part_stats(t, [(1, "U", datetime.date(2024, 1, 1))]) is None
    s = IcehouseTable.create(tempfile.mkdtemp(prefix="sbr_lps_") + "/t", SCHEMA, key_col="doc_id")
    assert local_part_stats(s, [(1, "U", None)]) is None


TRICKY_KEYS = [
    "plain",
    "it's",
    "back\\slash",
    "trail\\",
    "\\'",
    "tick`key",
    "naïve-日本-😀",
    "line\nbreak",
    "quote''twice",
    "${x}",
    "a${env:HOME}b",
    "${spark.app.name}",
    "dollar$",
]


def test_literal_in_matches_isin_for_tricky_keys(spark):
    base = _table(n_buckets=3, **{"write.bloom.columns": "doc_id"})
    keys = TRICKY_KEYS + [f"other{i}" for i in range(20)]
    apply_changes(
        base,
        spark.createDataFrame([(i, "U", k, "s", i, None) for i, k in enumerate(keys)], DDL),
        epoch=0,
    )
    base = base.refresh()
    # keys without "$" take the literal SQL IN; a "$" key (the SQL parser
    # substitutes ${...} inside string literals) sends its probe to isin
    plain = [k for k in TRICKY_KEYS if "$" not in k]
    for probe in (plain + ["missing'", "missing\\"], TRICKY_KEYS + ["${missing}"]):
        got = base.read_for_keys(spark, probe)
        want = base.read(spark).where(F.col("doc_id").isin(probe))
        assert sorted(tuple(r) for r in got.collect()) == sorted(
            tuple(r) for r in want.collect()
        )
        assert sorted(r["doc_id"] for r in got.collect()) == sorted(
            k for k in probe if k in TRICKY_KEYS
        )
        # still an exact membership filter pushed into the parquet scan
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "In(doc_id," in plan


def _jobs(spark, name, fn):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(name))


@pytest.fixture(scope="module")
def mor_epoch(spark, tmp_path_factory):
    """A MOR base (the per-epoch poll shape) with a matview, an index and
    an emit checkpoint current at its base load, then one ≤1000-row epoch
    appended.  Shared: each budget test refreshes a different consumer of
    it."""
    tmp_path = tmp_path_factory.mktemp("sbr_budget")
    base = IcehouseTable.create(
        str(tmp_path / "base"), SCHEMA, key_col="doc_id", n_buckets=8,
        properties={"write.bloom.columns": "doc_id"},
    )
    apply_changes(
        base,
        spark.createDataFrame(
            [(i, "U", f"k{i:05d}", f"s{i % 9}", i % 50, None) for i in range(2000)], DDL
        ),
        epoch=0,
    )
    base = base.refresh()
    view = create_matview(spark, str(tmp_path / "mv"), base, ["source"], "n_tok", scale=1)
    idx = SecondaryIndex.create(spark, base, str(tmp_path / "idx"), "source")
    emit = (str(tmp_path / "feed"), str(tmp_path / "emit_ck.json"))
    emit_to_files(spark, base.root, *emit)
    rows = [
        (5000 + i, "D" if i % 11 == 0 else "U", f"k{(i * 3) % 2500:05d}", f"s{i % 7}", i % 40, None)
        for i in range(800)
    ]
    apply_changes_mor(base.refresh(), spark.createDataFrame(rows, DDL), epoch=1)
    return base.refresh(), view, idx, emit


# Spark jobs of one ≤1000-row refresh on the fixture above with no change
# set in memo, as measured (local[4], AQE on: every shuffle stage of a plan
# runs as its own job).  Before the driver-side paths the matview and index
# refreshes ran 24 and 14 jobs; before the shared change set they ran 8 and
# 6, and emit ran 6 (a two-snapshot diff, a text write and a line count);
# before the driver-held commit wrote in one task (a shuffled write is two
# jobs) they ran 6 and 5.
MATVIEW_SMALL_REFRESH_JOBS = 5
INDEX_SMALL_REFRESH_JOBS = 4
EMIT_SMALL_JOBS = 3
# matview, index and emit of one epoch in a row: the index and emit reuse
# the matview's change set, so they run only their own commits (6 + 2 + 0
# on a second appended epoch; 7 + 3 + 0 with a shuffled commit write, 8 + 6
# + 6 before the shared change set)
CONSUMER_TRIO_JOBS = 8


def test_small_matview_refresh_job_budget(spark, mor_epoch):
    base, view, _, _ = mor_epoch
    changeset._memo.clear()
    n = _jobs(spark, "mv-budget", lambda: refresh_matview(spark, view.refresh()))
    assert n <= MATVIEW_SMALL_REFRESH_JOBS, f"small matview refresh ran {n} Spark jobs"
    got = sorted(
        (r["source"], r["n_rows"], r["value_sum_scaled"])
        for r in read_matview(spark, view.refresh()).collect()
    )
    want = sorted(
        (r["source"], r["n"], r["s"])
        for r in base.read(spark).groupBy("source").agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("s")
        ).collect()
    )
    assert got == want


def test_small_index_refresh_job_budget(spark, mor_epoch):
    base, _, idx, _ = mor_epoch
    changeset._memo.clear()
    n = _jobs(spark, "idx-budget", lambda: idx.refresh(spark))
    assert n <= INDEX_SMALL_REFRESH_JOBS, f"small index refresh ran {n} Spark jobs"
    got = sorted(tuple(r) for r in idx.index.refresh().read(spark).collect())
    want = sorted(tuple(r) for r in base.read(spark).select("doc_id", "source").collect())
    assert got == want


def test_small_emit_job_budget(spark, mor_epoch):
    base, _, _, (out_dir, ck) = mor_epoch
    changeset._memo.clear()
    out = {}
    n = _jobs(spark, "emit-budget", lambda: out.update(emit_to_files(spark, base.root, out_dir, ck)))
    assert n <= EMIT_SMALL_JOBS, f"small emit ran {n} Spark jobs"
    assert out["files"] == 1 and out["rows"] > 0


def test_consumer_trio_shares_one_change_set(spark, mor_epoch, monkeypatch):
    """Matview, index and emit of one new epoch, in that order: the index
    and emit refreshes run no feed or point read (the matview's change set
    serves them), and the three together stay within the trio budget."""
    base, view, idx, (out_dir, ck) = mor_epoch
    # bring every consumer to the head, whichever budget tests ran
    refresh_matview(spark, view.refresh())
    idx.refresh(spark)
    emit_to_files(spark, base.root, out_dir, ck)
    rows = [
        (9000 + i, "D" if i % 13 == 0 else "U", f"k{(i * 7) % 2600:05d}", f"s{i % 5}", i % 30, None)
        for i in range(600)
    ]
    apply_changes_mor(base.refresh(), spark.createDataFrame(rows, DDL), epoch=2)
    changeset._memo.clear()
    n_mv = _jobs(spark, "trio-mv", lambda: refresh_matview(spark, view.refresh()))
    reads = []
    for name in ("read_changed_since", "read_for_keys"):
        real = getattr(IcehouseTable, name)
        monkeypatch.setattr(
            IcehouseTable, name,
            lambda self, *a, _real=real, _name=name, **k: (
                reads.append((_name, self.root)) or _real(self, *a, **k)
            ),
        )
    n_idx = _jobs(spark, "trio-idx", lambda: idx.refresh(spark))
    out = {}
    n_emit = _jobs(
        spark, "trio-emit", lambda: out.update(emit_to_files(spark, base.root, out_dir, ck))
    )
    monkeypatch.undo()
    assert [r for r in reads if r[1] == base.root] == []
    assert n_mv + n_idx + n_emit <= CONSUMER_TRIO_JOBS, (n_mv, n_idx, n_emit)
    assert out["rows"] > 0
    got = sorted(tuple(r) for r in idx.index.refresh().read(spark).collect())
    want = sorted(tuple(r) for r in base.refresh().read(spark).select("doc_id", "source").collect())
    assert got == want


# Spark jobs of the matview, index and emit of one window the LSN feed
# cannot serve, on the fixture of the test below, as measured (4 + 0 + 0
# and 7 + 2 + 0; 8 + 3 + 0 with a shuffled commit write): the window's
# changed-bucket snapshot diff is collected once, by the first consumer
# (the matview), and the index and emit reuse it.  Both windows scan more
# rows than the cap, so the diff is persisted before its capped collect
# (one job more than a plain collect) to serve every consumer if it comes
# back over the cap.  An empty window (the compaction) commits no data
# anywhere.
DIFF_TRIO_JOBS = {"compaction": 4, "cow_epoch": 9}


@pytest.mark.parametrize("window", ["compaction", "cow_epoch"])
def test_diff_window_trio_shares_one_snapshot_diff(spark, tmp_path, monkeypatch, window):
    """A compaction that changes no row, or a copy-on-write epoch, between
    two refreshes: the matview, index and emit of that window build its
    change set from one snapshot diff (the memo), stay within the pinned
    job budget, and each equals a rebuild."""
    base = IcehouseTable.create(
        str(tmp_path / "base"), SCHEMA, key_col="doc_id", n_buckets=8,
        properties={"write.bloom.columns": "doc_id"},
    )
    apply_changes(
        base,
        spark.createDataFrame(
            [(i, "U", f"k{i:05d}", f"s{i % 9}", i % 50, None) for i in range(2000)], DDL
        ),
        epoch=0,
    )
    apply_changes_mor(
        base.refresh(),
        spark.createDataFrame(
            [(3000 + i, "U", f"k{(i * 5) % 2400:05d}", f"s{i % 4}", i % 30, None)
             for i in range(300)],
            DDL,
        ),
        epoch=1,
    )
    base = base.refresh()
    view = create_matview(spark, str(tmp_path / "mv"), base, ["source"], "n_tok", scale=1)
    idx = SecondaryIndex.create(spark, base, str(tmp_path / "idx"), "source")
    out_dir, ck = str(tmp_path / "feed"), str(tmp_path / "emit_ck.json")
    emit_to_files(spark, base.root, out_dir, ck)
    if window == "compaction":
        base.refresh().compact_partitions(spark, "deltas")
    else:
        apply_changes(
            base.refresh(),
            spark.createDataFrame(
                [(5000 + i, "D" if i % 11 == 0 else "U", f"k{(i * 7) % 2600:05d}",
                  f"s{i % 6}", i % 40, None) for i in range(400)],
                DDL,
            ),
            epoch=2,
        )
    base = base.refresh()
    prior = IcehouseTable.load(base.root, version=idx.applied_version())
    assert not changeset.is_exact(prior, base)
    calls = []
    real = changeset.snapshot_diff_images
    monkeypatch.setattr(
        changeset, "snapshot_diff_images", lambda *a, **k: calls.append(a[2:4]) or real(*a, **k)
    )
    changeset._memo.clear()
    out = {}
    n = [
        _jobs(spark, f"diff-{window}-mv", lambda: refresh_matview(spark, view.refresh())),
        _jobs(spark, f"diff-{window}-idx", lambda: idx.refresh(spark)),
        _jobs(spark, f"diff-{window}-emit",
              lambda: out.update(emit_to_files(spark, base.root, out_dir, ck))),
    ]
    assert len(calls) == 1, calls
    assert sum(n) <= DIFF_TRIO_JOBS[window], n
    assert (out["rows"] > 0) == (window == "cow_epoch")
    assert sorted(
        (r["source"], r["n_rows"], r["value_sum_scaled"])
        for r in read_matview(spark, view.refresh()).collect()
    ) == [(s, n, v) for s, n, _, v in _recompute(spark, base)]
    got = sorted(tuple(r) for r in idx.index.refresh().read(spark).collect())
    assert got == sorted(tuple(r) for r in base.read(spark).select("doc_id", "source").collect())


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_index_refresh_commits_one_version(spark, tmp_path, mode):
    """A refresh that changes the index commits one index version: the
    applied base version is its exactly-once registry entry, written with
    the data, not a second property commit."""
    base = _table()
    apply_changes(
        base,
        spark.createDataFrame([(i, "U", f"k{i}", f"s{i % 3}", i, None) for i in range(20)], DDL),
        epoch=0,
    )
    idx = SecondaryIndex.create(spark, base.refresh(), str(tmp_path / "idx"), "source")
    apply = apply_changes_mor if mode == "mor" else apply_changes
    for ep in (1, 2):
        apply(
            base.refresh(),
            spark.createDataFrame(
                [(100 * ep, "U", "k1", f"s{ep + 5}", 1, None), (100 * ep + 1, "D", f"k{ep + 1}",
                 None, None, None)],
                DDL,
            ),
            epoch=ep,
        )
        v = idx.index.refresh().version
        assert idx.refresh(spark)["applied"] == 2
        assert idx.index.refresh().version == v + 1
        assert idx.applied_version() == base.refresh().version


@pytest.mark.parametrize("window", ["mor_epoch", "cow_epoch"])
def test_over_cap_window_reads_the_feed_or_one_diff(spark, tmp_path, monkeypatch, window):
    """A window of more changed keys than the cap (lowered here to 50)
    reaches the consumers as Spark frames.  An exact MOR epoch is read from
    the LSN feed: the matview and the index build no snapshot diff, and
    emit builds its own.  An inexact copy-on-write epoch is one persisted
    snapshot diff, shared by the capped collect, the matview, the index and
    emit.  Each consumer equals a rebuild."""
    monkeypatch.setattr(changeset, "SMALL_BATCH_ROWS", 50)
    base = IcehouseTable.create(str(tmp_path / "base"), SCHEMA, key_col="doc_id", n_buckets=4)
    apply_changes(
        base,
        spark.createDataFrame(
            [(i, "U", f"k{i:04d}", f"s{i % 9}", i % 50, None) for i in range(1000)], DDL
        ),
        epoch=0,
    )
    base = base.refresh()
    view = create_matview(spark, str(tmp_path / "mv"), base, ["source"], "n_tok", scale=1)
    idx = SecondaryIndex.create(spark, base, str(tmp_path / "idx"), "source")
    out_dir, ck = str(tmp_path / "feed"), str(tmp_path / "emit_ck.json")
    emit_to_files(spark, base.root, out_dir, ck)
    apply = apply_changes_mor if window == "mor_epoch" else apply_changes
    apply(
        base.refresh(),
        spark.createDataFrame(
            [(5000 + i, "D" if i % 11 == 0 else "U", f"k{(i * 7) % 1100:04d}",
              f"s{i % 6}", i % 40, None) for i in range(150)],
            DDL,
        ),
        epoch=1,
    )
    base = base.refresh()
    prior = IcehouseTable.load(base.root, version=idx.applied_version())
    assert changeset.is_exact(prior, base) == (window == "mor_epoch")
    calls = []
    real = changeset.snapshot_diff_images
    monkeypatch.setattr(
        changeset, "snapshot_diff_images", lambda *a, **k: calls.append(a[2:4]) or real(*a, **k)
    )
    changeset._memo.clear()
    assert refresh_matview(spark, view.refresh()).mode == "incremental"
    idx.refresh(spark)
    assert len(calls) == (0 if window == "mor_epoch" else 1), calls
    assert changeset.change_set(spark, prior, base) is None
    res = emit_to_files(spark, base.root, out_dir, ck)
    assert len(calls) == 1, calls
    assert res["rows"] > 50
    assert sorted(
        (r["source"], r["n_rows"], r["value_sum_scaled"])
        for r in read_matview(spark, view.refresh()).collect()
    ) == [(s, n, v) for s, n, _, v in _recompute(spark, base)]
    got = sorted(tuple(r) for r in idx.index.refresh().read(spark).collect())
    assert got == sorted(tuple(r) for r in base.read(spark).select("doc_id", "source").collect())
    # the persisted diff lives until the next window's change set
    diffs = [e["diff"] for e in changeset._memo.values() if "diff" in e]
    assert [d.is_cached for d in diffs] == ([] if window == "mor_epoch" else [True])
    changeset.change_set(spark, base, base)
    assert not any(d.is_cached for d in diffs)
