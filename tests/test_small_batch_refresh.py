"""Small-batch consumer paths: a change set of at most ``SMALL_BATCH_ROWS``
rows is collected once and the matview / secondary-index refresh commits
from the driver.  Every driver-side shortcut here is checked against the
Spark path it replaces (same table state, same watermark, same stats), and
the Spark-job budget of each small refresh is pinned so added jobs show up
as a test failure."""

import datetime
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.cdc import apply as apply_mod
from data_pipeline_spark.cdc.apply import (
    apply_changes,
    apply_changes_mor,
    batch_part_stats,
    local_part_stats,
)
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
    merge of a collected delta (view buckets over the cap), of a
    caller-supplied key set, and of the heavy path.  Their stored rows and
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
        for path in ("fast", "keyed", "over_cap", "spark")
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
        batch = spark.createDataFrame(rows, DDL)
        apply_changes(base.refresh(), batch, epoch=ep)
        for views in (single, multi):
            assert refresh_matview(spark, views["fast"].refresh()).mode == "incremental"
            with monkeypatch.context() as m:
                m.setattr(mv_mod, "SMALL_BATCH_ROWS", 0)
                refresh_matview(spark, views["spark"].refresh(), auto_full_ratio=0)
        refresh_matview(spark, multi["keyed"].refresh(), changed_keys=batch.select("doc_id"))
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
    SMALL_BATCH_ROWS rows (the Spark path).  Index rows and the stored
    watermark must agree."""
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
    wm = lambda idx: idx.index.refresh().meta["properties"]["index.lsn-watermark"]  # noqa: E731
    assert wm(small) == wm(big) == str(lsn)


def test_index_driver_commit_matches_spark_merge(spark, tmp_path, monkeypatch):
    """Two indexes follow one base: one commits each small refresh from the
    driver (``apply_changes_local``), the other is forced through the
    Spark ``apply_changes`` merge.  After a NULL indexed value, a
    delete→reinsert, a commit that loses a race and rebuilds, and a
    >1000-row catch-up (Spark path for both), their stored rows, lineage
    and watermarks are identical."""
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
    wm = lambda idx: idx.index.refresh().meta["properties"]["index.lsn-watermark"]  # noqa: E731
    assert wm(driver) == wm(merge) == "2099"


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
    """A MOR base (the per-epoch poll shape) with a matview and an index
    current at its base load, then one ≤1000-row epoch appended.  Shared:
    each budget test refreshes a different consumer of it."""
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
    rows = [
        (5000 + i, "D" if i % 11 == 0 else "U", f"k{(i * 3) % 2500:05d}", f"s{i % 7}", i % 40, None)
        for i in range(800)
    ]
    apply_changes_mor(base, spark.createDataFrame(rows, DDL), epoch=1)
    return base.refresh(), view, idx


# Spark jobs of one ≤1000-row refresh on the fixture above, as measured
# (local[4], AQE on: every shuffle stage of a plan runs as its own job).
# Before the driver-side paths the same refreshes ran 24 and 14 jobs; the
# index ran 10 while its small batch still went through apply_changes.
MATVIEW_SMALL_REFRESH_JOBS = 8
INDEX_SMALL_REFRESH_JOBS = 6


def test_small_matview_refresh_job_budget(spark, mor_epoch):
    base, view, _ = mor_epoch
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
    base, _, idx = mor_epoch
    n = _jobs(spark, "idx-budget", lambda: idx.refresh(spark))
    assert n <= INDEX_SMALL_REFRESH_JOBS, f"small index refresh ran {n} Spark jobs"
    got = sorted(tuple(r) for r in idx.index.refresh().read(spark).collect())
    want = sorted(tuple(r) for r in base.read(spark).select("doc_id", "source").collect())
    assert got == want
