"""The collected per-epoch change set (``cdc/changeset.py``) and the paths
that consume it.

Each consumer's change-set path is checked against the Spark path it
stands in for: emit lines against the snapshot diff, matview rows against
the Spark signed delta, index rows and applied version against the Spark
merge.  Every window the exactness guard must refuse (compaction, a
copy-on-write epoch, vacuum, rollback, rebucket, additive evolution, a late
event) is checked to build its change set from the snapshot diff, and every
consumer to equal a rebuild after it.  The vacuum case also pins the
consumer fix: a tombstone vacuum between two refreshes used to leave the
matview and the index holding the deleted key."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.cdc import changeset
from data_pipeline_spark.cdc import emit as emit_mod
from data_pipeline_spark.cdc.apply import (
    apply_changes,
    apply_changes_mor,
    apply_changes_with_evolution,
)
from data_pipeline_spark.cdc.cdf import snapshot_diff_images
from data_pipeline_spark.cdc.emit import emit_debezium_envelopes, emit_to_files
from data_pipeline_spark.table import matview as mv_mod
from data_pipeline_spark.table.icehouse import DELETED_COL, LSN_COL, IcehouseTable
from data_pipeline_spark.table.index import SecondaryIndex
from data_pipeline_spark.table.matview import create_matview, read_matview, refresh_matview

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
    ]
)
DDL = "lsn long, op string, doc_id string, source string, n_tok int, score double, tags array<string>"


def _table(tmp_path, name="t", n_buckets=4):
    return IcehouseTable.create(
        str(tmp_path / name), SCHEMA, key_col="doc_id", n_buckets=n_buckets
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, DDL)


def _base_rows():
    return [
        (i + 1, "U", k, f"s{i % 3}", i, i + 0.5, [f"t{i % 2}"])
        for i, k in enumerate("abcdefgh")
    ]


def _new_lines(out_dir, seen):
    """Lines of the feed files in ``out_dir`` not in ``seen`` (updated)."""
    lines = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("delta_") and name not in seen:
            seen.add(name)
            with open(os.path.join(out_dir, name)) as fh:
                lines += fh.read().splitlines()
    return sorted(lines)


def _physical(spark, t):
    cols = [*t.schema.fieldNames(), LSN_COL, DELETED_COL]
    return sorted(
        (tuple(r) for r in t.refresh().read(spark, with_meta=True).select(*cols).collect()),
        key=repr,
    )


def _view_rows(spark, view):
    return sorted((tuple(r) for r in read_matview(spark, view.refresh()).collect()), key=repr)


def _recompute(spark, base, group, value, scale):
    return sorted(
        (
            tuple(r)
            for r in base.refresh().read(spark).groupBy(group).agg(
                F.count(F.lit(1)),
                F.count(value),
                F.sum(F.round(F.col(value) * scale).cast("bigint")),
            ).collect()
        ),
        key=repr,
    )


def _index_rows(spark, idx):
    return sorted(tuple(r) for r in idx.index.refresh().read(spark).collect())


def _live(spark, base, col):
    return sorted(tuple(r) for r in base.refresh().read(spark).select("doc_id", col).collect())


def test_emit_change_set_lines_equal_snapshot_diff(spark, tmp_path, monkeypatch):
    """Over two appended epochs — an insert, an update, a no-op update, a
    delete, a delete of a key that never existed, and delete → reinsert
    within an epoch and across the two — the emitter's change-set file
    holds exactly the snapshot diff's envelopes, and builds them without
    the diff."""
    t = _table(tmp_path)
    apply_changes(t, _batch(spark, _base_rows()), epoch=0)
    out, ck = str(tmp_path / "feed"), str(tmp_path / "ck.json")
    emit_to_files(spark, t.root, out, ck)
    seen = set()
    _new_lines(out, seen)
    last = json.load(open(ck))["last_emitted_version"]
    apply_changes_mor(t.refresh(), _batch(spark, [
        (20, "U", "z1", "s9", 1, 1.0, ["n"]),           # insert
        (21, "U", "a", "s0", 50, 2.25, ["t0"]),         # update
        (22, "U", "b", "s1", 1, 1.5, ["t1"]),           # no-op update
        (23, "D", "c", None, None, None, None),         # delete
        (24, "D", "nope", None, None, None, None),      # never existed
        (25, "D", "d", None, None, None, None),         # delete → reinsert
        (26, "U", "d", "s7", 3, 9.0, None),
        (27, "D", "e", None, None, None, None),         # deleted here ...
    ]), epoch=1)
    apply_changes_mor(t.refresh(), _batch(spark, [
        (30, "U", "e", "s1", 4, 4.5, ["t0"]),           # ... reinserted as it was
        (31, "D", "f", None, None, None, None),
        (32, "U", "f", "s2", 5, 5.5, ["t1"]),           # reinserted, same payload
        (33, "U", "g", "s1", 6, None, ["t0", "x"]),     # update to a NULL score
    ]), epoch=2)
    head = t.refresh().version
    assert changeset.is_exact(IcehouseTable.load(t.root, version=last), t)
    want = sorted(r[0] for r in emit_debezium_envelopes(spark, t.root, last, head).collect())
    assert len(want) == 5  # z1 inserted; a, d and g updated; c deleted

    def no_diff(*a, **k):
        raise AssertionError("the change-set window took the snapshot diff")

    monkeypatch.setattr(emit_mod, "emit_debezium_envelopes", no_diff)
    monkeypatch.setattr(emit_mod, "snapshot_diff_images", no_diff)
    monkeypatch.setattr(changeset, "snapshot_diff_images", no_diff)
    res = emit_to_files(spark, t.root, out, ck)
    assert res["emitted_versions"] == (last, head)
    assert res["rows"] == len(want) and res["files"] == 1
    assert _new_lines(out, seen) == want


def _guard_case(spark, t, case):
    """Apply ``case`` to ``t`` (consumers are current at its head); the
    next epoch's LSNs start at 100."""
    more = _batch(spark, [
        (100, "U", "a", "s2", 7, 0.5, ["t1"]),
        (101, "D", "b", None, None, None, None),
        (102, "U", "new", "s0", 1, 2.5, None),
    ])
    if case == "compaction":
        apply_changes_mor(t.refresh(), more, epoch=2)
        t.refresh().compact_partitions(spark, "deltas")
    elif case == "cow_epoch":
        apply_changes(t.refresh(), more, epoch=2)
    elif case == "vacuum":
        apply_changes_mor(t.refresh(), more, epoch=2)
        t.refresh().vacuum_tombstones(spark, 101)
    elif case == "rollback":
        before = t.refresh().version
        apply_changes_mor(t.refresh(), more, epoch=2)
        return before
    elif case == "rebucket":
        apply_changes_mor(t.refresh(), more, epoch=2)
        t.refresh().rebucket(spark, 8)
    elif case == "evolution":
        apply_changes_with_evolution(
            t.refresh(), more.withColumn("lang", F.lit("en")), epoch=2, mode="mor"
        )
    elif case == "late_event":
        # an insert whose LSN sits below the consumers' high-water mark
        apply_changes_mor(t.refresh(), _batch(spark, [
            (100, "U", "a", "s2", 7, 0.5, ["t1"]),
            (3, "U", "late", "s1", 1, 1.0, None),
        ]), epoch=2)
    return None


@pytest.mark.parametrize(
    "case",
    ["compaction", "cow_epoch", "vacuum", "rollback", "rebucket", "evolution", "late_event"],
)
def test_guard_refuses_inexact_windows(spark, tmp_path, monkeypatch, case):
    """A window whose manifests cannot prove the LSN feed exact builds its
    change set from the snapshot diff, once for the three consumers: the
    emitter's lines are that diff's, and the matview and the index end
    equal to a rebuild."""
    t = _table(tmp_path)
    apply_changes(t, _batch(spark, _base_rows()), epoch=0)
    apply_changes_mor(t.refresh(), _batch(spark, [
        (50, "U", "c", "s1", 9, 0.5, None), (51, "D", "h", None, None, None, None),
    ]), epoch=1)
    t = t.refresh()
    view = create_matview(spark, str(tmp_path / "mv"), t, ["source"], "score", scale=2)
    idx = SecondaryIndex.create(spark, t, str(tmp_path / "idx"), "source")
    out, ck = str(tmp_path / "feed"), str(tmp_path / "ck.json")
    emit_to_files(spark, t.root, out, ck)
    seen = set()
    _new_lines(out, seen)
    last = json.load(open(ck))["last_emitted_version"]
    rollback_to = _guard_case(spark, t, case)
    if rollback_to is not None:
        # consumers see the rolled-forward epoch, then the rollback
        refresh_matview(spark, view.refresh())
        emit_to_files(spark, t.root, out, ck)
        _new_lines(out, seen)
        last = json.load(open(ck))["last_emitted_version"]
        t.refresh().rollback(rollback_to)
    t = t.refresh()
    assert not changeset.is_exact(IcehouseTable.load(t.root, version=last), t)
    want = sorted(r[0] for r in emit_debezium_envelopes(spark, t.root, last, t.version).collect())
    assert want, case
    calls = []
    real = changeset.snapshot_diff_images

    def diffed(*a, **k):
        calls.append(a[2:4])
        return real(*a, **k)

    monkeypatch.setattr(changeset, "snapshot_diff_images", diffed)
    emit_to_files(spark, t.root, out, ck)
    assert calls == [(last, t.version)]
    assert _new_lines(out, seen) == want

    refresh_matview(spark, view.refresh())
    assert _view_rows(spark, view) == _recompute(spark, t, "source", "score", 2), case
    idx.refresh(spark)
    assert _index_rows(spark, idx) == _live(spark, t, "source"), case


def test_vacuum_between_refreshes_reaches_lagging_consumers(spark, tmp_path):
    """A matview, an index and an emit checkpoint on a 3-row table; ``b``
    is deleted at LSN 10 and ``c`` updated at LSN 11; the tombstone vacuum
    at 10 runs before any consumer refreshes.  Each consumer must then
    equal a from-scratch rebuild: the deleted key is gone from the view's
    counts, from the index, and the feed carries its delete."""
    t = _table(tmp_path)
    apply_changes(t, _batch(spark, [
        (1, "U", "a", "s1", 1, 1.0, None),
        (2, "U", "b", "s1", 2, 2.0, None),
        (3, "U", "c", "s2", 3, 3.0, None),
    ]), epoch=0)
    t = t.refresh()
    view = create_matview(spark, str(tmp_path / "mv"), t, ["source"], "n_tok", scale=1)
    idx = SecondaryIndex.create(spark, t, str(tmp_path / "idx"), "source")
    out, ck = str(tmp_path / "feed"), str(tmp_path / "ck.json")
    emit_to_files(spark, t.root, out, ck)
    seen = set()
    _new_lines(out, seen)
    apply_changes(t.refresh(), _batch(spark, [
        (10, "D", "b", None, None, None, None),
        (11, "U", "c", "s1", 4, 4.0, None),
    ]), epoch=1)
    t.refresh().vacuum_tombstones(spark, 10)
    t = t.refresh()

    assert refresh_matview(spark, view.refresh()).mode == "incremental"
    assert _view_rows(spark, view) == _recompute(spark, t, "source", "n_tok", 1)
    idx.refresh(spark)
    assert _index_rows(spark, idx) == _live(spark, t, "source") == [("a", "s1"), ("c", "s1")]
    assert sorted(r[0] for r in idx.lookup_keys(spark, ["s1"]).collect()) == ["a", "c"]
    emit_to_files(spark, t.root, out, ck)
    ops = sorted(
        (e["op"], (e["after"] or e["before"])["doc_id"])
        for e in map(json.loads, _new_lines(out, seen))
    )
    assert ops == [("d", "b"), ("u", "c")]
    # caught up: the next small epoch is incremental again
    apply_changes_mor(t.refresh(), _batch(spark, [(20, "U", "d", "s2", 5, 5.0, None)]), epoch=2)
    assert refresh_matview(spark, view.refresh()).mode == "incremental"
    assert _view_rows(spark, view) == _recompute(spark, t, "source", "n_tok", 1)


def test_change_set_matview_rows_equal_spark_delta(spark, tmp_path, monkeypatch):
    """Views refreshed from the change set against the same views forced
    through the Spark signed delta: identical stored rows over half-way
    rounding (scale 1 on x.5 values, both signs), NULL group values and
    NULL measures, an array group column, a multi-measure view, and a
    double group column holding both 0.0 and -0.0 (one group to Spark)."""
    t = _table(tmp_path)
    apply_changes(t, _batch(spark, [
        (1, "U", "a", "s1", 1, 0.5, ["x"]),
        (2, "U", "b", None, 2, -0.5, ["x", "y"]),
        (3, "U", "c", "s2", None, 1.5, None),
        (4, "U", "d", "s1", 4, -2.5, []),
    ]), epoch=0)
    t = t.refresh()
    specs = {
        "single": (["source"], "score"),
        "multi": (["tags"], ["n_tok", "score"]),
        "float_group": (["score"], "n_tok"),
    }
    views = {
        (name, path): create_matview(
            spark, str(tmp_path / f"{name}_{path}"), t, group, value, scale=1
        )
        for name, (group, value) in specs.items()
        for path in ("cs", "spark")
    }
    epochs = [
        [(10, "U", "a", None, 3, 2.5, ["x"]), (11, "D", "b", None, None, None, None),
         (12, "U", "e", "s2", None, -3.5, ["x", "y"]), (13, "U", "c", "s2", 7, None, None)],
        [(20, "U", "b", "s1", 2, 0.5, []), (21, "D", "a", None, None, None, None),
         (22, "U", "f", None, 1, 4.5, None), (23, "U", "g", "s3", 5, 0.0, None),
         (24, "U", "h", "s3", 6, -0.0, None)],
    ]
    for ep, rows in enumerate(epochs, start=1):
        apply_changes_mor(t.refresh(), _batch(spark, rows), epoch=ep)
        for name in specs:
            assert refresh_matview(spark, views[(name, "cs")].refresh()).mode == "incremental"
            with monkeypatch.context() as m:
                m.setattr(mv_mod, "change_set", lambda *a, **k: None)
                refresh_matview(spark, views[(name, "spark")].refresh(), auto_full_ratio=0)
            assert _physical(spark, views[(name, "cs")]) == _physical(
                spark, views[(name, "spark")]
            ), (name, ep)
    assert _view_rows(spark, views[("single", "cs")]) == _recompute(
        spark, t, "source", "score", 1
    )


def test_index_from_change_set_equals_spark_feed_path(spark, tmp_path, monkeypatch):
    """One index refreshes after the matview of each epoch and reads no
    feed (the memoized change set's after side); the other is forced onto
    the Spark path.  Index rows and applied base versions agree."""
    t = _table(tmp_path)
    apply_changes(t, _batch(spark, _base_rows()), epoch=0)
    t = t.refresh()
    view = create_matview(spark, str(tmp_path / "mv"), t, ["source"], "n_tok", scale=1)
    memo = SecondaryIndex.create(spark, t, str(tmp_path / "memo"), "source")
    feed = SecondaryIndex.create(spark, t, str(tmp_path / "feed"), "source")
    epochs = [
        [(10, "U", "a", None, 1, None, None), (11, "D", "b", None, None, None, None),
         (12, "U", "z", "s5", 1, None, None)],
        [(20, "D", "z", None, None, None, None), (21, "U", "z", "s6", 2, None, None),
         (22, "U", "b", "s1", 3, None, None)],
    ]
    for ep, rows in enumerate(epochs, start=1):
        apply_changes_mor(t.refresh(), _batch(spark, rows), epoch=ep)
        refresh_matview(spark, view.refresh())
        reads = []
        real = IcehouseTable.read_changed_since
        with monkeypatch.context() as m:
            m.setattr(
                IcehouseTable, "read_changed_since",
                lambda self, *a, **k: reads.append(1) or real(self, *a, **k),
            )
            memo.refresh(spark)
        assert reads == []
        with monkeypatch.context() as m:
            m.setattr(changeset, "change_set", lambda *a, **k: None)
            feed.refresh(spark)
    assert _index_rows(spark, memo) == _index_rows(spark, feed) == _live(spark, t, "source")
    assert memo.applied_version() == feed.applied_version() == t.refresh().version


def test_snapshot_diff_reads_only_changed_buckets(spark, tmp_path):
    """Equal bucket counts: the diff scans only buckets whose file
    references differ; a rebucket in between reads both whole snapshots."""
    t = _table(tmp_path, n_buckets=8)
    apply_changes(t, _batch(spark, _base_rows()), epoch=0)
    v1 = t.refresh().version
    apply_changes_mor(t.refresh(), _batch(spark, [(10, "U", "a", "s9", 1, None, None)]), epoch=1)
    v2 = t.refresh().version
    touched = [b for b, ds in t.meta["deltas"].items() if ds]
    assert len(touched) == 1
    files = snapshot_diff_images(spark, t.root, v1, v2).inputFiles()
    assert files and all(f"_pw={touched[0]}/" in f for f in files)
    assert [r["doc_id"] for r in snapshot_diff_images(spark, t.root, v1, v2).collect()] == ["a"]
    t.refresh().rebucket(spark, 4)
    v3 = t.refresh().version
    assert snapshot_diff_images(spark, t.root, v2, v3).count() == 0
    assert len(snapshot_diff_images(spark, t.root, v1, v3).collect()) == 1


def test_concurrent_consumers_share_one_window_diff(spark, tmp_path, monkeypatch):
    """Threads reading one inexact window at once (more threads than
    cores, a short switch interval) get one persisted diff between them,
    and a change set equal to the diff's rows."""
    import sys
    import threading

    t = _table(tmp_path)
    apply_changes(t, _batch(spark, _base_rows()), epoch=0)
    prior = IcehouseTable.load(t.root)
    apply_changes(t.refresh(), _batch(spark, [
        (20, "U", "a", "s9", 1, 1.0, None), (21, "D", "b", None, None, None, None),
    ]), epoch=1)
    head = IcehouseTable.load(t.root)
    assert not changeset.is_exact(prior, head)
    calls = []
    real = changeset.snapshot_diff_images
    monkeypatch.setattr(
        changeset, "snapshot_diff_images", lambda *a, **k: calls.append(a[2:4]) or real(*a, **k)
    )
    changeset._memo.clear()
    got, errors = [], []

    def read():
        try:
            got.append((changeset.window_diff(spark, prior, head),
                        changeset.change_set(spark, prior, head)))
        except Exception as e:  # surfaced below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        workers = [threading.Thread(target=read) for _ in range(3 * (os.cpu_count() or 2))]
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(w.is_alive() for w in workers)
    assert errors == [] and len(got) == len(workers)
    diffs = {id(d) for d, _ in got}
    assert len(diffs) == 1 and got[0][0].is_cached
    want = sorted((r["doc_id"], r["op"]) for r in got[0][0].collect())
    assert want == [("a", "U"), ("b", "D")]
    for _, cs in got:
        assert sorted((r["doc_id"], r[DELETED_COL]) for r in cs.after) == [("a", False), ("b", True)]
    assert set(calls) == {(prior.version, head.version)}
