"""Materialized-view maintenance (table/matview.py): every refreshed state
must equal a from-scratch GROUP BY over the base table's state at that
snapshot — under updates, deletes, group moves, fully-retracted groups,
NULL measures, crash-retried refreshes, no-op refreshes, and base rollback.
"""

import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.cdc.apply import apply_changes, apply_changes_mor
from data_pipeline_spark.table.icehouse import IcehouseTable
from data_pipeline_spark.table.matview import (
    GROUP_KEY_COL,
    create_matview,
    read_matview,
    refresh_matview,
)

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_tok", T.IntegerType(), True),
    ]
)


def _mk_table(n_buckets=4):
    root = tempfile.mkdtemp(prefix="mv_base_")
    return IcehouseTable.create(f"{root}/t", SCHEMA, key_col="doc_id", n_buckets=n_buckets)


def _mk_mv(spark, base, **kw):
    root = tempfile.mkdtemp(prefix="mv_view_")
    return create_matview(spark, f"{root}/v", base, ["source"], "n_tok", scale=1, **kw)


def _changes(spark, rows):
    """rows: (lsn, op, doc_id, source, n_tok)"""
    return spark.createDataFrame(
        rows, "lsn long, op string, doc_id string, source string, n_tok int"
    )


def _recompute(spark, base):
    return (
        base.read(spark)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("n_tok").alias("n_vals"),
            F.sum(F.coalesce(F.col("n_tok").cast("long"), F.lit(0))).alias("s"),
        )
        .select(
            "source",
            "n_rows",
            "n_vals",
            F.when(F.col("n_vals") > 0, F.col("s")).alias("value_sum_scaled"),
        )
    )


def _null_safe_key(row):
    return tuple((v is None, v) for v in row)


def _assert_mv_equals_recompute(spark, mv, base):
    got = sorted(read_matview(spark, mv.refresh()).collect(), key=_null_safe_key)
    want = sorted(_recompute(spark, base).collect(), key=_null_safe_key)
    assert got == want


def test_create_then_incremental_updates_deletes(spark):
    base = _mk_table()
    apply_changes(
        base,
        _changes(
            spark,
            [
                (1, "U", "d1", "a", 10),
                (2, "U", "d2", "a", 20),
                (3, "U", "d3", "b", 5),
            ],
        ),
        epoch=0,
    )
    mv = _mk_mv(spark, base)
    _assert_mv_equals_recompute(spark, mv, base)

    # update d2 (same group), delete d3 (group b empties), insert d4 (new
    # group c), move d1 from a to b
    apply_changes(
        base.refresh(),
        _changes(
            spark,
            [
                (4, "U", "d2", "a", 25),
                (5, "D", "d3", None, None),
                (6, "U", "d4", "c", 7),
                (7, "U", "d1", "b", 11),
            ],
        ),
        epoch=1,
    )
    st = refresh_matview(spark, mv)
    assert st.mode == "incremental"
    _assert_mv_equals_recompute(spark, mv, base.refresh())
    # group b was emptied then repopulated by d1's move; group a lost d1
    rows = {r["source"]: r for r in read_matview(spark, mv).collect()}
    assert rows["a"]["n_rows"] == 1 and rows["a"]["value_sum_scaled"] == 25
    assert rows["b"]["n_rows"] == 1 and rows["b"]["value_sum_scaled"] == 11
    assert rows["c"]["n_rows"] == 1


def test_group_fully_retracted_disappears(spark):
    base = _mk_table()
    apply_changes(base, _changes(spark, [(1, "U", "d1", "solo", 3)]), epoch=0)
    mv = _mk_mv(spark, base)
    apply_changes(base.refresh(), _changes(spark, [(2, "D", "d1", None, None)]), epoch=1)
    refresh_matview(spark, mv)
    assert read_matview(spark, mv.refresh()).count() == 0
    _assert_mv_equals_recompute(spark, mv, base.refresh())


def test_null_measures_sql_sum_semantics(spark):
    base = _mk_table()
    apply_changes(
        base,
        _changes(
            spark,
            [
                (1, "U", "d1", "a", None),
                (2, "U", "d2", "a", None),
                (3, "U", "d3", "b", 4),
                (4, "U", "d4", "b", None),
            ],
        ),
        epoch=0,
    )
    mv = _mk_mv(spark, base)
    rows = {r["source"]: r for r in read_matview(spark, mv).collect()}
    # all-NULL group: SUM must be NULL, n_rows still counts
    assert rows["a"]["n_rows"] == 2 and rows["a"]["n_vals"] == 0
    assert rows["a"]["value_sum_scaled"] is None
    assert rows["b"]["value_sum_scaled"] == 4
    # deleting the only non-NULL row flips b's sum to NULL incrementally
    apply_changes(base.refresh(), _changes(spark, [(5, "D", "d3", None, None)]), epoch=1)
    refresh_matview(spark, mv)
    rows = {r["source"]: r for r in read_matview(spark, mv.refresh()).collect()}
    assert rows["b"]["n_rows"] == 1 and rows["b"]["value_sum_scaled"] is None
    _assert_mv_equals_recompute(spark, mv, base.refresh())


def test_refresh_is_fenced_and_idempotent(spark):
    base = _mk_table()
    apply_changes(base, _changes(spark, [(1, "U", "d1", "a", 10)]), epoch=0)
    mv = _mk_mv(spark, base)
    apply_changes(base.refresh(), _changes(spark, [(2, "U", "d2", "a", 20)]), epoch=1)
    st1 = refresh_matview(spark, mv)
    assert st1.mode == "incremental" and not st1.commit.skipped
    # crash-retry: same base version — the fence must skip the data apply,
    # not double-count the delta
    st2 = refresh_matview(spark, mv)
    assert st2.skipped
    # a THIRD path: a fresh handle (new process) re-running the refresh
    mv2 = IcehouseTable.load(mv.root)
    st3 = refresh_matview(spark, mv2)
    assert st3.skipped
    rows = {r["source"]: r for r in read_matview(spark, mv.refresh()).collect()}
    assert rows["a"]["n_rows"] == 2 and rows["a"]["value_sum_scaled"] == 30


def test_noop_base_version_advances_floor(spark):
    base = _mk_table()
    apply_changes(base, _changes(spark, [(1, "U", "d1", "a", 10)]), epoch=0)
    mv = _mk_mv(spark, base)
    # pure-metadata base commit: version advances, no data changes
    base.refresh().create_tag("checkpoint")
    st = refresh_matview(spark, mv)
    assert st.mode == "incremental"  # ran, but the delta was empty
    floor = int(mv.refresh().meta["properties"]["mv.refreshed_floor"])
    assert floor == base.refresh().version
    # and the NEXT refresh skips outright (floor advanced past the tag commit)
    assert refresh_matview(spark, mv).skipped
    _assert_mv_equals_recompute(spark, mv, base)


def test_rollback_refreshes_incrementally_from_the_diff(spark):
    """A base rollback behind the view's refreshed version is an ordinary
    window: the change set (the snapshot diff) retracts the rolled-back
    rows, with no full recompute."""
    base = _mk_table()
    apply_changes(base, _changes(spark, [(1, "U", "d1", "a", 10)]), epoch=0)
    v_after_e0 = base.version
    apply_changes(base, _changes(spark, [(2, "U", "d2", "b", 20)]), epoch=1)
    mv = _mk_mv(spark, base)
    base.rollback(v_after_e0)
    st = refresh_matview(spark, mv)
    assert st.mode == "incremental"
    _assert_mv_equals_recompute(spark, mv, base.refresh())
    rows = {r["source"]: r for r in read_matview(spark, mv).collect()}
    assert "b" not in rows and rows["a"]["n_rows"] == 1


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_rollback_then_epoch_above_old_mark_is_exact(spark, mode):
    """A 2-row base; an epoch inserts ``c`` and deletes ``a`` and the view
    follows it; the base rolls back over that epoch, then a new epoch
    updates ``b`` at an LSN above every mark the view has seen.  The view
    must equal a rebuild — ``('s1', 2, 2, 6)`` — not keep the reverted
    epoch's rows."""
    base = _mk_table()
    apply_changes(base, _changes(spark, [(1, "U", "a", "s1", 1), (2, "U", "b", "s1", 2)]), epoch=0)
    v = base.refresh().version
    mv = _mk_mv(spark, base)
    apply = apply_changes_mor if mode == "mor" else apply_changes
    apply(base.refresh(), _changes(spark, [(10, "U", "c", "s2", 3), (11, "D", "a", None, None)]),
          epoch=1)
    assert refresh_matview(spark, mv).mode == "incremental"
    base.refresh().rollback(v)
    apply(base.refresh(), _changes(spark, [(20, "U", "b", "s1", 5)]), epoch=2)
    assert refresh_matview(spark, mv).mode == "incremental"
    rows = sorted(tuple(r) for r in read_matview(spark, mv.refresh()).collect())
    assert rows == [("s1", 2, 2, 6)]
    _assert_mv_equals_recompute(spark, mv, base.refresh())


def test_expired_prior_snapshot_falls_back_to_full(spark):
    base = _mk_table()
    apply_changes(base, _changes(spark, [(1, "U", "d1", "a", 10)]), epoch=0)
    mv = _mk_mv(spark, base)
    apply_changes(base.refresh(), _changes(spark, [(2, "U", "d2", "b", 20)]), epoch=1)
    apply_changes(base, _changes(spark, [(3, "U", "d3", "b", 30)]), epoch=2)
    # expire every snapshot but the head: the retract base is gone
    base.expire_snapshots(keep_last=1)
    st = refresh_matview(spark, mv)
    assert st.mode == "full"
    _assert_mv_equals_recompute(spark, mv, base.refresh())


def test_mor_base_and_multi_epoch_convergence(spark):
    base = _mk_table()
    mv = None
    import random

    rng = random.Random(7)
    docs = [f"d{i}" for i in range(40)]
    sources = ["a", "b", "c", None]
    lsn = 0
    for epoch in range(6):
        rows = []
        for _ in range(25):
            lsn += 1
            if rng.random() < 0.15:
                rows.append((lsn, "D", rng.choice(docs), None, None))
            else:
                rows.append(
                    (
                        lsn,
                        "U",
                        rng.choice(docs),
                        rng.choice(sources),
                        rng.choice([None, rng.randrange(100)]),
                    )
                )
        apply_changes_mor(base.refresh(), _changes(spark, rows), epoch=epoch)
        if epoch == 0:
            mv = _mk_mv(spark, base.refresh())
        else:
            st = refresh_matview(spark, mv)
            assert st.mode == "incremental"
        _assert_mv_equals_recompute(spark, mv, base.refresh())


def test_forced_full_matches_incremental(spark):
    base = _mk_table()
    apply_changes(base, _changes(spark, [(1, "U", "d1", "a", 10), (2, "U", "d2", "b", 7)]), epoch=0)
    mv_a = _mk_mv(spark, base)
    mv_b = _mk_mv(spark, base)
    apply_changes(
        base.refresh(),
        _changes(spark, [(3, "U", "d1", "b", 11), (4, "D", "d2", None, None)]),
        epoch=1,
    )
    assert refresh_matview(spark, mv_a).mode == "incremental"
    assert refresh_matview(spark, mv_b, full=True).mode == "full"
    a = sorted(read_matview(spark, mv_a.refresh()).collect())
    b = sorted(read_matview(spark, mv_b.refresh()).collect())
    assert a == b


def test_create_on_empty_base_then_refresh(spark):
    base = _mk_table()
    mv = _mk_mv(spark, base)
    assert read_matview(spark, mv).count() == 0
    apply_changes(base.refresh(), _changes(spark, [(1, "U", "d1", "a", 10)]), epoch=0)
    st = refresh_matview(spark, mv)
    assert st.mode == "incremental"
    _assert_mv_equals_recompute(spark, mv, base.refresh())


def test_group_key_is_injective_for_tricky_values(spark):
    base = _mk_table()
    # values that would collide under naive string concat separators
    apply_changes(
        base,
        _changes(
            spark,
            [
                (1, "U", "d1", 'a"b', 1),
                (2, "U", "d2", "a\x1fb", 2),
                (3, "U", "d3", "a,b", 3),
                (4, "U", "d4", None, 4),
                (5, "U", "d5", "null", 5),
            ],
        ),
        epoch=0,
    )
    mv = _mk_mv(spark, base)
    assert read_matview(spark, mv).count() == 5
    _assert_mv_equals_recompute(spark, mv, base)
    keys = [r[GROUP_KEY_COL] for r in mv.read(spark).select(GROUP_KEY_COL).collect()]
    assert len(set(keys)) == 5


def test_bad_spec_raises(spark):
    base = _mk_table()
    with pytest.raises(ValueError, match="lacks columns"):
        create_matview(spark, tempfile.mkdtemp() + "/v", base, ["nope"], "n_tok")


def test_out_of_order_apply_is_exact_with_plain_refresh(spark):
    """Micro-batch boundaries can apply LOWER LSNs after higher ones (file
    sources split epochs arbitrarily).  The refresh window is one exact
    change set whatever the LSN order, so a plain refresh stays exact."""
    base = _mk_table()
    # batch 1: high-LSN changes
    apply_changes(
        base, _changes(spark, [(100, "U", "hi1", "a", 10), (101, "U", "hi2", "b", 20)]),
        epoch=0,
    )
    mv = _mk_mv(spark, base)
    # batch 2: LOWER LSNs for different keys (out-of-order delivery)
    b2 = [(5, "U", "lo1", "a", 7), (6, "U", "lo2", "c", 9)]
    apply_changes_mor(base.refresh(), _changes(spark, b2), epoch=1)
    st = refresh_matview(spark, mv)
    assert st.mode == "incremental"
    _assert_mv_equals_recompute(spark, mv, base.refresh())
    # a later low-LSN update of a key the view already holds
    apply_changes(base.refresh(), _changes(spark, [(7, "U", "lo1", "b", 8)]), epoch=2)
    refresh_matview(spark, mv)
    _assert_mv_equals_recompute(spark, mv, base.refresh())


def test_matview_refresh_across_branch_publish(spark):
    """A view over MAIN stays exact when main advances via a branch
    fast-forward (the staged-backfill publish): the adopted files carry
    their LSN stats, so the changed-since delta covers the published
    rows."""
    base = _mk_table()
    apply_changes(base, _changes(spark, [(1, "U", "d1", "a", 10)]), epoch=0)
    mv = _mk_mv(spark, base)
    base.refresh().create_branch("stage")
    b = IcehouseTable.load(base.root, branch="stage")
    apply_changes(b, _changes(spark, [(2, "U", "d2", "b", 20), (3, "D", "d1", None, None)]), epoch=1)
    base.refresh().fast_forward("stage")
    st = refresh_matview(spark, mv)
    assert st.mode == "incremental"
    _assert_mv_equals_recompute(spark, mv, base.refresh())
    # and across a cherry-pick publish after divergence
    base.refresh().create_branch("fix")
    bf = IcehouseTable.load(base.root, branch="fix")
    apply_changes(bf, _changes(spark, [(10, "U", "d3", "c", 5)]), epoch=2)
    apply_changes(base.refresh(), _changes(spark, [(11, "U", "d4", "a", 7)]), epoch=3)
    from data_pipeline_spark.cdc.cherry import cherry_pick

    refresh_matview(spark, mv)  # bring the view up to the diverged main
    assert not cherry_pick(spark, base.refresh(), "fix").skipped
    st2 = refresh_matview(spark, mv)
    assert st2.mode == "incremental"
    _assert_mv_equals_recompute(spark, mv, base.refresh())


def test_multi_measure_view(spark):
    """Multi-measure views maintain per-column (count, fixed-point sum)
    pairs through one shuffle and one MERGE; per-measure NULL-sum
    semantics are independent."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_tok", T.IntegerType(), True),
            T.StructField("quality", T.DoubleType(), True),
        ]
    )
    root = tempfile.mkdtemp(prefix="mv_multi_")
    base = IcehouseTable.create(f"{root}/t", schema, key_col="doc_id", n_buckets=4)

    def ch(rows):
        return spark.createDataFrame(
            rows,
            "lsn long, op string, doc_id string, source string, n_tok int, quality double",
        )

    apply_changes(
        base,
        ch(
            [
                (1, "U", "d1", "a", 10, 0.5),
                (2, "U", "d2", "a", None, 0.25),
                (3, "U", "d3", "b", 7, None),
            ]
        ),
        epoch=0,
    )
    mv = create_matview(
        spark, f"{root}/v", base.refresh(), ["source"], ["n_tok", "quality"], scale=100
    )
    rows = {r["source"]: r for r in read_matview(spark, mv).collect()}
    assert rows["a"]["n_rows"] == 2
    assert rows["a"]["n_vals_n_tok"] == 1 and rows["a"]["sum_n_tok_scaled"] == 1000
    assert rows["a"]["n_vals_quality"] == 2 and rows["a"]["sum_quality_scaled"] == 75
    assert rows["b"]["n_vals_quality"] == 0 and rows["b"]["sum_quality_scaled"] is None

    # incremental: delete the only quality row of 'a'-group member d2,
    # move d3 to group a, add d4 with both measures NULL
    apply_changes(
        base.refresh(),
        ch(
            [
                (4, "D", "d2", None, None, None),
                (5, "U", "d3", "a", 7, 0.1),
                (6, "U", "d4", "b", None, None),
            ]
        ),
        epoch=1,
    )
    st = refresh_matview(spark, mv)
    assert st.mode == "incremental"
    rows = {r["source"]: r for r in read_matview(spark, mv.refresh()).collect()}
    assert rows["a"]["n_rows"] == 2 and rows["a"]["sum_n_tok_scaled"] == 1700
    assert rows["a"]["sum_quality_scaled"] == 60  # 0.5 + 0.1 at scale 100
    assert rows["b"]["n_rows"] == 1
    assert rows["b"]["n_vals_n_tok"] == 0 and rows["b"]["sum_n_tok_scaled"] is None
    # matches a from-scratch recompute measure-for-measure
    want = sorted(
        base.refresh()
        .read(spark)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("n_tok").alias("n_vals_n_tok"),
            F.sum(F.round(F.col("n_tok") * 100).cast("long")).alias("sum_n_tok_scaled"),
            F.count("quality").alias("n_vals_quality"),
            F.sum(F.round(F.col("quality") * 100).cast("long")).alias("sum_quality_scaled"),
        )
        .collect(),
        key=_null_safe_key,
    )
    got = sorted(read_matview(spark, mv).collect(), key=_null_safe_key)
    assert got == want

    with pytest.raises(ValueError, match="distinct"):
        create_matview(
            spark, tempfile.mkdtemp() + "/v", base, ["source"], ["n_tok", "n_tok"]
        )


def test_view_changes_are_a_consumable_feed(spark):
    """A matview is a full icehouse table, so downstream consumers tail ITS
    changed-since feed: only groups whose aggregates moved appear (the
    aggregate-drift alerting pattern — no view rescan, no base access)."""
    base = _mk_table()
    apply_changes(
        base,
        _changes(spark, [(1, "U", "d1", "a", 10), (2, "U", "d2", "b", 20)]),
        epoch=0,
    )
    mv = _mk_mv(spark, base)
    w = max(
        e["lsn_max"]
        for e in mv.refresh().meta["partitions"].values()
        if e.get("lsn_max") is not None
    )
    # epoch 1 touches ONLY group a
    apply_changes(base.refresh(), _changes(spark, [(3, "U", "d1", "a", 15)]), epoch=1)
    refresh_matview(spark, mv)
    feed = mv.refresh().read_changed_since(spark, w)
    moved = {r["source"]: r for r in feed.collect()}
    assert set(moved) == {"a"}
    assert moved["a"]["value_sum_scaled"] == 15 and not moved["a"]["_deleted"]
    # retracting group b entirely surfaces as a tombstone in the feed
    w2 = max(
        x
        for part in [mv.refresh().meta["partitions"].values()]
        for x in [e["lsn_max"] for e in part]
        if x is not None
    )
    apply_changes(base.refresh(), _changes(spark, [(4, "D", "d2", None, None)]), epoch=2)
    refresh_matview(spark, mv)
    feed2 = mv.refresh().read_changed_since(spark, w2)
    tomb = {r["source"]: r["_deleted"] for r in feed2.collect()}
    assert tomb == {"b": True}


def _rows_for(n, lsn0=0, op="U"):
    return [
        (lsn0 + i + 1, op, f"d{i}", f"s{i % 7}", (i * 13) % 200)
        for i in range(n)
    ]


def test_heavy_path_incremental_beyond_fast_cap(spark):
    """>1000 changed rows exceeds the fast-path collect cap: the refresh
    must take the persisted-feed heavy path, stay incremental (changed
    fraction below the crossover), and still equal the recompute."""
    base = _mk_table(n_buckets=8)
    apply_changes(base, _changes(spark, _rows_for(20_000)), epoch=0)
    base.refresh()
    mv = _mk_mv(spark, base)
    upd = [
        (30_000 + i, "U", f"d{i * 4}", f"s{(i + 3) % 7}", (i * 7) % 200)
        for i in range(1500)
    ]
    apply_changes(base, _changes(spark, upd), epoch=1)
    base.refresh()
    st = refresh_matview(spark, mv)
    assert st.mode == "incremental"
    assert _mv_equals_recompute(spark, mv, base)


def test_auto_crossover_picks_full_on_large_delta(spark):
    """When the changed-row count exceeds auto_full_ratio x base rows (and
    the fast-path cap), the refresh auto-selects the one-scan full
    recompute — same fenced delta commit, cheaper plan."""
    base = _mk_table(n_buckets=8)
    apply_changes(base, _changes(spark, _rows_for(3000)), epoch=0)
    base.refresh()
    mv_auto = _mk_mv(spark, base)
    mv_off = _mk_mv(spark, base)
    upd = [
        (10_000 + i, "U", f"d{i}", f"s{(i + 1) % 7}", (i * 3) % 200)
        for i in range(2000)
    ]
    apply_changes(base, _changes(spark, upd), epoch=1)
    base.refresh()
    st = refresh_matview(spark, mv_auto)  # 2000/3000 > 0.2 default ratio
    assert st.mode == "full"
    assert _mv_equals_recompute(spark, mv_auto, base)
    # ratio=0 disables the crossover: forced incremental, identical state
    st2 = refresh_matview(spark, mv_off, auto_full_ratio=0)
    assert st2.mode == "incremental"
    assert _mv_equals_recompute(spark, mv_off, base)


def _mv_equals_recompute(spark, mv, base):
    def key(r):
        return tuple((v is None, v) for v in r)

    got = sorted(read_matview(spark, mv.refresh()).collect(), key=key)
    want = sorted(_recompute(spark, base).collect(), key=key)
    return got == want


def test_array_group_column_small_refresh(spark):
    """A view grouped by an array<string> column refreshes through the
    ≤SMALL_BATCH_ROWS driver path (the merge is keyed by the group_key JSON
    string, so unhashable group values are fine) and equals GROUP BY."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
            T.StructField("n_tok", T.IntegerType(), True),
        ]
    )
    root = tempfile.mkdtemp(prefix="mv_base_")
    base = IcehouseTable.create(f"{root}/t", schema, key_col="doc_id", n_buckets=4)
    ddl = "lsn long, op string, doc_id string, tags array<string>, n_tok int"
    apply_changes(
        base,
        spark.createDataFrame(
            [
                (1, "U", "d1", ["a", "b"], 1),
                (2, "U", "d2", ["a", "b"], 2),
                (3, "U", "d3", ["c"], 3),
                (4, "U", "d4", None, 4),
            ],
            ddl,
        ),
        epoch=0,
    )
    mv = create_matview(
        spark, tempfile.mkdtemp(prefix="mv_view_") + "/v", base.refresh(), ["tags"], "n_tok",
        scale=1,
    )
    apply_changes(
        base.refresh(),
        spark.createDataFrame(
            [
                (5, "U", "d1", ["c"], 10),
                (6, "D", "d3", None, None),
                (7, "U", "d5", ["a", "b"], 5),
                (8, "U", "d6", [], 6),
            ],
            ddl,
        ),
        epoch=1,
    )
    assert refresh_matview(spark, mv).mode == "incremental"

    def rows(df):
        return sorted(
            ((tuple(r["tags"]) if r["tags"] is not None else None, r["n_rows"], r["s"])
             for r in df.collect()),
            key=repr,
        )

    got = read_matview(spark, mv.refresh()).select(
        "tags", "n_rows", F.col("value_sum_scaled").alias("s")
    )
    want = (
        base.refresh()
        .read(spark)
        .groupBy("tags")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("n_tok").alias("s"))
    )
    assert rows(got) == rows(want)
