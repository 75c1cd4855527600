"""Hot plans built from SQL text (``table/exprs.py``).

Two things are pinned here.  The py4j round trips the driver makes to
PLAN (not run) the three MOR reads, so that a per-column ``Column``
builder creeping back into a hot path fails a test.  And the quoting
contract: payload column names that need backticks give the same results
as the ``Column`` API, while a name containing ``${`` (which Spark's SQL
parser substitutes before lexing) raises ``UnsafeIdentifierError``."""

import gc
import tempfile
import threading

import py4j.java_gateway as jg
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.cdc.apply import apply_changes, apply_changes_mor, lww_latest
from data_pipeline_spark.operators.shards import write_training_shards
from data_pipeline_spark.table import UnsafeIdentifierError
from data_pipeline_spark.table.icehouse import IcehouseTable, evolve_schema
from data_pipeline_spark.table.index import SecondaryIndex
from data_pipeline_spark.table.matview import create_matview, read_matview, refresh_matview


def _py4j_calls(fn) -> int:
    """py4j commands this thread sends while ``fn`` runs, after one warm-up
    call (threads left by other tests keep their own traffic)."""
    fn()
    calls = [0]
    real = jg.GatewayClient.send_command
    me = threading.get_ident()

    def counting(self, *a, **k):
        if threading.get_ident() == me:
            calls[0] += 1
        return real(self, *a, **k)

    gc.collect()
    gc.disable()
    jg.GatewayClient.send_command = counting
    try:
        fn()
    finally:
        jg.GatewayClient.send_command = real
        gc.enable()
    return calls[0]


# py4j calls to build each plan on the table below, as measured (PySpark
# 4.1).  With per-column Column builders the same plans took 432, 403 and
# 425 calls.
READ_PLAN_CALLS = 71
CHANGED_SINCE_PLAN_CALLS = 56
POINT_READ_PLAN_CALLS = 72


def test_mor_read_plans_stay_within_py4j_budget(spark):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_tok", T.IntegerType(), True),
            T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        ]
    )
    ddl = "lsn long, op string, doc_id string, source string, n_tok int, tokens array<int>"
    t = IcehouseTable.create(
        tempfile.mkdtemp(prefix="plan_budget_") + "/t", schema, n_buckets=8,
        properties={"write.bloom.columns": "doc_id"},
    )
    apply_changes(
        t,
        spark.createDataFrame(
            [(i, "U", f"k{i:05d}", f"s{i % 5}", i, [i]) for i in range(500)], ddl
        ),
        epoch=0,
    )
    apply_changes_mor(
        t.refresh(),
        spark.createDataFrame(
            [(1000 + i, "D" if i % 7 == 0 else "U", f"k{i * 3:05d}", "x", i, [i])
             for i in range(200)],
            ddl,
        ),
        epoch=1,
    )
    t = IcehouseTable.load(t.root)
    assert len([k for k, ds in t.meta["deltas"].items() if ds]) == 8
    keys = [f"k{i * 37:05d}" for i in range(10)]
    got = {
        "read": _py4j_calls(lambda: t.read(spark)),
        "read_changed_since": _py4j_calls(lambda: t.read_changed_since(spark, 600)),
        "read_for_keys": _py4j_calls(lambda: t.read_for_keys(spark, keys)),
    }
    assert got["read"] <= READ_PLAN_CALLS, got
    assert got["read_changed_since"] <= CHANGED_SINCE_PLAN_CALLS, got
    assert got["read_for_keys"] <= POINT_READ_PLAN_CALLS, got


# payload names that need quoting and that the Column API also handles
GROUP, VALUE, TOKENS = "a b", "cost$", "tok s"
SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField(GROUP, T.StringType(), True),
        T.StructField(VALUE, T.IntegerType(), True),
        T.StructField(TOKENS, T.ArrayType(T.IntegerType()), True),
    ]
)
BATCH = T.StructType(
    [T.StructField("lsn", T.LongType()), T.StructField("op", T.StringType()), *SCHEMA.fields]
)


def _epochs():
    yield [(i, "U", f"k{i:03d}", f"g{i % 3}", i, [i, i + 1]) for i in range(40)]
    yield [
        (100 + i, "D", f"k{i * 3:03d}", None, None, None) if i % 4 == 0
        else (100 + i, "U", f"k{i * 3:03d}", f"g{i % 4}" if i % 5 else None, 10 * i, [i])
        for i in range(20)
    ]
    yield [
        (200 + i, "U", f"k{i * 5:03d}", f"g{i % 2}", i - 3, None) if i % 3
        else (200 + i, "D", f"k{i * 5:03d}", None, None, None)
        for i in range(12)
    ]


def test_quoted_payload_columns_match_the_oracle(spark, tmp_path):
    """A table whose group, measure, sort, stats and token columns need
    backticks runs the COW and MOR applies, the three reads, a matview, an
    index and the shard export; every result equals the LWW oracle."""
    t = IcehouseTable.create(
        str(tmp_path / "t"), SCHEMA, n_buckets=4,
        properties={"write.sort-order": GROUP, "write.stats-columns": VALUE},
    )
    state: dict[str, tuple] = {}
    lsn_of: dict[str, int] = {}
    mv = idx = None
    for ep, rows in enumerate(_epochs()):
        apply = apply_changes_mor if ep == 1 else apply_changes
        apply(t.refresh(), spark.createDataFrame(rows, BATCH), epoch=ep)
        for lsn, op, k, *payload in rows:
            state[k] = None if op == "D" else (k, *payload)
            lsn_of[k] = lsn
        t = t.refresh()
        if mv is None:
            mv = create_matview(spark, str(tmp_path / "mv"), t, [GROUP], VALUE, scale=1)
            idx = SecondaryIndex.create(spark, t, str(tmp_path / "idx"), GROUP)
        else:
            assert refresh_matview(spark, mv.refresh()).mode == "incremental"
            idx.refresh(spark)

    live = sorted(r for r in state.values() if r is not None)
    assert sorted(tuple(r) for r in t.read(spark).collect()) == live

    feed = t.read_changed_since(spark, 150).collect()
    assert sorted((r["doc_id"], r["_lsn"], r["_deleted"]) for r in feed) == sorted(
        (k, lsn, state[k] is None) for k, lsn in lsn_of.items() if lsn > 150
    )
    assert all(
        tuple(r[c] for c in SCHEMA.fieldNames()) == state[r["doc_id"]]
        for r in feed if not r["_deleted"]
    )

    probe = ["k000", "k003", "k010", "k015", "missing"]
    assert sorted(tuple(r) for r in t.read_for_keys(spark, probe).collect()) == sorted(
        state[k] for k in probe if state.get(k) is not None
    )

    ranged = t.read(spark, stats_filters={VALUE: (5, 30)}).collect()
    assert sorted(tuple(r) for r in ranged) == [r for r in live if r[2] is not None and 5 <= r[2] <= 30]

    groups: dict = {}
    for _, g, v, _ in live:
        n, nv, s = groups.get(g, (0, 0, 0))
        groups[g] = (n + 1, nv + (v is not None), s + (v or 0))
    assert sorted(
        (r[GROUP], r["n_rows"], r["n_vals"], r["value_sum_scaled"] or 0)
        for r in read_matview(spark, mv.refresh()).collect()
    ) == sorted((g, *agg) for g, agg in groups.items())

    assert sorted(tuple(r) for r in idx.index.refresh().read(spark).collect()) == sorted(
        (k, g) for k, g, _, _ in live
    )

    m = write_training_shards(
        t.read(spark), str(tmp_path / "shards"), shard_rows=8, tokens_col=TOKENS
    )
    assert (m["n_rows"], m["n_tokens"]) == (
        len(live), sum(len(r[3] or []) for r in live)
    )
    assert sum(s["token_checksum"] for s in m["shards"]) == sum(sum(r[3] or []) for r in live)
    back = spark.read.parquet(str(tmp_path / "shards")).orderBy("shard", "shard_pos")
    assert [r["doc_id"] for r in back.collect()] == [r[0] for r in live]


def test_dollar_brace_names_raise_a_typed_error(spark, tmp_path):
    """``${x}`` cannot be written as SQL text: table schemas reject it up
    front, and the text builders refuse it rather than plan a substituted
    name.  A ``${`` column the text never names still passes through."""
    bad = T.StructType([*SCHEMA.fields, T.StructField("${x}", T.IntegerType(), True)])
    with pytest.raises(UnsafeIdentifierError):
        IcehouseTable.create(str(tmp_path / "t"), bad)
    nested = T.StructType(
        [T.StructField("s", T.StructType([T.StructField("${x}", T.IntegerType())]))]
    )
    with pytest.raises(UnsafeIdentifierError):
        evolve_schema(SCHEMA, nested)
    df = spark.createDataFrame([(1, "U", "k", "g", 1, [1], 7)], T.StructType([*BATCH.fields, bad[-1]]))
    with pytest.raises(UnsafeIdentifierError):
        lww_latest(df, key="doc_id")
    with pytest.raises(UnsafeIdentifierError):
        write_training_shards(
            df.withColumnRenamed(TOKENS, "${t}"), str(tmp_path / "a"), tokens_col="${t}"
        )
    m = write_training_shards(df, str(tmp_path / "b"), tokens_col=TOKENS)
    back = spark.read.parquet(str(tmp_path / "b")).select(F.col("`${x}`")).collect()
    assert (m["n_rows"], [r[0] for r in back]) == (1, [7])
