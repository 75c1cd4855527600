"""Structured Streaming ingestion tests: stream-drain equals batch replay,
restart resumes without double-apply, watermark windowing runs on a stream."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.cdc.changelog import (
    CHANGE_LOG_SCHEMA,
    generate_change_log,
    materialize_change_log,
)
from data_pipeline_spark.streaming import StreamingIngest, windowed_event_counts
from data_pipeline_spark.table import IcehouseTable

TABLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


@pytest.fixture()
def log_path(spark, tmp_path):
    path = str(tmp_path / "changelog")
    materialize_change_log(
        spark, path, n_events=3000, n_docs=250, events_per_epoch=1000, seed=42
    )
    return path


def _final_state(table, spark):
    return {
        r["doc_id"]: (tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in table.read(spark).collect()
    }


def _batch_oracle_state(spark, log_path, tmp_path):
    from data_pipeline_spark.cdc.replay import ReplayRunner
    from data_pipeline_spark.cdc.changelog import read_change_log

    t = IcehouseTable.create(str(tmp_path / "batch_t"), TABLE_SCHEMA, n_buckets=8)
    ReplayRunner(t, str(tmp_path / "batch_ckpt.json")).run(read_change_log(spark, log_path))
    return _final_state(t, spark)


def test_stream_drain_matches_batch_replay(spark, log_path, tmp_path):
    table = IcehouseTable.create(str(tmp_path / "stream_t"), TABLE_SCHEMA, n_buckets=8)
    ingest = StreamingIngest(table, str(tmp_path / "ckpt"), max_files_per_trigger=4)
    q = ingest.start(spark, log_path, trigger_once=True)
    q.awaitTermination(300)
    assert ingest.applied, "stream must have applied at least one micro-batch"
    assert not any(s.result.skipped for s in ingest.applied)
    assert _final_state(table, spark) == _batch_oracle_state(spark, log_path, tmp_path)


def test_stream_restart_is_exactly_once(spark, log_path, tmp_path):
    table = IcehouseTable.create(str(tmp_path / "t2"), TABLE_SCHEMA, n_buckets=8)
    ckpt = str(tmp_path / "ckpt2")
    ingest = StreamingIngest(table, ckpt)
    q = ingest.start(spark, log_path, trigger_once=True)
    q.awaitTermination(300)
    v1 = table.version
    state1 = _final_state(table, spark)
    # restart over the same checkpoint: no new files -> no new commits
    ingest2 = StreamingIngest(table, ckpt)
    q2 = ingest2.start(spark, log_path, trigger_once=True)
    q2.awaitTermination(300)
    table.refresh()
    assert table.version == v1
    assert _final_state(table, spark) == state1


def test_stream_onto_batch_replayed_table_applies_all_batches(spark, tmp_path):
    """Regression: streaming batchIds 0..N must not collide with source
    epochs already committed by batch replay on the same table (stream_id
    namespaces the registry) — before the fix early micro-batches were
    silently skipped as exactly-once no-ops."""
    from data_pipeline_spark.cdc.replay import ReplayRunner
    from data_pipeline_spark.cdc.changelog import read_change_log

    log_a = str(tmp_path / "log_a")
    log_b = str(tmp_path / "log_b")
    materialize_change_log(spark, log_a, n_events=2000, n_docs=150, events_per_epoch=500, seed=1)
    # log_b continues the LSN sequence AFTER log_a (a real binlog tail), so
    # LWW for docs touched by both logs is unambiguous
    (
        generate_change_log(spark, n_events=2000, n_docs=150, events_per_epoch=500, seed=2)
        .withColumn("lsn", F.col("lsn") + 10_000)
        .write.mode("overwrite").partitionBy("epoch").parquet(log_b)
    )

    table = IcehouseTable.create(str(tmp_path / "t"), TABLE_SCHEMA, n_buckets=8)
    ReplayRunner(table, str(tmp_path / "ckpt.json")).run(read_change_log(spark, log_a))
    state_after_batch = _final_state(table, spark)

    ingest = StreamingIngest(table, str(tmp_path / "sckpt"), max_files_per_trigger=2)
    q = ingest.start(spark, log_b, trigger_once=True)
    q.awaitTermination(300)
    assert ingest.applied and not any(s.result.skipped for s in ingest.applied), (
        "streaming micro-batches must not be fenced out by batch epochs"
    )
    # final state = batch state overlaid with log_b's LWW outcome
    oracle = dict(state_after_batch)
    for r in sorted(read_change_log(spark, log_b).collect(), key=lambda r: r["lsn"]):
        if r["op"] == "D":
            oracle.pop(r["doc_id"], None)
        else:
            oracle[r["doc_id"]] = (tuple(r["tokens"]), r["n_tok"], r["source"])
    assert _final_state(table, spark) == oracle


def test_streaming_windowed_counts(spark, tmp_path):
    src = str(tmp_path / "events_stream")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 2).parquet(src)
    )
    agg = windowed_event_counts(stream, "1 hour", "2 hours")
    out = str(tmp_path / "windowed_out")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "wc_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # append mode only emits windows sealed by the watermark; the final
    # (unsealed) windows are withheld — compare against the batch result
    # restricted to sealed windows.
    got = spark.read.parquet(out)
    batch = windowed_event_counts(ev, "1 hour", "2 hours")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sealed = batch.where(F.col("window_end") < F.expr(f"timestamp'{max_ts}' - interval 2 hours"))
    got_rows = {tuple(r) for r in got.collect()}
    sealed_rows = {tuple(r) for r in sealed.collect()}
    assert sealed_rows <= got_rows
    assert len(got_rows) >= len(sealed_rows) > 0


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream inner join with event-time bounds: draining two file
    streams must produce exactly the batch inequality-join result (and the
    bounded condition is what lets Spark expire join state)."""
    from data_pipeline_spark.streaming.ingest import interval_join_streams

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    signups = ev.where("event_type = 'signup'").select(
        F.col("event_id").alias("signup_id"), F.col("user_id").alias("uid"),
        F.col("ts").alias("signup_ts"),
    )
    clicks = ev.where("event_type = 'click'").select(
        F.col("user_id").alias("uid"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    sdir, cdir = str(tmp_path / "s"), str(tmp_path / "c")
    signups.write.parquet(sdir)
    clicks.write.parquet(cdir)

    s_stream = spark.readStream.schema(signups.schema).parquet(sdir)
    c_stream = spark.readStream.schema(clicks.schema).parquet(cdir)
    joined = interval_join_streams(
        s_stream, c_stream, "uid", "signup_ts", "click_ts", within="24 hours"
    )
    q = (
        joined.writeStream.format("memory").queryName("ssjoin")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = sorted(
        (r.signup_id, r.click_id) for r in spark.table("ssjoin").collect()
    )
    want = sorted(
        (r.signup_id, r.click_id)
        for r in interval_join_streams(
            signups, clicks, "uid", "signup_ts", "click_ts", within="24 hours"
        ).collect()
    )
    assert got == want and got, "stream drain must equal the batch join"
    spark.catalog.dropTempView("ssjoin")


def test_stream_with_dlq_quarantines_and_matches_batch(spark, tmp_path):
    """Streaming ingest with a dead-letter sink: corrupt a fraction of the
    log on disk, stream it with quarantine enabled — final table state must
    equal a BATCH apply of the same corrupted log through the same split,
    and the DLQ must hold exactly the rejects (no valid rows lost)."""
    from data_pipeline_spark.cdc import DeadLetterSink, apply_changes_with_dlq
    from data_pipeline_spark.cdc.changelog import read_change_log

    raw = str(tmp_path / "raw")
    corrupted_path = str(tmp_path / "log")
    materialize_change_log(
        spark, raw, n_events=3000, n_docs=250, events_per_epoch=1000, seed=9
    )
    corrupted = (
        read_change_log(spark, raw)
        .withColumn(
            "op", F.when(F.col("lsn") % 53 == 0, F.lit("??")).otherwise(F.col("op"))
        )
        .withColumn(
            "doc_id",
            F.when(F.col("lsn") % 59 == 0, F.lit(None).cast("string")).otherwise(
                F.col("doc_id")
            ),
        )
    )
    corrupted.write.partitionBy("epoch").parquet(corrupted_path)

    table = IcehouseTable.create(str(tmp_path / "t"), TABLE_SCHEMA, n_buckets=8)
    dlq = DeadLetterSink(str(tmp_path / "dlq"))
    ingest = StreamingIngest(
        table, str(tmp_path / "ckpt"), max_files_per_trigger=4, dlq=dlq
    )
    q = ingest.start(spark, corrupted_path, trigger_once=True)
    q.awaitTermination(300)

    # batch twin over the identical corrupted log
    bt = IcehouseTable.create(str(tmp_path / "bt"), TABLE_SCHEMA, n_buckets=8)
    bdlq = DeadLetterSink(str(tmp_path / "bdlq"))
    apply_changes_with_dlq(bt, bdlq, read_change_log(spark, corrupted_path), epoch=0)

    assert _final_state(table, spark) == _final_state(bt, spark)
    n_bad = (
        read_change_log(spark, corrupted_path)
        .where((F.col("lsn") % 53 == 0) | (F.col("lsn") % 59 == 0))
        .count()
    )
    assert dlq.read(spark).count() == n_bad == bdlq.read(spark).count()
    reasons = {r["reject_reason"] for r in dlq.read(spark).collect()}
    assert reasons == {"bad_op", "null_key"}


def test_stream_mor_mode_matches_batch_replay(spark, log_path, tmp_path):
    """MOR micro-batch mode: each trigger commits an O(batch) delta append;
    the drained stream's RESOLVED state must equal the batch-replay oracle,
    and targeted compaction ("deltas") must fold everything without
    changing state."""
    table = IcehouseTable.create(str(tmp_path / "mor_t"), TABLE_SCHEMA, n_buckets=8)
    ingest = StreamingIngest(
        table, str(tmp_path / "mor_ckpt"), max_files_per_trigger=4, mode="mor"
    )
    q = ingest.start(spark, log_path, trigger_once=True)
    q.awaitTermination(300)
    assert ingest.applied and not any(s.result.skipped for s in ingest.applied)
    assert table.meta.get("deltas"), "MOR stream must leave delta files"
    expected = _batch_oracle_state(spark, log_path, tmp_path)
    assert _final_state(table, spark) == expected
    # fold only the delta-bearing buckets; clean state afterwards
    table.compact_partitions(spark, partitions="deltas")
    assert not any(table.meta.get("deltas", {}).values())
    assert _final_state(table, spark) == expected
    # second targeted compaction is a pure no-op commit-skip
    v = table.version
    res = table.compact_partitions(spark, partitions="deltas")
    assert res.skipped and table.version == v


def test_continuous_trigger_soak_with_concurrent_compaction(spark, tmp_path):
    """Long-lived ingest daemon shape: a processing-time trigger tails a
    GROWING log in MOR mode while a maintenance thread runs targeted delta
    compaction against the same table.  Asserts (1) bounded driver memory —
    the applied-stats window never exceeds its cap while totals keep
    counting, (2) the drained state equals a batch replay of the full log,
    (3) concurrent compaction commits never corrupt or double-apply."""
    import threading
    import time as _time

    from data_pipeline_spark.cdc.changelog import generate_change_log, read_change_log

    log_dir = str(tmp_path / "growlog")
    full = generate_change_log(
        spark, n_events=4000, n_docs=250, events_per_epoch=500, seed=9
    ).persist()
    # seed the log with the first epoch, then append the rest while running
    full.where("epoch = 0").write.mode("overwrite").parquet(log_dir)

    table = IcehouseTable.create(str(tmp_path / "t"), TABLE_SCHEMA, n_buckets=8)
    ingest = StreamingIngest(
        table, str(tmp_path / "ckpt"), mode="mor",
        max_files_per_trigger=2, applied_cap=3,
    )
    q = ingest.start(spark, log_dir, processing_time="1 seconds")
    stop = threading.Event()
    compactions = []

    def maintenance():
        while not stop.is_set():
            try:
                hot = table.refresh().buckets_needing_compaction(0.2, 2)
                if hot:
                    table.compact_partitions(spark, partitions=hot)
                    compactions.append(len(hot))
            except Exception:
                pass  # CAS/conflict races with the stream are expected noise
            _time.sleep(0.5)

    maint = threading.Thread(target=maintenance, daemon=True)
    maint.start()
    try:
        for ep in range(1, 8):
            full.where(f"epoch = {ep}").write.mode("append").parquet(log_dir)
            _time.sleep(1.0)
        # wait until the stream has drained everything it can see
        deadline = _time.time() + 180
        expected = full.count()
        while _time.time() < deadline and ingest.events_applied < expected:
            _time.sleep(1.0)
    finally:
        stop.set()
        q.stop()
        q.awaitTermination(60)
        maint.join(timeout=10)

    assert ingest.events_applied == expected, (ingest.events_applied, expected)
    assert len(ingest.applied) <= 3, "applied-stats window must honor its cap"
    assert ingest.batches_applied >= len(ingest.applied)
    # final state equals a from-scratch batch replay of the same full log
    from data_pipeline_spark.cdc.replay import ReplayRunner

    ref = IcehouseTable.create(str(tmp_path / "ref"), TABLE_SCHEMA, n_buckets=8)
    ReplayRunner(ref, str(tmp_path / "refc")).run(read_change_log(spark, log_dir))
    assert _final_state(table.refresh(), spark) == _final_state(ref, spark)


def test_applied_cap_zero_disables_stat_retention(spark, tmp_path):
    """applied_cap=0 must keep the per-batch stats window EMPTY (the
    `[:-cap]` slice pitfall: deleting up to -0 deletes nothing), while the
    running totals still count every micro-batch."""
    from data_pipeline_spark.cdc.changelog import generate_change_log

    log_dir = str(tmp_path / "log")
    generate_change_log(
        spark, n_events=600, n_docs=60, events_per_epoch=200, seed=4
    ).write.mode("overwrite").parquet(log_dir)
    n_physical = spark.read.parquet(log_dir).count()  # incl. duplicate delivery
    table = IcehouseTable.create(str(tmp_path / "t"), TABLE_SCHEMA, n_buckets=4)
    ingest = StreamingIngest(
        table, str(tmp_path / "ckpt"), max_files_per_trigger=1, applied_cap=0
    )
    q = ingest.start(spark, log_dir, trigger_once=True)
    q.awaitTermination(300)
    assert ingest.applied == []
    assert ingest.batches_applied > 1
    assert ingest.events_applied == n_physical


def test_stream_maintains_matview_incrementally(spark, log_path, tmp_path):
    """CDC-maintained rollup trails the stream: every applied micro-batch
    refreshes the registered matview INCREMENTALLY (fenced on the base
    snapshot, never a base rescan), and the drained view equals a
    from-scratch GROUP BY of the final table state."""
    from data_pipeline_spark.table.matview import create_matview, read_matview

    table = IcehouseTable.create(str(tmp_path / "mv_t"), TABLE_SCHEMA, n_buckets=8)
    mv = create_matview(
        spark, str(tmp_path / "mv_v"), table, ["source"], "n_tok", scale=1
    )
    ingest = StreamingIngest(
        table,
        str(tmp_path / "mv_ckpt"),
        max_files_per_trigger=4,
        matviews=[mv.root],
    )
    q = ingest.start(spark, log_path, trigger_once=True)
    q.awaitTermination(300)
    assert ingest.matview_results, "views must have been refreshed"
    # every non-skipped refresh took the incremental path
    modes = {st.mode for _, st in ingest.matview_results}
    assert "full" not in modes and "incremental" in modes

    def key(r):
        return tuple((v is None, v) for v in r)

    got = sorted(read_matview(spark, mv.refresh()).collect(), key=key)
    want = sorted(
        table.refresh()
        .read(spark)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("n_tok").alias("n_vals"),
            F.sum(F.col("n_tok").cast("long")).alias("s"),
        )
        .select(
            "source", "n_rows", "n_vals",
            F.when(F.col("n_vals") > 0, F.col("s")).alias("value_sum_scaled"),
        )
        .collect(),
        key=key,
    )
    assert got == want and got


def test_stream_maintains_secondary_index(spark, log_path, tmp_path):
    """Secondary indexes trail the stream via the point-read refresh path
    (the micro-batch's keys are the change set — no dependence on LSN
    ordering across batch boundaries): after draining, every attribute
    lookup through the index equals a filter over the final table state."""
    from data_pipeline_spark.table.index import SecondaryIndex, open_index

    table = IcehouseTable.create(str(tmp_path / "ix_t"), TABLE_SCHEMA, n_buckets=8)
    idx = SecondaryIndex.create(spark, table, str(tmp_path / "ix_i"), "source")
    ingest = StreamingIngest(
        table,
        str(tmp_path / "ix_ck"),
        max_files_per_trigger=4,
        indexes=[idx.index.root],
    )
    q = ingest.start(spark, log_path, trigger_once=True)
    q.awaitTermination(300)
    assert ingest.index_results, "index must have been refreshed per batch"
    assert all(not r["skipped"] for _, r in ingest.index_results)

    idx = open_index(str(tmp_path / "ix_i"))
    final = table.refresh().read(spark)
    for src in [r["source"] for r in final.select("source").distinct().collect()][:3]:
        got = sorted(
            r["doc_id"] for r in idx.lookup_keys(spark, [src]).collect()
        )
        want = sorted(
            r["doc_id"] for r in final.where(F.col("source") == src).collect()
        )
        assert got == want and got, src


def test_stream_mor_maintains_matview(spark, log_path, tmp_path):
    """Matview maintenance composes with merge-on-read micro-batches: the
    point reads resolve winners against base + pending deltas."""
    from data_pipeline_spark.table.matview import create_matview, read_matview

    table = IcehouseTable.create(str(tmp_path / "mvm_t"), TABLE_SCHEMA, n_buckets=8)
    mv = create_matview(
        spark, str(tmp_path / "mvm_v"), table, ["source"], "n_tok", scale=1
    )
    ingest = StreamingIngest(
        table, str(tmp_path / "mvm_ck"), max_files_per_trigger=3,
        mode="mor", matviews=[mv.root],
    )
    q = ingest.start(spark, log_path, trigger_once=True)
    q.awaitTermination(300)
    assert table.refresh().meta.get("deltas"), "MOR deltas pending at drain"

    def key(r):
        return tuple((v is None, v) for v in r)

    got = sorted(read_matview(spark, mv.refresh()).collect(), key=key)
    want = sorted(
        table.read(spark).groupBy("source").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("n_tok").alias("n_vals"),
            F.sum(F.col("n_tok").cast("long")).alias("s"),
        ).select(
            "source", "n_rows", "n_vals",
            F.when(F.col("n_vals") > 0, F.col("s")).alias("value_sum_scaled"),
        ).collect(),
        key=key,
    )
    assert got == want and got


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_out_of_order_micro_batches_keep_consumers_exact(spark, tmp_path, mode):
    """Micro-batch 2 carries LOWER LSNs than batch 1 (a new key, a stale
    update and a stale delete of batch-1 keys), batch 3 higher ones again.
    The matview and the index refreshed after every batch end equal to a
    rebuild from the final table, which is the LWW outcome of the log."""
    from data_pipeline_spark.table.index import SecondaryIndex
    from data_pipeline_spark.table.matview import create_matview, read_matview

    batches = [
        [(100, "U", "a", "s1", 1), (101, "U", "b", "s1", 2), (102, "U", "c", "s2", 3)],
        [(5, "U", "d", "s2", 4), (6, "U", "a", "s3", 9), (7, "D", "b", None, None)],
        [(200, "U", "c", "s1", 5), (201, "D", "a", None, None), (202, "U", "e", "s3", 6)],
    ]
    log_dir = str(tmp_path / "log")
    for ep, rows in enumerate(batches, start=1):
        spark.createDataFrame(
            [(lsn, ep, op, k, None if n is None else [n], n, src) for lsn, op, k, src, n in rows],
            CHANGE_LOG_SCHEMA,
        ).coalesce(1).write.parquet(f"{log_dir}/epoch={ep}")
        for name in os.listdir(f"{log_dir}/epoch={ep}"):
            # the file source takes files in modification-time order
            os.utime(f"{log_dir}/epoch={ep}/{name}", (1_000_000 + ep, 1_000_000 + ep))
    table = IcehouseTable.create(str(tmp_path / "t"), TABLE_SCHEMA, n_buckets=4)
    mv = create_matview(spark, str(tmp_path / "mv"), table, ["source"], "n_tok", scale=1)
    idx = SecondaryIndex.create(spark, table, str(tmp_path / "idx"), "source")
    ingest = StreamingIngest(
        table, str(tmp_path / "ck"), max_files_per_trigger=1, mode=mode,
        matviews=[mv.root], indexes=[idx.index.root],
    )
    ingest.start(spark, log_dir, trigger_once=True).awaitTermination(300)
    assert ingest.batches_applied == 3
    assert len(ingest.matview_results) == len(ingest.index_results) == 3

    final = table.refresh().read(spark)
    # the stale update of a and delete of b lose to batch 1
    assert sorted((r["doc_id"], r["source"], r["n_tok"]) for r in final.collect()) == [
        ("b", "s1", 2), ("c", "s1", 5), ("d", "s2", 4), ("e", "s3", 6),
    ]
    got = sorted(tuple(r) for r in read_matview(spark, mv.refresh()).collect())
    want = sorted(
        tuple(r)
        for r in final.groupBy("source").agg(
            F.count(F.lit(1)), F.count("n_tok"), F.sum(F.col("n_tok").cast("long"))
        ).collect()
    )
    assert got == want
    assert sorted(tuple(r) for r in idx.index.refresh().read(spark).collect()) == sorted(
        (r["doc_id"], r["source"]) for r in final.collect()
    )
