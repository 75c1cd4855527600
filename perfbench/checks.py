"""Correctness oracles.  Each one recomputes a surface from the input
change log (or from the table, for derived surfaces) with plain Spark SQL,
never through the engine call it checks."""

from __future__ import annotations

from pyspark.sql import functions as F

ROW_COLS = ("doc_id", "tokens", "n_tok", "source")


def lww_winners(log, last_epoch: int):
    """Winning event per key over epochs ``0..last_epoch`` (deletes kept)."""
    return (
        log.where(F.col("epoch") <= last_epoch)
        .groupBy("doc_id")
        .agg(
            F.max_by(
                F.struct("lsn", "op", "tokens", "n_tok", "source"), F.col("lsn")
            ).alias("w")
        )
        .select("doc_id", "w.lsn", "w.op", "w.tokens", "w.n_tok", "w.source")
    )


def expected_rows(log, last_epoch: int):
    """Live rows the table must hold after ``last_epoch``."""
    return lww_winners(log, last_epoch).where(F.col("op") != "D").select(*ROW_COLS)


def sig(df, cols=ROW_COLS) -> tuple:
    """Order-insensitive signature of a row set with unique keys: row count,
    XOR of row hashes (cannot overflow under ANSI) and the token total."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("h"),
        F.sum("n_tok").alias("s"),
    ).collect()[0]
    return (row["n"], row["h"], row["s"] or 0)


def feed_sig(df) -> tuple:
    """Signature of a changed-since feed: live winners and tombstones."""
    row = df.select(
        F.xxhash64(
            "doc_id", F.coalesce(F.col("_deleted"), F.lit(False)), "n_tok", "source"
        ).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("h")).collect()[0]
    return (row["n"], row["h"])


def expected_feed_sig(log, last_epoch: int, lsn_watermark: int) -> tuple:
    w = lww_winners(log, last_epoch).where(F.col("lsn") > lsn_watermark)
    return feed_sig(w.withColumn("_deleted", F.col("op") == "D"))


def matview_matches(spark, mv, table_rows) -> bool:
    from data_pipeline_spark.table.matview import read_matview

    got = {
        (r["source"], r["n_rows"], r["value_sum_scaled"])
        for r in read_matview(spark, mv.refresh()).collect()
    }
    want = {
        (r["source"], r["n"], r["s"])
        for r in table_rows.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("s"))
        .collect()
    }
    return got == want


def index_matches(spark, index, table_rows, value: str) -> bool:
    got = sig(index.lookup_keys(spark, [value]).withColumn("n_tok", F.lit(0)), ("doc_id",))
    want = sig(
        table_rows.where(F.col("source") == value).select("doc_id", F.lit(0).alias("n_tok")),
        ("doc_id",),
    )
    return got == want and want[0] > 0


def mirror_matches(spark, feed_dir: str, schema, mirror_root: str, table_sig: tuple) -> bool:
    """Rebuild a table from the emitted Debezium feed; its signature must
    equal the table's."""
    from data_pipeline_spark.cdc.apply import apply_changes
    from data_pipeline_spark.sources.debezium import debezium_to_change_events
    from data_pipeline_spark.table.icehouse import IcehouseTable

    raw = spark.read.text(f"{feed_dir}/delta_*")
    events = debezium_to_change_events(raw, schema, value_col="value")
    mirror = IcehouseTable.create(mirror_root, schema, key_col="doc_id", n_buckets=8)
    apply_changes(mirror, events, epoch=0, epoch_source="mirror")
    return sig(mirror.refresh().read(spark).select(*ROW_COLS)) == table_sig
