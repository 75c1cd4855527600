"""SparkSession factory tuned for this engine.

Local mode is a single JVM; on a real cluster the same configs apply per
executor.  Arrow is enabled because every Python hook in this engine is a
vectorized pandas/Arrow UDF (zero per-row Python — per the engine contract).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Largest change set / key list the engine handles on the driver: literal
# key lists up to this size become an IN predicate instead of a semi join
# (read_for_keys), and matview / secondary-index refreshes whose changed rows
# fit under it collect them and skip the Spark jobs that only re-derive what
# the driver already holds.  The parquet IN-pushdown threshold below is set
# to the same value so every inlined list stays an exact pushed filter.
SMALL_BATCH_ROWS = 1000


def _default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half the host's
    physical RAM, at most 48g (a local-mode driver is the whole engine, and
    the other half stays for Python, off-heap buffers and the page cache)."""
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{max(1024, min(48 << 10, ram_mb // 2))}m"


def _gc_threads(master: str) -> int:
    """GC threads sized to the local[N] task-core budget (min 2, max 16)."""
    import re

    m = re.match(r"local\[(\d+)\]", master or "")
    if m:
        return max(2, min(int(m.group(1)), 16))
    return max(2, min((os.cpu_count() or 8) // 2, 16))


def _gc_jvm_opts(master: str | None) -> str:
    """JVM GC flags; ``SPARK_GRAFT_GC=parallel|g1`` overrides (default g1 —
    see the batch-volume measurement note at the call site).

    The G1 defaults deliberately relax pause targeting: this is a batch
    engine, nothing is latency-sensitive, so a 2 s pause budget plus a
    large young gen (40-80% of heap) buys ParallelGC-class young-collection
    throughput on the allocation-heavy merge path while keeping G1's
    incremental old-gen collection (the property that prevents the full-GC
    collapse at large epoch volumes).  Measured on the 32M-row-epoch replay:
    790k ev/s vs 216k under ParallelGC at identical partitioning.
    ``SPARK_GRAFT_GC_OPTS`` appends/overrides individual flags.
    """
    choice = os.environ.get("SPARK_GRAFT_GC", "g1").lower()
    extra = os.environ.get("SPARK_GRAFT_GC_OPTS", "")
    threads = _gc_threads(master or "")
    if choice == "parallel":
        base = f"-XX:+UseParallelGC -XX:ParallelGCThreads={threads}"
    else:
        base = (
            f"-XX:+UseG1GC -XX:ParallelGCThreads={threads} "
            "-XX:+UnlockExperimentalVMOptions -XX:MaxGCPauseMillis=2000 "
            "-XX:G1NewSizePercent=40 -XX:G1MaxNewSizePercent=80"
        )
    return f"{base} {extra}".strip()


def get_spark(
    app_name: str = "data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    - AQE on: runtime coalescing + skew-join handling at scale.
    - shuffle.partitions ~ cores locally; on a 1000-executor cluster this is
      overridden to ~2-3x total cores via ``extra_conf``.
    - UTC session timezone so results hash-compare cleanly against the
      DuckDB oracle (DuckDB timestamps are UTC-naive).
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        # GC: tuned G1 (big young gen + relaxed pause target, see
        # _gc_jvm_opts) — measured faster than ParallelGC at EVERY batch
        # volume on the replay path (BENCH.md "GC at volume": 16M-event MOR
        # 579k vs 558k ev/s, COW 508k vs 375k; 32M-row epochs 790k vs 216k,
        # where ParallelGC's stop-the-world full collections collapse once
        # an epoch's sort/agg buffers push into old gen).  Plain ParallelGC
        # stays selectable via SPARK_GRAFT_GC=parallel.  GC threads are
        # pinned to the task-core budget: the JVM default (#machine-cores)
        # oversubscribes CPU and measurably slows every parallelism level
        # (409k vs 231k events/s at local[8] in the replay bench).
        .config("spark.driver.extraJavaOptions", _gc_jvm_opts(master))
        .config("spark.executor.extraJavaOptions", _gc_jvm_opts(master))
        # v2 commit algorithm: task outputs move to the destination at task
        # commit instead of a serial driver-side rename sweep.  Safe for this
        # engine: snapshot visibility is decided by the icehouse metadata CAS,
        # never by the presence of files in a data dir.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Point-lookup pushdown: read_for_keys' literal-IN path relies on the
        # predicate reaching the parquet reader as exact membership.  Above
        # this threshold Spark degrades IN to a [min,max] range check, which
        # prunes nothing for hash-scattered keys — raise it to the literal
        # cap used by read_for_keys/matview (SMALL_BATCH_ROWS) so row-group
        # dictionary / bloom evaluation stays exact for every key set we
        # ever inline.
        .config("spark.sql.parquet.pushdown.inFilterThreshold", str(SMALL_BATCH_ROWS))
    )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
