"""Benchmark inputs: seeded change logs, materialized as parquet before any
timed work.

The engine under test never sees the generator: runs read the files back
through ``read_change_log``, and the correctness oracles read the same
files.  Epoch 0 is the base load (``base_events``); epochs ``1..n_epochs``
carry ``epoch_events`` each.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import functions as F


@dataclass(frozen=True)
class LogShape:
    base_events: int
    epoch_events: int
    n_epochs: int
    n_docs: int

    @property
    def n_events(self) -> int:
        return self.base_events + self.epoch_events * self.n_epochs


def materialize(spark, path: str, shape: LogShape, seed: int) -> None:
    """Write the change log for ``seed`` to ``path``, partitioned by epoch."""
    from data_pipeline_spark.cdc.changelog import generate_change_log

    log = generate_change_log(
        spark, n_events=shape.n_events, n_docs=shape.n_docs, seed=seed
    )
    # the generator numbers equal-sized epochs; renumber from the lsn so the
    # first ``base_events`` form epoch 0 (duplicates share their lsn)
    lsn = F.col("lsn")
    epoch = F.when(lsn < shape.base_events, F.lit(0)).otherwise(
        ((lsn - shape.base_events) / shape.epoch_events).cast("int") + 1
    )
    log = log.withColumn("epoch", epoch.cast("int"))
    log.write.partitionBy("epoch").parquet(path)
