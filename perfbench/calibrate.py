"""Host-speed calibration for the benchmark's time metrics.

The shared host this benchmark runs on changes speed over minutes (the
same Python loop ran 2.5x slower in one phase than in another), so raw
wall times of identical work spread past any useful bound from run to
run.  Each run therefore also times a fixed reference job, in a block of
a few runs before each timed unit and one more after the last, and
reports the units' times in calibrated seconds::

    calibrated_s = wall_s * REF_NOMINAL_S / reference_s

that is, the time the work would take on a host that runs the reference
in ``REF_NOMINAL_S``.  ``reference_s`` is the mean of the two blocks that
bracket the unit, so the reference sees the host as the unit did.  The raw
walls and the reference samples are in the run's report line.

Set-up time is reported raw.  Most of it is the JVM's start and first
jobs, which the reference tracks only sometimes: dividing by it narrowed
set-up's spread on one workload and widened it on the other
(``perfbench/README.md`` has the figures).

The reference uses only Spark, never the engine: it writes a small
parquet file, reads it back with a filter and a shuffle aggregation, and
collects.  That is the mix of per-job overhead and small I/O that
dominates the engine's calls, so it slows down with them.  A change to the
engine leaves it alone; a change to the Spark session settings moves it
too, and shows in the traced metric ``session.ref_s``.

The first runs after start-up are slow while the JIT warms up, and the
first run after engine work is slow too, so neither is counted.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

# the reference's time on a 4-CPU host in a fast phase; it only scales the
# calibrated values into seconds
REF_NOMINAL_S = 0.4
REF_ROWS = 40_000
REF_GROUPS = 16
WARMUP = 2
PER_BLOCK = 2


class Reference:
    def __init__(self, spark, root: str, cpus: int):
        self.spark, self.root, self.cpus = spark, root, cpus
        self.blocks: list[list[float]] = []
        self.failed = 0
        self.runs = 0
        for _ in range(WARMUP):
            self._once()

    def _once(self) -> float:
        self.runs += 1
        path = os.path.join(self.root, f"ref{self.runs}")
        t0 = time.perf_counter()
        self.spark.range(0, REF_ROWS, numPartitions=self.cpus).selectExpr(
            "id", f"id % {REF_GROUPS} AS g", "sha2(CAST(id AS STRING), 256) AS h"
        ).write.parquet(path)
        rows = (
            self.spark.read.parquet(path)
            .where(f"g < {REF_GROUPS // 2}")
            .groupBy("g")
            .agg({"h": "max", "id": "count"})
            .collect()
        )
        dt = time.perf_counter() - t0
        shutil.rmtree(path, ignore_errors=True)
        if len(rows) != REF_GROUPS // 2 or sum(r["count(id)"] for r in rows) != REF_ROWS // 2:
            self.failed += 1
        return dt

    def block(self) -> None:
        """A discarded run, then ``PER_BLOCK`` counted ones."""
        self._once()
        self.blocks.append([self._once() for _ in range(PER_BLOCK)])

    @property
    def samples(self) -> list[float]:
        return [s for b in self.blocks for s in b]

    @property
    def speed_s(self) -> float:
        """The reference's time over the whole run."""
        return statistics.mean(self.samples)

    def calibrate_units(self, unit_s: list[float]) -> list[float]:
        """Each timed unit at the nominal speed of the blocks around it:
        unit ``i`` ran between blocks ``i`` and ``i + 1``."""
        assert len(self.blocks) == len(unit_s) + 1, (len(self.blocks), len(unit_s))
        return [
            u * REF_NOMINAL_S / statistics.mean(self.blocks[i] + self.blocks[i + 1])
            for i, u in enumerate(unit_s)
        ]
