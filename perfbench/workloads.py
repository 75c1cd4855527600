"""The three benchmark workloads, driven through the engine's public API.

Each workload has four phases:

- ``prepare(rep)``: a fresh table plus its base load.  The harness runs it
  several times and reports the median, so set-up time is steady.
- ``attach()``: the rest of the set-up, once, on the last prepared table.
- ``timed()``: the closed loop measured for ``--seconds``.
- ``verify()``: the correctness oracles, off the clock.

``bulk_replay``  COW ReplayRunner over large epochs, no consumers: the LWW
                 merge and bucket rewrite do nearly all the work.
``epoch_loop``   MOR ReplayRunner with ratio compaction over a pre-loaded
                 base, ~1k-event epochs, and after each epoch a matview
                 refresh, an index refresh and a Debezium emit: per-job
                 fixed cost and the consumers dominate.
``serve_reads``  the same MOR writer runs a fixed number of epochs and
                 leaves deltas pending; the clock then times a seeded mix
                 of point reads, feed reads, full scans and shard exports
                 against that pinned snapshot.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.cdc.changelog import read_change_log
from data_pipeline_spark.cdc.emit import emit_to_files
from data_pipeline_spark.cdc.replay import ReplayRunner
from data_pipeline_spark.operators.shards import write_training_shards
from data_pipeline_spark.table.icehouse import IcehouseTable
from data_pipeline_spark.table.index import create_index
from data_pipeline_spark.table.matview import create_matview, refresh_matview

import checks
from inputs import LogShape, materialize

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)
COMPACT_RATIO, COMPACT_MIN_FILES = 0.5, 4
TABLE_PROPS = {"write.stats-columns": "n_tok", "write.bloom.columns": "doc_id"}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def span_s(spans: list[dict]) -> float:
    """Median duration of ``spans``."""
    return median([s["end"] - s["start"] for s in spans])


def span_jobs(spans: list[dict]) -> float:
    """Median Spark jobs submitted inside ``spans``."""
    return median([s["spark_jobs"] for s in spans])


class Workload:
    """Shared plumbing: inputs, tables, per-epoch file ledger, outcome
    counters.  Subclasses define the phases."""

    name = ""
    # wall seconds of one unit of timed work on a 4-CPU host: a run does
    # round(seconds / unit_estimate_s) units, so the parent and a change do
    # identical work and each run measures about ``--seconds``
    unit_estimate_s = 1.0
    min_units = 1
    n_buckets = 32

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer, toy: bool):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.units = self.min_units if toy else max(
            self.min_units, round(seconds / self.unit_estimate_s)
        )
        self.shape = self.log_shape(toy)
        self.unit_s: list[float] = []  # one sample per unit of timed work
        self.report: dict[str, tuple[float, str]] = {}  # workload metrics
        self.layer: dict[str, float] = {}  # traced per-layer metrics
        self.attempted = 0
        self.failed: list[str] = []
        self.table: IcehouseTable | None = None
        self.events_in = 0
        self.epoch_rows: list[dict] = []  # traced per-epoch ledger diffs
        # runs before each timed unit, off the clock: a block of the
        # host-speed reference (calibrate.py)
        self.before_unit = lambda: None
        self.before_unit_s = 0.0

    # -- inputs --------------------------------------------------------------

    def make_inputs(self) -> None:
        path = os.path.join(self.work, "log")
        materialize(self.spark, path, self.shape, self.seed)
        self.log = read_change_log(self.spark, path)

    # -- outcome accounting --------------------------------------------------

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(name)

    def new_table(self, rep: int) -> IcehouseTable:
        root = os.path.join(self.work, f"rep{rep}")
        self.rep_root = root
        return IcehouseTable.create(
            os.path.join(root, "table"), SCHEMA, key_col="doc_id",
            n_buckets=self.n_buckets, properties=TABLE_PROPS,
        )

    def drop_rep(self, rep: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"rep{rep}"), ignore_errors=True)

    # -- replay with optional ledger -----------------------------------------

    def files_snapshot(self) -> dict[str, tuple]:
        return {
            r["path"]: (r["partition"], r["kind"], r["bytes"])
            for r in self.table.refresh().files(self.spark).collect()
        }

    def replay_epoch(self, runner: ReplayRunner, ep: int) -> float:
        """Apply one epoch through ``runner``; returns its wall seconds.
        Traced runs diff ``files()``/``history()`` around it, outside the
        span."""
        before = versions0 = None
        if self.tracer.enabled:
            before = self.files_snapshot()
            versions0 = self.table.history(self.spark).count()
        t0 = time.perf_counter()
        with self.tracer.span("cdc.replay.run", epoch=ep) as sp:
            rep = runner.run(self.log, epochs=[ep])
            er = rep.epochs[0]
            sp.update(events=er.events, applied=er.events_applied, skipped=er.skipped,
                      epoch_s=er.seconds)
        dt = time.perf_counter() - t0
        self.table = runner.table
        self.events_in += er.events
        self.check(f"epoch {ep} applied (not skipped)", not er.skipped)
        if self.tracer.enabled:
            after = self.files_snapshot()
            added = {p: after[p] for p in after.keys() - before.keys()}
            removed = {p: before[p] for p in before.keys() - after.keys()}
            self.epoch_rows.append(
                {
                    "commits": self.table.history(self.spark).count() - versions0,
                    "buckets_rewritten": len({v[0] for v in added.values() if v[1] == "base"}),
                    "files_added": len(added),
                    "files_removed": len(removed),
                    "bytes_written": sum(v[2] for v in added.values()),
                    "compactions": len({v[0] for v in removed.values() if v[1] == "delta"}
                                       & {v[0] for v in added.values() if v[1] == "base"}),
                }
            )
        return dt

    def replay_layers(self) -> None:
        runs = self.tracer.spans_named("cdc.replay.run")
        self.layer["cdc.replay.epoch_s"] = median([s["attrs"]["epoch_s"] for s in runs])
        self.layer["cdc.replay.spark_jobs"] = span_jobs(runs)
        ev = sum(s["attrs"]["events"] for s in runs)
        self.layer["cdc.replay.events_applied_ratio"] = (
            sum(s["attrs"]["applied"] for s in runs) / ev if ev else 0.0
        )
        self.layer["cdc.replay.skipped_epochs"] = sum(1 for s in runs if s["attrs"]["skipped"])
        for k in ("commits", "buckets_rewritten", "files_added", "files_removed", "bytes_written"):
            self.layer[f"table.icehouse.{k}"] = median([r[k] for r in self.epoch_rows])
        self.layer["table.icehouse.compactions"] = sum(r["compactions"] for r in self.epoch_rows)
        self.layer["table.icehouse.delta_files"] = sum(
            1 for v in self.files_snapshot().values() if v[1] == "delta"
        )
        self.layer["table.icehouse.compaction_debt_buckets"] = len(
            self.table.buckets_needing_compaction(COMPACT_RATIO, COMPACT_MIN_FILES)
        )

    def unit_gap(self) -> None:
        t0 = time.perf_counter()
        self.before_unit()
        self.before_unit_s += time.perf_counter() - t0

    def timed_epochs(self, step) -> None:
        """Closed loop: epochs ``1..units``, each after the previous one."""
        t0 = time.perf_counter()
        for ep in range(1, self.units + 1):
            self.unit_gap()
            step(ep)
        self.loop_s = time.perf_counter() - t0 - self.before_unit_s
        self.last_epoch = self.units

    # -- shared verification -------------------------------------------------

    def verify_table(self):
        """Table vs the LWW reduction of the input log; returns the table's
        live rows for the derived-surface checks."""
        self.table = self.table.refresh()
        rows = self.table.read(self.spark)
        self.table_sig = checks.sig(rows.select(*checks.ROW_COLS))
        self.live_rows = self.table_sig[0]
        self.check("table == LWW(log)",
                   self.table_sig == checks.sig(checks.expected_rows(self.log, self.last_epoch)))
        return rows

    def table_bytes(self) -> int:
        return sum(
            r["bytes"] for r in self.table.refresh().files(self.spark).collect()
        )


class BulkReplay(Workload):
    name = "bulk_replay"
    unit_estimate_s = 3.0
    min_units = 2

    def log_shape(self, toy: bool) -> LogShape:
        if toy:
            return LogShape(base_events=2_000, epoch_events=4_000, n_epochs=self.units, n_docs=3_000)
        return LogShape(base_events=50_000, epoch_events=100_000, n_epochs=self.units, n_docs=60_000)

    def prepare(self, rep: int) -> None:
        self.table = self.new_table(rep)
        self.runner = ReplayRunner(self.table, os.path.join(self.rep_root, "ck.json"), mode="cow")
        self.runner.run(self.log, epochs=[0])
        self.table = self.runner.table

    def attach(self) -> None:
        pass

    def timed(self) -> None:
        self.timed_epochs(lambda ep: self.unit_s.append(self.replay_epoch(self.runner, ep)))
        self.report["events_per_s"] = (self.events_in / sum(self.unit_s), "1/s")
        self.report["epoch_s_p50"] = (median(self.unit_s), "s")

    def verify(self) -> None:
        self.verify_table()

    def layers(self) -> None:
        self.replay_layers()


class MorWorkload(Workload):
    """A COW base load, then a MOR runner with ratio compaction.

    Eight buckets: a 1k-event epoch leaves about 125 rows per bucket.  With
    32 buckets an epoch took about 13 s on a 4-CPU host, which left room for
    only one epoch sample per run."""

    n_buckets = 8

    def prepare(self, rep: int) -> None:
        self.table = self.new_table(rep)
        ck = os.path.join(self.rep_root, "ck.json")
        ReplayRunner(self.table, ck, mode="cow").run(self.log, epochs=[0])
        self.runner = ReplayRunner(
            self.table.refresh(), ck, mode="mor",
            compact_ratio=COMPACT_RATIO, compact_min_files=COMPACT_MIN_FILES,
        )
        self.table = self.runner.table


class EpochLoop(MorWorkload):
    name = "epoch_loop"
    unit_estimate_s = 10.0
    index_value = "src3"

    def log_shape(self, toy: bool) -> LogShape:
        if toy:
            return LogShape(base_events=2_000, epoch_events=500, n_epochs=self.units, n_docs=1_500)
        return LogShape(base_events=10_000, epoch_events=1_000, n_epochs=self.units, n_docs=5_000)

    def attach(self) -> None:
        r = self.rep_root
        self.mv = create_matview(self.spark, os.path.join(r, "mv"), self.table, ["source"], "n_tok", scale=1)
        self.index = create_index(self.spark, self.table, os.path.join(r, "idx"), "source")
        self.feed_dir = os.path.join(r, "feed")
        self.emit_ck = os.path.join(r, "emit_ck.json")
        emit_to_files(self.spark, self.table.root, self.feed_dir, self.emit_ck)
        self.maint_s: list[float] = []

    def step(self, ep: int) -> None:
        tr, spark = self.tracer, self.spark
        apply_s = self.replay_epoch(self.runner, ep)
        t0 = time.perf_counter()
        with tr.span("table.matview.refresh_matview") as sp:
            sp["mode"] = refresh_matview(spark, self.mv.refresh()).mode
        with tr.span("table.index.refresh"):
            self.index.refresh(spark)
        with tr.span("cdc.emit.emit_to_files") as sp:
            out = emit_to_files(spark, self.table.root, self.feed_dir, self.emit_ck)
            sp.update(rows=out["rows"], files=out["files"])
        self.unit_s.append(apply_s + time.perf_counter() - t0)
        # maintenance after every epoch, outside the epoch sample
        t0 = time.perf_counter()
        with tr.span("table.icehouse.maintenance"):
            cold = IcehouseTable.load(self.table.root)
            cold.expire_snapshots(keep_last=3)
            cold.remove_orphan_files(grace_seconds=0.0)
            cold.compact_epoch_registry(keep_recent=5)
        self.maint_s.append(time.perf_counter() - t0)

    def timed(self) -> None:
        self.timed_epochs(self.step)
        self.report["events_per_s"] = (self.events_in / self.loop_s, "1/s")
        self.report["epoch_s_p50"] = (median(self.unit_s), "s")
        self.report["maintenance_s_p50"] = (median(self.maint_s), "s")

    def verify(self) -> None:
        rows = self.verify_table().select(*checks.ROW_COLS)
        self.check("matview == GROUP BY", checks.matview_matches(self.spark, self.mv, rows))
        self.check("index lookup == base filter",
                   checks.index_matches(self.spark, self.index, rows, self.index_value))
        self.check("mirror from feed == table", checks.mirror_matches(
            self.spark, self.feed_dir, SCHEMA, os.path.join(self.rep_root, "mirror"), self.table_sig))

    def layers(self) -> None:
        self.replay_layers()
        tr = self.tracer
        self.layer["table.icehouse.maintenance_s"] = span_s(
            tr.spans_named("table.icehouse.maintenance")
        )
        mvs = tr.spans_named("table.matview.refresh_matview")
        self.layer["table.matview.refresh_s"] = span_s(mvs)
        self.layer["table.matview.refresh_spark_jobs"] = span_jobs(mvs)
        for mode in ("incremental", "full"):
            self.layer[f"table.matview.refreshes_{mode}"] = sum(
                1 for s in mvs if s["attrs"]["mode"] == mode
            )
        ix = tr.spans_named("table.index.refresh")
        self.layer["table.index.refresh_s"] = span_s(ix)
        self.layer["table.index.refresh_spark_jobs"] = span_jobs(ix)
        em = tr.spans_named("cdc.emit.emit_to_files")
        self.layer["cdc.emit.emit_s"] = span_s(em)
        self.layer["cdc.emit.emit_spark_jobs"] = span_jobs(em)
        self.layer["cdc.emit.emit_rows"] = median([s["attrs"]["rows"] for s in em])
        self.layer["cdc.emit.emit_files"] = median([s["attrs"]["files"] for s in em])


class ServeReads(MorWorkload):
    name = "serve_reads"
    unit_estimate_s = 3.5
    # a fresh reader's first round pays one-off planning costs, and later
    # rounds keep getting faster as the JIT warms up (so does the reference
    # that calibrates them); the median of four leaves the first one out
    min_units = 4
    writer_epochs = 2
    keys_per_read = 10
    # one serving round, in a seeded order
    round_mix = ("point",) * 3 + ("feed", "scan", "export")

    def log_shape(self, toy: bool) -> LogShape:
        if toy:
            return LogShape(base_events=2_000, epoch_events=500, n_epochs=2, n_docs=1_500)
        return LogShape(
            base_events=10_000, epoch_events=1_000, n_epochs=self.writer_epochs, n_docs=5_000
        )

    def attach(self) -> None:
        for ep in range(1, self.shape.n_epochs + 1):
            self.replay_epoch(self.runner, ep)
        self.last_epoch = self.shape.n_epochs
        # pinned snapshot: nothing writes to the table after this point
        self.table = IcehouseTable.load(self.table.root)
        # feed from the middle of the writer epochs
        self.watermark = self.shape.base_events + self.shape.epoch_events * (
            self.shape.n_epochs // 2
        )
        self.export_path = os.path.join(self.rep_root, "shards")
        self.point_results: list[tuple[list, list]] = []
        self.feed_results: list[tuple] = []
        self.scan_results: list[tuple] = []
        self.exports: list[dict] = []
        self.op_s: dict[str, list[float]] = {k: [] for k in set(self.round_mix)}

    def op(self, kind: str, rng: random.Random) -> None:
        tr, spark, t = self.tracer, self.spark, self.table
        df = None  # the read's DataFrame, for the traced file count
        t0 = time.perf_counter()
        if kind == "point":
            keys = [f"doc_{rng.randrange(self.shape.n_docs):08d}" for _ in range(self.keys_per_read)]
            with tr.span("table.icehouse.read_for_keys") as sp:
                df = t.read_for_keys(spark, keys)
                rows = df.select(*checks.ROW_COLS).collect()
            self.point_results.append((keys, rows))
        elif kind == "feed":
            with tr.span("table.icehouse.read_changed_since") as sp:
                df = t.read_changed_since(spark, self.watermark)
                got = checks.feed_sig(df)
            sp["rows"] = got[0]
            self.feed_results.append(got)
        elif kind == "scan":
            with tr.span("table.icehouse.read") as sp:
                df = t.read(spark)
                got = checks.sig(df.select(*checks.ROW_COLS))
            self.scan_results.append(got)
        else:
            with tr.span("operators.shards.write_training_shards") as sp:
                m = write_training_shards(
                    t.read(spark), self.export_path, shard_rows=4096,
                    overwrite=True, cleanup_grace_seconds=0.0,
                )
            sp["shards"] = m["n_shards"]
            self.exports.append(m)
        self.op_s[kind].append(time.perf_counter() - t0)
        if tr.enabled and df is not None:
            # planning-time file count, outside the span
            sp["files"] = len(df.inputFiles())

    def serve_round(self, rng: random.Random) -> float:
        mix = list(self.round_mix)
        rng.shuffle(mix)
        t0 = time.perf_counter()
        for kind in mix:
            self.op(kind, rng)
        return time.perf_counter() - t0

    def timed(self) -> None:
        rng = random.Random(self.seed)
        t0 = time.perf_counter()
        for _ in range(self.units):
            self.unit_gap()
            self.unit_s.append(self.serve_round(rng))
        self.loop_s = time.perf_counter() - t0 - self.before_unit_s
        calls = sum(len(v) for v in self.op_s.values())
        self.report["calls_per_s"] = (calls / self.loop_s, "1/s")
        for kind, name in (("point", "point_read_s_p50"), ("feed", "feed_read_s_p50"),
                           ("scan", "scan_s_p50"), ("export", "export_s")):
            self.report[name] = (median(self.op_s[kind]), "s")

    def verify(self) -> None:
        want_rows = checks.expected_rows(self.log, self.last_epoch)
        want_scan = checks.sig(want_rows)
        for got in self.scan_results:
            self.check("scan == LWW(log)", got == want_scan)
        want_feed = checks.expected_feed_sig(self.log, self.last_epoch, self.watermark)
        for got in self.feed_results:
            self.check("feed == LWW winners past watermark", got == want_feed)
        keys = sorted({k for ks, _ in self.point_results for k in ks})
        want = {
            r["doc_id"]: tuple(r)
            for r in want_rows.where(F.col("doc_id").isin(keys)).collect()
        }
        for ks, rows in self.point_results:
            expect = sorted((want[k] for k in set(ks) if k in want), key=lambda r: r[0])
            self.check("point read == LWW(log)", sorted(map(tuple, rows), key=lambda r: r[0]) == expect)
        for m in self.exports:
            self.check("export manifest == table",
                       (m["n_rows"], m["n_tokens"]) == (want_scan[0], want_scan[2]))
        self.live_rows = want_scan[0]

    def layers(self) -> None:
        self.replay_layers()
        tr = self.tracer
        n_live = len(self.files_snapshot())
        for name, key in (("read_for_keys", "table.icehouse.read_for_keys"),
                          ("read_changed_since", "table.icehouse.read_changed_since"),
                          ("read", "table.icehouse.read")):
            sps = tr.spans_named(key)
            self.layer[f"table.icehouse.{name}_s"] = span_s(sps)
            self.layer[f"table.icehouse.{name}_files_scanned"] = median(
                [s["attrs"]["files"] for s in sps])
        pts = tr.spans_named("table.icehouse.read_for_keys")
        self.layer["table.icehouse.read_for_keys_spark_jobs"] = span_jobs(pts)
        self.layer["table.icehouse.read_for_keys_scan_share"] = (
            self.layer["table.icehouse.read_for_keys_files_scanned"] / n_live if n_live else 0.0
        )
        self.layer["table.icehouse.read_changed_since_rows"] = median(
            [s["attrs"]["rows"] for s in tr.spans_named("table.icehouse.read_changed_since")])
        ex = tr.spans_named("operators.shards.write_training_shards")
        self.layer["operators.shards.export_s"] = span_s(ex)
        self.layer["operators.shards.export_spark_jobs"] = span_jobs(ex)
        self.layer["operators.shards.export_shards"] = median([s["attrs"]["shards"] for s in ex])
        target = os.path.realpath(self.export_path)
        self.layer["operators.shards.export_bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(target) for f in fs if f.endswith(".parquet")
        )


WORKLOADS = {w.name: w for w in (BulkReplay, EpochLoop, ServeReads)}
