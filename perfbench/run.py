"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload epoch_loop --seed 1 --seconds 14 --trace 0

Run from the repository root.  The run pins and echoes its environment,
materializes its seeded input, sets up (the repeatable part several times,
reporting the median), measures about ``--seconds`` of the workload's
closed loop, checks every output against an oracle, removes everything it
wrote, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics from a traced
run (spans are written to ``.perfbench_out/``).  Exits nonzero on any
failed check.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
DRIVER_MEM = "3g"
MIB = 1024 * 1024


def declared_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def shm_used() -> int:
    st = os.statvfs("/dev/shm")
    return (st.f_blocks - st.f_bfree) * st.f_frsize


def status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_jvms() -> list[int]:
    """The JVMs this process started (Python workers are not counted)."""
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            tids = os.listdir(f"/proc/{pid}/task")
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    out.append(pid)
        except OSError:
            continue
        for tid in tids:
            try:  # threads come and go while we walk them
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
            except OSError:
                pass
    return out


def peak_rss_mb() -> float:
    """High-water RSS (VmHWM) of this Python process plus its JVM."""
    pids = [os.getpid()] + child_jvms()
    return sum(status_kb(p, "VmHWM") for p in pids) / 1024


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="toy input sizes (self-test)")
    return ap.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Pin every knob that moves the numbers, identically on every run."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_GC": "g1",
        # a fixed-size heap keeps G1's sizing decisions out of the numbers;
        # JVM temp files and perf data stay inside the work dir
        "SPARK_GRAFT_GC_OPTS": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
    }
    # each of these would override a setting below
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_LOCAL_DIR", "SPARK_LOCAL_DIRS"):
        os.environ.pop(k, None)
    os.environ.update(env)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    return {"cpus": cpus, "master": f"local[{cpus}]", "shuffle_partitions": 2 * cpus,
            "env": env, "conf": conf}


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def old_gen_peak_mb(spark, reset: bool = False) -> float:
    """Peak of the heap's old-generation pool: the data that survives young
    collections.  (With a fixed-size heap the young pools' peaks only echo
    their sizes.)"""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = [p for p in mf.getMemoryPoolMXBeans() if "Old Gen" in p.getName()]
    if reset:
        for p in pools:
            p.resetPeakUsage()
        return 0.0
    return sum(p.getPeakUsage().getUsed() for p in pools) / MIB


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_pipeline_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from calibrate import Reference
    from spans import NullTracer, Tracer
    from workloads import WORKLOADS, median

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    shm0 = shm_used()
    os.makedirs(work)
    spark = None
    try:
        pinned = pin_environment(work)
        print("perfbench env " + json.dumps(pinned, sort_keys=True), flush=True)

        from data_pipeline_spark.session import get_spark

        spark = get_spark(
            "perfbench", master=pinned["master"],
            shuffle_partitions=pinned["shuffle_partitions"], extra_conf=pinned["conf"],
        )
        boot_s = time.perf_counter() - T_START
        ref = Reference(spark, os.path.join(work, "ref"), pinned["cpus"])
        tracer = Tracer(spark, run_id) if args.trace else NullTracer()
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, tracer, args.toy)
        wl.before_unit = ref.block

        t0 = time.perf_counter()
        with tracer.span("bench.inputs"):
            wl.make_inputs()
        inputs_s = time.perf_counter() - t0

        prep_s = []
        with tracer.span("bench.setup"):
            for rep in range(SETUP_REPEATS):
                if rep:
                    wl.drop_rep(rep - 1)
                t0 = time.perf_counter()
                wl.prepare(rep)
                prep_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.attach()
            attach_s = time.perf_counter() - t0
        setup_s = boot_s + statistics.median(prep_s) + attach_s

        old_gen_peak_mb(spark, reset=True)
        gc0 = tracer.gc_ms() if args.trace else 0
        with tracer.span("bench.timed"):
            wl.timed()
        ref.block()
        gc_s = (tracer.gc_ms() - gc0) / 1000 if args.trace else 0.0
        heap_mb = old_gen_peak_mb(spark)
        peak_rss = peak_rss_mb()

        t0 = time.perf_counter()
        with tracer.span("bench.verify"):
            wl.verify()
            table_bytes = wl.table_bytes()
        verify_s = time.perf_counter() - t0
        if args.trace:
            wl.layers()
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{run_id}.jsonl"))

        # unit times in calibrated seconds (see calibrate.py)
        unit_p50 = median(ref.calibrate_units(wl.unit_s))
        wl.report.update(
            {
                "setup_s": (setup_s, "s"),
                "unit_s_p50": (unit_p50, "s"),
                "unit_wall_s_p50": (median(wl.unit_s), "s"),
                "ref_s": (ref.speed_s, "s"),
                "units": (len(wl.unit_s), "count"),
                "inputs_s": (inputs_s, "s"),
                "attach_s": (attach_s, "s"),
                "verify_s": (verify_s, "s"),
                "wall_s": (time.perf_counter() - T_START, "s"),
                "failed_op_share": (len(wl.failed) / max(wl.attempted, 1), "1"),
            }
        )
        e2e = {
            "setup_s": setup_s,
            "unit_s_p50": unit_p50,
            "peak_rss_mb": peak_rss,
            "table_bytes_per_live_row": table_bytes / max(wl.live_rows, 1),
        }
        if args.trace:
            units = declared_units("per_layer")
            layer = dict.fromkeys(units, 0.0)  # 0 = layer not called here
            layer.update(wl.layer)
            layer.update(
                {
                    "session.start_s": boot_s,
                    "session.ref_s": ref.speed_s,
                    "session.jvm_gc_s": gc_s,
                    "session.jvm_heap_peak_mb": heap_mb,
                    "trace.unit_s_p50": unit_p50,
                    "trace.spans": len(tracer.spans),
                }
            )
            metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
        else:
            units = declared_units("end_to_end")
            metrics = {k: {"value": e2e[k], "unit": units[k]} for k in units}
        print(
            "perfbench report " + json.dumps(
                {"workload": wl.name, "seed": args.seed, "prepare_s": prep_s,
                 "unit_s": wl.unit_s, "ref_s": ref.blocks,
                 "failed_checks": wl.failed,
                 "metrics": {k: {"value": v, "unit": u} for k, (v, u) in wl.report.items()}}
            ),
            flush=True,
        )
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass

    failed = len(wl.failed) + ref.failed
    leaked = shm_used() - shm0
    if os.path.exists(work) or leaked > MIB:
        print(f"perfbench: cleanup incomplete (work dir left or /dev/shm +{leaked} B)",
              file=sys.stderr)
        failed += 1
    print(json.dumps({"correct": failed == 0, "attempted": wl.attempted + ref.runs + 1,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
