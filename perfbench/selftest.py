"""Toy-size self-test of the benchmark.

    python3 perfbench/selftest.py

First runs the benchmark in a directory that holds only BENCHMARK.json and
the benchmark's files, where it must exit nonzero without printing a
result.  Then runs every workload (also one BENCHMARK.json does not list)
at toy size, untraced and traced, and asserts that the last stdout line is
the result object, that every check passed, and that every metric
BENCHMARK.json names is emitted with its declared unit (end-to-end metrics
also nonzero).  Takes about five minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--toy"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_result(bench: dict, workload: str, trace: int) -> None:
    proc = run(ROOT, workload, trace)
    assert proc.returncode == 0, f"{workload} trace={trace} exit {proc.returncode}:\n{proc.stderr[-3000:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    declared = bench["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}, (
        sorted(set(result["metrics"]) ^ {m["name"] for m in declared}))
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)
        if not trace:
            assert got["value"] > 0, (m["name"], got)
    print(f"ok  {workload} trace={trace}: {len(declared)} metrics", flush=True)


def check_bare_directory() -> None:
    """Without the engine next to it the benchmark must fail cleanly."""
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = run(bare, "bulk_replay", 0)
        assert proc.returncode != 0, "bare directory run exited 0"
        assert not proc.stdout.strip(), f"bare directory run printed: {proc.stdout!r}"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass
    print("ok  bare directory exits nonzero without a result", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    check_bare_directory()
    for name in WORKLOADS:
        for trace in (0, 1):
            check_result(bench, name, trace)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
