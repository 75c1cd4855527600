"""Run-to-run spread of the end-to-end metrics, and tracing overhead.

    python3 perfbench/spread.py --seeds 1-10 [--workloads a,b] [--traced 2]

Runs ``run.py`` once per (workload, seed), one process at a time, from the
repository root, with ``run_seconds`` from BENCHMARK.json.  For each
end-to-end metric it prints the median and the distance between the first
and third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the metric's bound.  With ``--traced N`` it also makes N
traced runs per workload and reports tracing overhead: traced minus
untraced median of ``unit_s_p50``.  Raw results go to
``.perfbench_out/spread-<time>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    report = [json.loads(ln.split(" ", 2)[2]) for ln in lines if ln.startswith("perfbench report ")]
    return {"workload": workload, "seed": seed, "trace": trace, "rc": proc.returncode,
            "wall_s": time.perf_counter() - t0, "result": result,
            "report": report[0] if report else None,
            "stderr_tail": proc.stderr[-2000:] if proc.returncode else ""}


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    raw = os.path.join(ROOT, ".perfbench_out", f"spread-{int(time.time())}.jsonl")
    ok = True
    with open(raw, "w") as out:
        for w in workloads:
            runs = []
            plan = [(s, 0) for s in seeds(args.seeds)] + [
                (s, 1) for s in seeds(args.seeds)[: args.traced]]
            for seed, trace in plan:
                r = run_once(w, seed, bench["run_seconds"], trace)
                out.write(json.dumps(r) + "\n")
                out.flush()
                runs.append(r)
                status = "ok" if r["result"] and r["result"]["correct"] else f"FAILED rc={r['rc']}"
                print(f"{w} seed={seed} trace={trace} {status} wall={r['wall_s']:.1f}s",
                      file=sys.stderr, flush=True)
                if status != "ok":
                    ok = False
                    print(r["stderr_tail"], file=sys.stderr)
            plain = [r["result"]["metrics"] for r in runs if r["trace"] == 0 and r["result"]]
            print(f"\n{w}: {len(plain)} untraced runs, "
                  f"wall median {statistics.median(r['wall_s'] for r in runs):.1f}s")
            for name, bound in bounds.items():
                vals = [m[name]["value"] for m in plain]
                if not vals:
                    continue
                med, sp = spread(vals)
                flag = "" if name == "setup_s" or sp <= bound / 3 else "  <-- over a third of bound"
                print(f"  {name:28s} median {med:12.4f}  spread {sp:6.3f}  bound {bound}{flag}")
            traced = [r["result"]["metrics"] for r in runs if r["trace"] == 1 and r["result"]]
            if traced and plain:
                t = statistics.median(m["trace.unit_s_p50"]["value"] for m in traced)
                u = statistics.median(m["unit_s_p50"]["value"] for m in plain)
                print(f"  tracing overhead on unit_s_p50: {t - u:+.4f}s ({(t - u) / u:+.1%})")
    print(f"\nraw results: {raw}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
