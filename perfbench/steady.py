"""Steadiness runner: repeat each workload over several seeds and report each
end-to-end metric's median, quartiles and spread against its bound.

    python3 perfbench/steady.py --runs 10 --out perfbench/steadiness.json
    python3 perfbench/steady.py --workloads sssp --runs 5 --traced

Spread is ``(q3 - q1) / median`` with the quartiles of
``statistics.quantiles(values, n=4)``; a metric is steady when its spread is
below a third of its bound in ``BENCHMARK.json``.  ``--traced`` also makes
two traced runs per workload with the same seed, checks that their counts
repeat exactly, and states the tracing overhead: the traced op median over
the untraced one.
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
# traced counts that must repeat exactly for one seed
REPEATABLE = (
    "graph.rounds", "graph.reached_nodes", "runtime.jobs", "runtime.stages",
    "runtime.tasks", "similarity.rows_scored",
)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    print(f"  {workload} seed {seed} trace {trace}: {wall:.1f} s wall, "
          f"{lines[-2] if len(lines) > 1 else ''}", flush=True)
    return {"wall_s": wall, **result}


def summarize(values: list[float], bound: float) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / med
    return {"median": med, "q1": q1, "q3": q3, "spread": spread,
            "bound": bound, "steady": spread < bound / 3, "values": values}


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    report = {"run_seconds": bench["run_seconds"], "cpus": os.cpu_count(), "workloads": {}}
    for wl in args.workloads:
        runs = [
            run_once(wl, args.first_seed + i, bench["run_seconds"], 0) for i in range(args.runs)
        ]
        entry = {
            "failed": sum(r["failed"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "run_wall_s": summarize([r["wall_s"] for r in runs], 1.0)["median"],
            "metrics": {
                name: summarize([r["metrics"][name]["value"] for r in runs], bound)
                for name, bound in bounds.items()
            },
        }
        print(f"{wl}: {entry['failed']} of {entry['attempted']} ops failed")
        for name, s in entry["metrics"].items():
            print(f"  {name:12s} median {s['median']:.4g}  q1 {s['q1']:.4g}  "
                  f"q3 {s['q3']:.4g}  spread {s['spread']:.3f}  bound {s['bound']}  "
                  f"{'steady' if s['steady'] else 'NOT STEADY'}")
        if args.traced:
            traced = [run_once(wl, args.first_seed, bench["run_seconds"], 1) for _ in range(2)]
            counts = [
                {k: t["metrics"][k]["value"] for k in REPEATABLE} for t in traced
            ]
            op_traced = statistics.median(
                t["metrics"]["trace.op_p50_s"]["value"] for t in traced
            )
            entry["traced"] = {
                "counts": counts,
                "counts_repeat": counts[0] == counts[1],
                "overhead": op_traced / entry["metrics"]["op_p50_s"]["median"],
                "metrics": [t["metrics"] for t in traced],
            }
            print(f"  traced counts repeat: {counts[0] == counts[1]}  "
                  f"overhead {entry['traced']['overhead']:.3f}x")
        report["workloads"][wl] = entry
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
