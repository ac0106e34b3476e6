#!/usr/bin/env python3
"""Record a baseline: two sets of untraced runs and a pair of traced runs
per workload, on one commit.

    python3 perfbench/baseline.py --runs 10 --seconds 8

Each untraced run uses its own seed (set A: 1..runs, set B: 101..100+runs),
as a steadiness check of the benchmark does. For every end-to-end metric the
record gives each set's per-run values, median, quartiles and spread (the
distance between the quartiles as a share of the median), and set B's
median shift against set A. The two traced runs (same seed) give the
per-layer numbers, the tracing overhead (traced minus untraced medians of
the end-to-end metrics) and whether job, stage and task counts repeat
exactly. Writes ``perfbench/baseline.json``.
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
COUNTS = ["session.jobs", "session.stages", "session.tasks"]


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, "out", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        report = json.load(f)
    print(f"{workload} seed={seed} trace={trace} exit={proc.returncode} wall={wall:.1f}s "
          f"correct={last['correct']}", flush=True)
    return {"exit": proc.returncode, "wall_s": wall, "line": last, "report": report}


def spread(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "n": len(values),
            "spread": (q3 - q1) / med if med else None, "values": values}


def end_to_end_sets(runs: list[dict]) -> dict:
    names = runs[0]["report"]["end_to_end"].keys()
    return {
        name: spread([r["report"]["end_to_end"][name]["median"] for r in runs])
        for name in names
        if all(r["report"]["end_to_end"][name]["median"] is not None for r in runs)
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    record = {"seconds": args.seconds, "runs_per_set": args.runs, "nproc": os.cpu_count(),
              "workloads": {}}
    for w in workloads:
        sets = {
            "A": [run_once(w, s, args.seconds, 0) for s in range(1, args.runs + 1)],
            "B": [run_once(w, s, args.seconds, 0) for s in range(101, 101 + args.runs)],
        }
        traced = [run_once(w, 1, args.seconds, 1) for _ in range(2)]
        a, b = end_to_end_sets(sets["A"]), end_to_end_sets(sets["B"])
        untraced = {k: statistics.median(a[k]["values"] + b[k]["values"]) for k in a}
        traced_e2e = {
            k: statistics.median([t["report"]["end_to_end"][k]["median"] for t in traced])
            for k in a
        }
        layer_runs = [{k: v["median"] for k, v in t["report"]["per_layer"].items()} for t in traced]
        rec = {
            "set_A": a,
            "set_B": b,
            "median_shift_B_vs_A": {k: (b[k]["median"] - a[k]["median"]) / a[k]["median"]
                                    for k in a if a[k]["median"]},
            "gated": {
                k: {"bound": bounds[k], "spread_A": a[k]["spread"], "spread_B": b[k]["spread"],
                    "shift_B_vs_A": (b[k]["median"] - a[k]["median"]) / a[k]["median"]}
                for k in bounds
            },
            "all_correct": all(r["exit"] == 0 for s in sets.values() for r in s)
            and all(t["exit"] == 0 for t in traced),
            "run_wall_s": spread([r["wall_s"] for s in sets.values() for r in s]),
            "traced_run_wall_s": [t["wall_s"] for t in traced],
            "tracing_overhead": {
                k: {"untraced": untraced[k], "traced": traced_e2e[k],
                    "traced_minus_untraced": traced_e2e[k] - untraced[k]}
                for k in a
            },
            "per_layer": layer_runs,
            "counts_repeat": all(layer_runs[0][c] == layer_runs[1][c] for c in COUNTS),
            "per_op": traced[0]["report"]["per_op"],
        }
        record["workloads"][w] = rec
        with open(os.path.join(HERE, "baseline.json"), "w") as f:
            json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
