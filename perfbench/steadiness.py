#!/usr/bin/env python3
"""Run the benchmark several times with different seeds and summarise the
spread of every metric.

    python3 perfbench/steadiness.py --workload browse --runs 10 --seed0 100 \\
        [--seconds 10] [--trace 0] [--out perfbench/results/browse.json]

For each metric it reports the median and the first and third quartiles
(`statistics.quantiles(values, n=4)`) and the spread, (q3 - q1) / median,
next to the bound BENCHMARK.json gives that metric.  Runs are sequential.
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


def summarise(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    runs = []
    for i in range(args.runs):
        seed = args.seed0 + i
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True)
        wall = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        report = [ln for ln in p.stderr.splitlines() if " passes=" in ln]
        res.update(seed=seed, wall_s=wall, report=report[-1] if report else "")
        runs.append(res)
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: wall {wall:.1f}s correct={res['correct']} {vals}\n  {res['report']}",
              file=sys.stderr, flush=True)

    names = list(runs[0]["metrics"])
    summary = {
        "workload": args.workload, "seconds": seconds, "trace": args.trace,
        "seeds": [r["seed"] for r in runs],
        "reports": [r["report"] for r in runs],
        "all_correct": all(r["correct"] and r["failed"] == 0 for r in runs),
        "wall_s": summarise([r["wall_s"] for r in runs]),
        "metrics": {},
    }
    for name in names:
        s = summarise([r["metrics"][name]["value"] for r in runs])
        s["unit"] = runs[0]["metrics"][name]["unit"]
        s["bound"] = bounds.get(name)
        summary["metrics"][name] = s
        print(f"{name:>22}: median {s['median']:.4f} q1 {s['q1']:.4f} q3 {s['q3']:.4f} "
              f"spread {s['spread']:.3f} bound {s['bound']}", file=sys.stderr)
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
