"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workloads analytics serve_poll --seeds 1 2 3 4 5
                                [--seconds 8] [--out runs.json]

Runs ``run.py --trace 0`` once per (workload, seed), one run at a time,
and prints for each metric its median and the distance between the first
and third quartile (``statistics.quantiles(n=4)``) as a share of the
median, next to the metric's bound from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for wl in args.workloads:
        for seed in args.seeds:
            cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(last)
            record = [line for line in p.stderr.splitlines() if line.startswith('{"workload"')]
            runs.append({"workload": wl, "seed": seed, "exit": p.returncode, **res,
                         "record": json.loads(record[-1]) if record else None})
            vals = {k: round(v["value"], 4) for k, v in res.get("metrics", {}).items()}
            print(f"{wl} seed={seed} exit={p.returncode} correct={res.get('correct')} {vals}",
                  flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    print(f"{'workload':<12} {'metric':<20} {'median':>12} {'iqr/median':>11} {'bound':>6}")
    for wl in args.workloads:
        done = [r for r in runs if r["workload"] == wl and r.get("metrics")]
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in done]
            if len(vals) < 2:
                continue
            q1, _q2, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            print(f"{wl:<12} {name:<20} {med:>12.4f} {(q3 - q1) / med:>11.3f} {bound:>6}")
    return 0 if all(r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
