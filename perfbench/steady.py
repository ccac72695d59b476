"""Steadiness command: run one workload N times, one seed each, and print each
end-to-end metric's median, quartiles and min-max spread beside its bound.

    python3 perfbench/steady.py --workload reads_sweep --runs 10 --first-seed 1

The spread that BENCHMARK.json's bounds are set from is the interquartile
distance (``statistics.quantiles(values, n=4)``) as a share of the median.
The last stdout line is a JSON summary.
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


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()

    results, walls = [], []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-4000:], file=sys.stderr)
            raise SystemExit(f"seed {seed}: exit code {proc.returncode}")
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        results.append(res)
        walls.append(wall)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed}: wall={wall:.1f}s correct={res['correct']} failed={res['failed']}/{res['attempted']} {vals}",
              flush=True)

    summary = {"workload": args.workload, "runs": args.runs, "mean_run_wall_s": statistics.mean(walls), "metrics": {}}
    print(f"\n{'metric':<12} {'median':>10} {'q1':>10} {'q3':>10} {'iqr/med':>8} {'min':>10} {'max':>10} {'bound':>6}")
    for name in results[0]["metrics"]:
        v = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        summary["metrics"][name] = {"median": med, "q1": q1, "q3": q3, "iqr_share": spread,
                                    "min": min(v), "max": max(v), "bound": bounds.get(name)}
        print(f"{name:<12} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} {spread:>8.3f} {min(v):>10.4g} {max(v):>10.4g} "
              f"{bounds.get(name, float('nan')):>6}")
    shares = {r["failed"] / r["attempted"] for r in results}
    summary["failed_shares"] = sorted(shares)
    summary["all_correct"] = all(r["correct"] for r in results)
    print(f"failed shares: {sorted(shares)}; all correct: {summary['all_correct']}")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
