"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload NAME --seeds 1 2 3 ... \
        [--trace 0|1] [--log FILE]

Each run measures for BENCHMARK.json's run_seconds.
For every metric: the median, the quartiles from
statistics.quantiles(values, n=4), and the spread (third minus first
quartile) as a share of the median, next to the metric's bound in
BENCHMARK.json.  Each run's result line is appended to --log when
given.  Exits non-zero if any run fails or reports correct=false.
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


def spreads(results: list[dict], bounds: dict) -> list[str]:
    lines = []
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = vals[0]
        share = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        lines.append(
            f"{name:40s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}"
            f"  spread {share:6.3f}"
            + (f"  bound {bound}" if bound is not None else ""))
    return lines


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--log")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results, ok = [], True
    for seed in a.seeds:
        t = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", a.trace],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True)
        wall = time.time() - t
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode} after {wall:.1f} s")
            ok = False
            continue
        res = json.loads(lines[-1])
        ok &= res["correct"]
        results.append(res)
        print(f"seed {seed}: {wall:.1f} s wall; {lines[0]}", flush=True)
        if a.log:
            with open(a.log, "a") as f:
                f.write(json.dumps({"seed": seed, "wall_s": wall, **res}) + "\n")
    if results:
        print("\n".join(spreads(results, bounds)))
    sys.exit(0 if ok and results else 1)


if __name__ == "__main__":
    main()
