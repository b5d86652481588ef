#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

From the repository root:

    python3 perfbench/spread.py --workload by_month --seeds 1-10

For every end-to-end metric of BENCHMARK.json it prints the median of the
runs and the spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, next to
the metric's bound. A spread is steady when it is under a third of its
bound. ``--json PATH`` also writes every run's result.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    p.add_argument("--json", type=Path)
    args = p.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    runs = []
    for seed in seeds(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        result.update(seed=seed, wall_s=wall)
        runs.append(result)
        print(f"seed {seed}: {wall:.1f}s correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']}", flush=True)

    if args.json:
        args.json.write_text(json.dumps(runs, indent=1))
    print(f"\n{'metric':<24}{'median':>14}{'spread':>9}{'bound':>8}  steady")
    steady = True
    for m in spec["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med
        ok = spread < m["bound"] / 3 or m["name"] == "setup_s"
        steady &= ok
        print(f"{m['name']:<24}{med:>14.4f}{spread:>9.3f}{m['bound']:>8.2f}  {'yes' if ok else 'NO'}")
    print(f"\nwall per run: median {statistics.median(r['wall_s'] for r in runs):.1f}s, "
          f"max {max(r['wall_s'] for r in runs):.1f}s; all correct: "
          f"{all(r['correct'] for r in runs)}")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
