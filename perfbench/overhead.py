"""Tracing overhead per workload: traced end-to-end metrics minus
untraced ones, from alternating runs on the same seeds.

    python3 perfbench/overhead.py --workload warehouse_mix --seeds 1 2 3
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """End-to-end metrics of one run, from the record run.py keeps
    under the run's id (workload, seed, trace and its pid)."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if proc.wait() != 0:
        raise SystemExit(f"{workload} seed {seed} trace {trace} failed")
    path = os.path.join(ROOT, ".perfbench", "records",
                        f"{workload}-s{seed}-t{trace}-{proc.pid}.json")
    with open(path) as fh:
        return json.load(fh)["end_to_end"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=12)
    args = ap.parse_args()
    plain, traced = [], []
    for i, seed in enumerate(args.seeds):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        for trace in order:
            (traced if trace else plain).append(
                _run(args.workload, seed, args.seconds, trace))
    print(f"tracing overhead on {args.workload} "
          f"({len(args.seeds)} seeds, medians):")
    for name, (_, unit) in plain[0].items():
        a = statistics.median(r[name][0] for r in plain)
        b = statistics.median(r[name][0] for r in traced)
        print(f"  {name:<16} untraced {a:12.4f} traced {b:12.4f} "
              f"diff {b - a:+12.4f} {unit} ({(b - a) / a:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
