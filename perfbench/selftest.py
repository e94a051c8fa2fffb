"""Self-test of the benchmark's job attribution.

    python3 perfbench/selftest.py

Runs ``warehouse_mix`` traced for at least three passes and checks:

- every span had a job group of its own;
- the status tracker's per-pass construction and run job counts repeat
  exactly from pass to pass (the headline queries read fixed inputs,
  so any drift means jobs were attributed to the wrong pass);
- the event log attributes the same jobs to each pass's construction
  and run spans as the status tracker does.

Exit code 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run  # noqa: E402


def main() -> int:
    rc = run.main(["--workload", "warehouse_mix", "--seed", "7",
                   "--seconds", "36", "--trace", "1"])
    if rc != 0:
        return rc
    # run.main names the run's record files after this process
    stem = os.path.join(run.ROOT, ".perfbench", "records",
                        f"warehouse_mix-s7-t1-{os.getpid()}")
    with open(stem + ".json") as fh:
        rec = json.load(fh)
    passes = rec["passes"]
    with open(stem + ".spans.jsonl") as fh:
        groups = [json.loads(line)["group"] for line in fh]
    counts = {(p["tracker_build_jobs"], p["tracker_run_jobs"]) for p in passes}
    checks = {
        "at least three passes": len(passes) >= 3,
        "one job group per span": len(groups) == len(set(groups)),
        "per-pass construction and run job counts repeat": len(counts) == 1,
        "event log matches status tracker": all(
            p["attribution_matches_tracker"] for p in passes),
        "outputs correct": rec["failed"] == 0,
    }
    print("pass (build jobs, run jobs):",
          [(p["tracker_build_jobs"], p["tracker_run_jobs"]) for p in passes])
    for name, ok in checks.items():
        print(f"  {'ok  ' if ok else 'FAIL'} {name}")
    return 0 if all(checks.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
