"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload near_dup --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. Everything the run writes (inputs,
Spark scratch space, the temporary warehouse, the event log) goes under
``.perfbench/`` there and is deleted at the end, except the run record
and spans, which are kept in ``.perfbench/records/``.

Output: a human-readable report of every metric (end-to-end, the
workload-specific ones, and with ``--trace 1`` every per-layer metric),
then as the last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics. Exit code 0 means the run completed (a failed
correctness check shows as ``correct: false``); any other exit code
means it could not run.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up time is counted from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _fmt(name: str, value: float, unit: str) -> str:
    return f"  {name:<44} {value:>16.6g} {unit}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "the_hive_spark", "__init__.py")):
        print("perfbench: the_hive_spark package not found at "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))

    from perfbench import workloads
    from perfbench.machine import MachineStamp

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    spec = _spec()

    stamp = MachineStamp()
    top = os.path.join(ROOT, ".perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(top, "work", run_id)
    records = os.path.join(top, "records")
    for d in (os.path.join(work, "tmp"), records):
        os.makedirs(d, exist_ok=True)
    # Python, py4j and Spark scratch files stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")

    run = workloads.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace), work, T_PROCESS)
    try:
        res = workloads.WORKLOADS[args.workload](run)
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(records, f"{run_id}.spans.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    machine = stamp.finish()
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "machine": machine,
        "end_to_end": res.metrics, "workload_metrics": res.extra,
        "per_layer": res.layers, "attempted": res.attempted,
        "failed": res.failed, "failures": res.failures[:50], **res.record,
    }
    with open(os.path.join(records, f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={machine['nproc']} SPARK_GRAFT_CPUS="
          f"{machine['spark_graft_cpus']} loadavg={machine['start']['loadavg']}"
          f"->{machine['end']['loadavg']} jvms={machine['end']['n_jvms']} "
          f"steal={machine['cpu_steal_share']}")
    print("end to end" + (" (traced run)" if args.trace else "") + ":")
    for name, (value, unit) in {**res.metrics, **res.extra}.items():
        print(_fmt(name, value, unit))
    if args.trace:
        print("per layer (median per pass or round):")
        for name, (value, unit) in res.layers.items():
            print(_fmt(name, value, unit))
    for f in res.failures[:10]:
        print(f"  FAILED {f}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res.layers if args.trace else res.metrics
    line = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]][0]),
                                "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
