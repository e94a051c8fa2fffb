"""Per-layer metrics, measured from outside the engine.

Layers (module names): ``session`` (SparkSession start-up), ``tables``
(parquet loads), ``operators`` (registry callables: driver-side plan
construction, eager probes included), ``exec`` (the Spark jobs),
``python`` (pandas/Arrow UDF workers), ``matstore`` (the session
materialization store plus the persisted-RDD cache) and ``engine``
(``HiveEngine``).

Counters come from the status tracker while the session runs and from
the event log of a traced run once it has stopped; see trace.py for how
jobs are attributed to spans. A workload reports each metric per pass
(query workloads) or per round (``ingest_search``) as the median over
its timed passes or rounds.
"""

from __future__ import annotations

import bisect
import os
import statistics

from perfbench.trace import GroupStats, Tracer, read_event_log, total

# SQL metrics of the Arrow/pandas Python exec nodes (Spark 4.1 names)
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"

# (name, unit) of every per-layer metric, in report order
LAYER_METRICS = [
    ("session.start_s", "s"),
    ("tables.schema_jobs", "count"),
    ("operators.build_s", "s"),
    ("operators.build_jobs", "count"),
    ("operators.probe_jobs", "count"),
    ("operators.run_s", "s"),
    ("exec.jobs", "count"),
    ("exec.run_jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.executor_run_ms", "ms"),
    ("exec.executor_cpu_ms", "ms"),
    ("exec.gc_ms", "ms"),
    ("exec.cpu_busy_frac", "ratio"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_records", "count"),
    ("exec.spill_bytes", "bytes"),
    ("exec.input_bytes", "bytes"),
    ("exec.output_bytes", "bytes"),
    ("python.worker_ms", "ms"),
    ("python.boot_ms", "ms"),
    ("python.bytes_sent", "bytes"),
    ("matstore.builds", "count"),
    ("cache.leaked_rdds", "count"),
    ("engine.ingest_s", "s"),
    ("engine.ingest_jobs", "count"),
    ("engine.ingest_written_bytes_per_input_byte", "ratio"),
    ("engine.search_call_s", "s"),
    ("engine.search_collect_s", "s"),
    ("engine.search_rows_scanned_per_result", "ratio"),
    ("engine.audit_files", "count"),
    ("engine.warehouse_files", "count"),
]


def cache_state(spark, matstore) -> dict:
    """Persisted RDDs in the session and entries in the matstore."""
    from pyspark.sql import DataFrame

    entries = list(matstore._CACHE.values())
    return {
        "persisted_rdds": int(spark.sparkContext._jsc.getPersistentRDDs().size()),
        "matstore_entries": len(entries),
        "matstore_frames": sum(isinstance(v, DataFrame) for v in entries),
    }


def leaked(before: dict, after: dict) -> int:
    """Persisted RDDs added between two cache states that the matstore
    does not own (each stored DataFrame owns one)."""
    return (after["persisted_rdds"] - before["persisted_rdds"]) - (
        after["matstore_frames"] - before["matstore_frames"]
    )


def pass_tally(tracer: Tracer, idx: int, orphans_before: int,
               cache_before: dict, cache_after: dict) -> dict:
    """Status-tracker job counts and cache movement of one pass."""
    sc = tracer.sc
    spans = tracer.subtree(idx)
    by_kind: dict[str, int] = {}
    for i in spans:
        kind = tracer.spans[i].kind
        by_kind[kind] = by_kind.get(kind, 0) + tracer.tracker_jobs(i)
    # jobs without a group are parquet schema inference (see trace.py),
    # which only runs while a plan is built
    orphans = len(sc.statusTracker().getJobIdsForGroup(None)) - orphans_before
    return {
        "span": idx,
        "wall_s": tracer.spans[idx].seconds,
        "tracker_build_jobs": by_kind.get("build", 0) + orphans,
        "tracker_run_jobs": by_kind.get("run", 0),
        "tracker_ungrouped_jobs": orphans,
        "cache_before": cache_before,
        "cache_after": cache_after,
        "leaked_rdds": leaked(cache_before, cache_after),
    }


def _events(run, tracer: Tracer):
    """Event-log counters per span group, ungrouped jobs placed by time."""
    spans = sorted(tracer.spans, key=lambda s: s.wall_start)
    starts = [s.wall_start * 1000 for s in spans]

    def place(t_ms: float) -> str | None:
        # innermost open span = the latest-started one still open
        for s in reversed(spans[: bisect.bisect_right(starts, t_ms)]):
            if s.wall_end * 1000 >= t_ms:
                return s.group
        return None

    return read_event_log(run.event_log, place)


def _exec(g: GroupStats, wall_s: float, cores: int) -> dict:
    return {
        "exec.jobs": g.jobs,
        "exec.stages": g.stages,
        "exec.tasks": g.tasks,
        "exec.executor_run_ms": g.run_ms,
        "exec.executor_cpu_ms": g.cpu_ms,
        "exec.gc_ms": g.gc_ms,
        "exec.cpu_busy_frac": g.cpu_ms / (wall_s * 1000 * cores),
        "exec.shuffle_write_bytes": g.shuffle_write_bytes,
        "exec.shuffle_read_bytes": g.shuffle_read_bytes,
        "exec.shuffle_records": g.shuffle_records,
        "exec.spill_bytes": g.spill_bytes,
        "exec.input_bytes": g.input_bytes,
        "exec.output_bytes": g.output_bytes,
        "python.worker_ms": g.sql[PY_RUN],
        "python.boot_ms": g.sql[PY_BOOT],
        "python.bytes_sent": g.sql[PY_SENT],
    }


def median_or_0(values) -> float:
    """Median, or 0 when there are no values (every operation failed)."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def _medians(per_unit: list[dict]) -> dict[str, tuple[float, str]]:
    out = {}
    for name, unit in LAYER_METRICS:
        vals = [d[name] for d in per_unit if name in d]
        out[name] = (float(median_or_0(vals)), unit)
    return out


def query_layers(run, passes: list[dict]) -> dict[str, tuple[float, str]]:
    tracer = run.tracer
    stats = _events(run, tracer)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    per_pass = []
    for p in passes:
        spans = [tracer.spans[i] for i in tracer.subtree(p["span"])]
        build = [s for s in spans if s.kind == "build"]
        runs = [s for s in spans if s.kind == "run"]
        b = total(stats, [s.group for s in build])
        r = total(stats, [s.group for s in runs])
        allg = total(stats, [s.group for s in spans])
        # store entries each query added (the pass starts cleared on
        # near_dup, so every addition is a build)
        # (a query that raised has no cache meter reading)
        builds = sum(
            max(0, s.attrs["cache_after"]["matstore_entries"]
                - s.attrs["cache_before"]["matstore_entries"])
            for s in runs if "cache_after" in s.attrs
        )
        m = {
            "session.start_s": run.session_s,
            "tables.schema_jobs": b.schema_jobs,
            "operators.build_s": sum(s.seconds for s in build),
            "operators.build_jobs": b.jobs,
            "operators.probe_jobs": b.probe_jobs,
            "operators.run_s": sum(s.seconds for s in runs),
            "exec.run_jobs": r.jobs,
            **_exec(allg, p["wall_s"], cores),
            "matstore.builds": builds,
            "cache.leaked_rdds": p["leaked_rdds"],
        }
        # event-log attribution must agree with the status tracker
        p["event_build_jobs"] = b.jobs
        p["event_run_jobs"] = r.jobs
        p["attribution_matches_tracker"] = (
            b.jobs == p["tracker_build_jobs"] and r.jobs == p["tracker_run_jobs"]
        )
        per_pass.append(m)
    return _medians(per_pass)


def ingest_layers(run, rounds: list[dict], warehouse: str) -> dict[str, tuple[float, str]]:
    tracer = run.tracer
    stats = _events(run, tracer)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    per_round = []
    for rd in rounds:
        if not rd["timed"]:
            continue
        spans = [tracer.spans[i] for i in tracer.subtree(rd["span"])]
        kinds: dict[str, list] = {k: [] for k in ("ingest", "search", "chat",
                                                  "collect")}
        for s in spans:
            kinds.setdefault(s.kind, []).append(s)
        ingest = total(stats, [s.group for s in kinds["ingest"]])
        calls = kinds["search"] + kinds["chat"]
        collect = total(stats, [s.group for s in kinds["collect"]])
        results = sum(s.attrs.get("rows", 0) for s in kinds["collect"])
        allg = total(stats, [s.group for s in spans])
        per_round.append({
            "session.start_s": run.session_s,
            # plan construction of the read calls: read_table passes an
            # explicit schema, so no inference job is expected here
            "tables.schema_jobs": total(stats, [s.group for s in calls]).schema_jobs,
            **_exec(allg, tracer.spans[rd["span"]].seconds, cores),
            "exec.run_jobs": collect.jobs,
            "engine.ingest_s": sum(s.seconds for s in kinds["ingest"]),
            "engine.ingest_jobs": ingest.jobs,
            "engine.ingest_written_bytes_per_input_byte":
                ingest.output_bytes / rd["input_bytes"],
            "engine.search_call_s": median_or_0(
                s.seconds for s in kinds["search"]),
            "engine.search_collect_s": median_or_0(
                s.seconds for s in kinds["collect"]),
            "engine.search_rows_scanned_per_result":
                collect.input_records / max(1, results),
        })
    out = _medians(per_round)
    _, files, audit = warehouse_usage(warehouse)
    out["engine.warehouse_files"] = (float(files), "count")
    out["engine.audit_files"] = (float(audit), "count")
    return out


def warehouse_usage(warehouse: str) -> tuple[int, int, int]:
    """Bytes and data files under a HiveEngine warehouse, and the data
    files of its audit_logs table (checksums and markers not counted)."""
    size = files = audit = 0
    for root, _, names in os.walk(warehouse):
        data = [n for n in names if not n.startswith((".", "_"))]
        files += len(data)
        size += sum(os.path.getsize(os.path.join(root, n)) for n in data)
        if os.path.relpath(root, warehouse).split(os.sep)[0] == "audit_logs":
            audit += len(data)
    return size, files, audit
