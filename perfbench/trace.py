"""Spans around calls into the engine's layers, and the Spark counters
attributed to them.

Every span runs its Spark jobs under a job group of its own, so the
status tracker (untraced runs) and the event log (traced runs) can
attribute each job, stage, task metric and SQL metric to exactly one
span. A reused group id would make the status tracker return every job
the group ever ran, so ids are never reused.

Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# Call-site prefixes of jobs started while a plan is being built
# (``spark.read.parquet`` lists files and infers the schema; eager
# "measure-then-choose" probes collect a statistic).
SCHEMA_CALL_SITES = ("parquet at",)
PROBE_CALL_SITES = ("count at", "collect at", "toPandas at", "isEmpty at")


@dataclass
class Span:
    name: str
    kind: str  # layer boundary: build, run, pass, ingest, search, ...
    request: str
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    wall_start: float = 0.0  # epoch seconds, to place event-log jobs
    wall_end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and gives each one a unique Spark job group."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, kind: str, request: str = "", **attrs):
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}-{next(self._ids)}"
        s = Span(name, kind, request, parent, group, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(group, f"{kind}:{name}")
        s.wall_start = time.time()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.wall_end = time.time()
            self._stack.pop()
            outer = self.spans[self._stack[-1]] if self._stack else None
            self.sc.setLocalProperty(
                "spark.jobGroup.id", outer.group if outer else None
            )
            self.sc.setLocalProperty(
                "spark.job.description",
                f"{outer.kind}:{outer.name}" if outer else None,
            )

    def subtree(self, idx: int) -> list[int]:
        """Span ``idx`` and every span nested in it."""
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(j for j, s in enumerate(self.spans) if s.parent == i)
        return out

    def tracker_jobs(self, idx: int) -> int:
        """Jobs the status tracker saw under span ``idx``'s own group."""
        return len(self.sc.statusTracker().getJobIdsForGroup(self.spans[idx].group))

    def write(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "kind": s.kind,
                    "request": s.request, "parent": s.parent,
                    "group": s.group, "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6), **s.attrs,
                }) + "\n")


# ------------------------------------------------------------- event log

@dataclass
class GroupStats:
    """Spark work attributed to one job group."""

    jobs: int = 0
    schema_jobs: int = 0
    probe_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    sql: Counter = field(default_factory=Counter)

    def add(self, other: "GroupStats") -> None:
        for k, v in vars(other).items():
            if k == "sql":
                self.sql.update(v)
            else:
                setattr(self, k, getattr(self, k) + v)


def _call_site(job_start: dict) -> str:
    infos = job_start.get("Stage Infos") or []
    if not infos:
        return ""
    return max(infos, key=lambda s: s["Stage ID"]).get("Stage Name", "")


def read_event_log(log_dir: str, place) -> dict[str, GroupStats]:
    """Per-job-group counters from an uncompressed Spark event log.

    Some jobs carry no job group: Spark runs parquet schema inference
    from a thread that does not inherit the caller's local properties.
    ``place(epoch_ms)`` names the group of the span that was open when
    such a job was submitted (one client, so at most one is).
    """
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    for path in paths:
        if not os.path.isfile(path) or os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        group = place(ev["Submission Time"]) or ""
                    for sid in ev.get("Stage IDs") or []:
                        stage_group.setdefault(sid, group)
                    g = stats[group]
                    g.jobs += 1
                    site = _call_site(ev)
                    g.schema_jobs += site.startswith(SCHEMA_CALL_SITES)
                    g.probe_jobs += site.startswith(PROBE_CALL_SITES)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stats[stage_group.get(sid, "")].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stats[stage_group.get(ev["Stage ID"], "")], ev)
    return stats


def _add_task(g: GroupStats, ev: dict) -> None:
    g.tasks += 1
    m = ev.get("Task Metrics") or {}
    g.run_ms += m.get("Executor Run Time", 0)
    g.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
    g.gc_ms += m.get("JVM GC Time", 0)
    g.spill_bytes += m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    sw = m.get("Shuffle Write Metrics") or {}
    g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    g.shuffle_records += sw.get("Shuffle Records Written", 0)
    inp = m.get("Input Metrics") or {}
    g.input_bytes += inp.get("Bytes Read", 0)
    g.input_records += inp.get("Records Read", 0)
    g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
        if acc.get("Metadata") == "sql" and isinstance(acc.get("Update"), (int, str)):
            try:
                g.sql[acc["Name"]] += int(acc["Update"])
            except (KeyError, ValueError):
                pass


def total(stats: dict[str, GroupStats], groups) -> GroupStats:
    out = GroupStats()
    for gid in groups:
        if gid in stats:
            out.add(stats[gid])
    return out
