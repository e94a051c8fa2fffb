"""Machine stamp and process memory, read from /proc.

A run on a contended host should read as contended: every run record
carries the core count, the load average at start and end, the number
of JVMs running on the host, and the share of CPU time the hypervisor
stole over the run.
"""

from __future__ import annotations

import os


def _cpu_times() -> list[int] | None:
    """Aggregate jiffies from the ``cpu`` line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            for line in fh:
                if line.startswith("cpu "):
                    return [int(x) for x in line.split()[1:]]
    except OSError:
        pass
    return None


def _n_jvms() -> int:
    n = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    n += fh.read().strip() == "java"
            except OSError:
                pass
    return n


def _loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


class MachineStamp:
    """Host state at the start and end of a run."""

    def __init__(self) -> None:
        self.start = {"loadavg": _loadavg(), "n_jvms": _n_jvms()}
        self._cpu0 = _cpu_times()

    def finish(self) -> dict:
        end = {"loadavg": _loadavg(), "n_jvms": _n_jvms()}
        steal = None
        cpu1 = _cpu_times()
        if self._cpu0 and cpu1 and len(cpu1) > 7:
            delta = [b - a for a, b in zip(self._cpu0, cpu1)]
            total = sum(delta[:8])  # user..steal; guest is inside user
            steal = round(delta[7] / total, 4) if total else 0.0
        return {
            "nproc": os.cpu_count(),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "start": self.start,
            "end": end,
            "cpu_steal_share": steal,
        }


def _pids(jvm_pid: int | None) -> list[str]:
    return ["self"] + ([str(jvm_pid)] if jvm_pid is not None else [])


def reset_peak_rss(jvm_pid: int | None) -> None:
    """Reset the high-water marks read by ``peak_rss_mb`` to the current
    resident size (``clear_refs`` value 5, Linux 4.0 and later)."""
    for pid in _pids(jvm_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this process plus the JVM since the last
    ``reset_peak_rss`` (or since they started), in MiB.

    The sum of the two high-water marks (``VmHWM``): each is exact, and
    the two peaks need not coincide, so this bounds the joint peak from
    above.
    """
    kb = 0
    for pid in _pids(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0
