"""Measurement probes: process CPU and memory from ``/proc``, the host
context stamp, and Spark execution counters from the driver's
monitoring REST API.

Nothing here changes what Spark runs, and every REST read happens
outside the timed parts: in a traced run after each operation, and in an
untraced ``analyst_queries`` run once after each pass, for the bytes the
pass scanned.
"""

from __future__ import annotations

import json
import os
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def cpu_s(pids) -> float:
    """User plus system CPU seconds of the given processes."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            total += int(fields[11]) + int(fields[12])
    return total / _TICK


def tree_cpu_s() -> float:
    """CPU seconds of this process and everything it started: the
    driver's Python, the JVM and Spark's Python workers."""
    me = os.getpid()
    return cpu_s([me, *descendants(me)])


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _cpu_mhz() -> float:
    mhz = []
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("cpu MHz"):
                mhz.append(float(line.split(":")[1]))
    return round(sum(mhz) / len(mhz), 1) if mhz else 0.0


class HostContext:
    """Load, steal time and clock speed around a run. It is recorded
    beside the result and is never used to gate or scale a metric."""

    def __init__(self):
        self._steal0 = _steal_jiffies()
        self.load1_before = os.getloadavg()[0]

    def stamp(self) -> dict:
        return {
            "load1_before": round(self.load1_before, 2),
            "load1_after": round(os.getloadavg()[0], 2),
            "steal_jiffies": _steal_jiffies() - self._steal0,
            "cpu_mhz": _cpu_mhz(),
            "nproc": os.cpu_count(),
        }


class StageCounters:
    """Per-job-group execution counters from the live UI's REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._base = (f"{sc.uiWebUrl}/api/v1/applications/"
                      f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the UI store has seen every finished event."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, group: str) -> dict[str, float]:
        """Summed counters of every stage attempt of ``group``'s jobs."""
        self.drain()
        tracker = self._sc.statusTracker()
        stage_ids = set()
        for job in self.job_ids(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(
            ("stages", "tasks", "task_s", "task_cpu_s", "gc_s",
             "shuffle_write_mb", "spill_mb", "failed_tasks", "input_mb"),
            0.0,
        )
        for sid in sorted(stage_ids):
            for att in self._get(f"/stages/{sid}?details=false"):
                if att["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += att["numCompleteTasks"] + att["numFailedTasks"]
                out["task_s"] += att["executorRunTime"] / 1e3
                out["task_cpu_s"] += att["executorCpuTime"] / 1e9
                out["gc_s"] += att["jvmGcTime"] / 1e3
                out["shuffle_write_mb"] += att["shuffleWriteBytes"] / 2**20
                out["spill_mb"] += att["diskBytesSpilled"] / 2**20
                out["failed_tasks"] += att["numFailedTasks"]
                out["input_mb"] += att["inputBytes"] / 2**20
        return out

    def pinned_mb(self) -> float:
        """Memory plus disk held by persisted RDDs right now."""
        self.drain()
        return sum(r["memoryUsed"] + r["diskUsed"]
                   for r in self._get("/storage/rdd")) / 2**20
