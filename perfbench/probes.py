"""Outside-in probes: spans kept in memory, Spark's status REST API,
``/proc`` and ``getrusage``. Nothing here reaches into the program's
modules; it only watches the processes the program runs in."""

from __future__ import annotations

import glob
import json
import os
import resource
import time
import urllib.request
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans around every operation and every layer call inside it.

    A span is ``{id, name, op, parent, start, end, attrs}``; spans of
    one operation share ``op``. Disabled tracers record nothing, so
    the untraced run pays one attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def operation(self, op_id: str, name: str, **attrs):
        prev, self.op = self.op, op_id
        try:
            with self.span(name, **attrs) as rec:
                yield rec
        finally:
            self.op = prev

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by child spans
        (children run on the caller's thread, so they never overlap)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {
            s["id"]: (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            for s in self.spans
        }

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        selft = self.self_times()
        for s in self.spans:
            s["self_s"] = selft[s["id"]]
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


class SparkRest:
    """Per-operation stage metrics from the Spark status REST API
    (the UI is on in the traced run only). Jobs are attributed to an
    operation by job-id window: ids are dense and the client is a
    closed loop of one, so every job submitted between two ``take``
    calls belongs to the operation between them — including jobs a
    helper thread submits without the caller's job group."""

    FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
              "executor_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
              "spill_mb")

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.last_job = max((j["jobId"] for j in self._get("/jobs")), default=-1)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def _settled_jobs(self) -> list[dict]:
        # the status store is fed by an async listener bus: wait until
        # every new job and its stages have reached a final state
        deadline = time.monotonic() + 10.0
        while True:
            new = [j for j in self._get("/jobs") if j["jobId"] > self.last_job]
            if all(j["status"] in ("SUCCEEDED", "FAILED") for j in new) or time.monotonic() > deadline:
                return new
            time.sleep(0.02)

    def take(self) -> dict:
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["by_group"] = {}
        new = self._settled_jobs()
        if not new:
            return out
        self.last_job = max(j["jobId"] for j in new)
        out["jobs"] = len(new)
        for j in new:
            # groups are "<op id>:<layer call>"; ungrouped jobs come
            # from helper threads inside the program
            g = (j.get("jobGroup") or ":").split(":", 1)[1] or "ungrouped"
            out["by_group"][g] = out["by_group"].get(g, 0) + 1
        for sid in sorted({s for j in new for s in j["stageIds"]}):
            try:
                attempts = self._get(f"/stages/{sid}?details=false")
            except OSError:
                continue
            for a in attempts:
                if a["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += a["numCompleteTasks"] + a["numFailedTasks"]
                out["failed_tasks"] += a["numFailedTasks"]
                out["executor_run_s"] += a["executorRunTime"] / 1e3
                out["executor_cpu_s"] += a["executorCpuTime"] / 1e9
                out["gc_s"] += a.get("jvmGcTime", 0) / 1e3
                out["shuffle_read_mb"] += a["shuffleReadBytes"] / 2**20
                out["shuffle_write_mb"] += a["shuffleWriteBytes"] / 2**20
                out["spill_mb"] += (a["memoryBytesSpilled"] + a["diskBytesSpilled"]) / 2**20
        return out

    def cached_partitions(self) -> int:
        return sum(r["numCachedPartitions"] for r in self._get("/storage/rdd"))


# ---- /proc ---------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields after "comm"


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in glob.glob("/proc/[0-9]*/stat"):
        pid = int(p.split("/")[2])
        st = _stat(pid)
        if st:
            kids.setdefault(int(st[1]), []).append(pid)
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def proc_cpu_s(pid: int, reaped: bool = False) -> float:
    st = _stat(pid)
    if not st:
        return 0.0
    n = int(st[11]) + int(st[12])  # utime, stime
    if reaped:
        n += int(st[13]) + int(st[14])  # cutime, cstime
    return n / _TICK


def driver_cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


class CpuProbe:
    """JVM, Python-worker and driver CPU seconds, from ``/proc`` and
    ``getrusage``. Workers are every descendant of the JVM (the
    pyspark daemon and its forks; exited forks are folded into the
    daemon's reaped-children time)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def read(self) -> dict:
        return {
            "jvm_cpu_s": proc_cpu_s(self.jvm_pid),
            "py_worker_cpu_s": sum(proc_cpu_s(p, reaped=True) for p in descendants(self.jvm_pid)),
            "driver_py_cpu_s": driver_cpu_s(),
        }


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of each process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def other_spark_jvms(exclude: set[int]) -> list[int]:
    """Live JVMs running Spark that this run did not start."""
    found = []
    for p in glob.glob("/proc/[0-9]*/cmdline"):
        pid = int(p.split("/")[2])
        if pid in exclude:
            continue
        try:
            with open(p, "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            found.append(pid)
    return found


def host_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two ``host_ticks`` readings."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(1, sum(d[:8]))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 0.0
