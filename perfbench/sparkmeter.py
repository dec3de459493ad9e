"""Spark-layer accounting for the traced run; process CPU and memory.

Each benchmark operation runs under its own job group. The traced run
enables Spark's JSON event log in the benchmark's work directory; after an
operation the listener bus is drained and the new lines are parsed, so
jobs, stages, tasks, shuffle bytes, spill, executor run time, scheduler
delay and bytes sent to Python workers are attributed to the operation
whose job group started them. Nothing here runs inside the package.
"""

from __future__ import annotations

import gc
import json
import os
from collections import defaultdict
from contextlib import contextmanager

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
    "executor_run_s", "scheduler_delay_s", "python_bytes_sent",
)
PYTHON_SENT = "data sent to Python workers"


def scheduler_delay_ms(info: dict, metrics: dict) -> float:
    """The Spark UI's scheduler delay for one task: its wall time less
    deserialisation, run, result serialisation and result fetching."""
    getting = info.get("Getting Result Time", 0)
    fetch = info["Finish Time"] - getting if getting > 0 else 0
    busy = (
        metrics.get("Executor Run Time", 0)
        + metrics.get("Executor Deserialize Time", 0)
        + metrics.get("Result Serialization Time", 0)
        + fetch
    )
    return max(0.0, float(info["Finish Time"] - info["Launch Time"] - busy))


class EventLog:
    """Incremental reader of an uncompressed, non-rolling event log file;
    totals are kept per job group."""

    def __init__(self, path: str):
        self.path = path
        self._pos = 0
        self._stage_group: dict[int, str] = {}
        self._stages: dict[str, set] = defaultdict(set)
        self.totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0.0))

    def poll(self) -> None:
        if not os.path.exists(self.path):
            return
        with open(self.path, "rb") as f:
            f.seek(self._pos)
            data = f.read()
        end = data.rfind(b"\n") + 1  # a line still being written waits
        for line in data[:end].splitlines():
            if line.strip():
                self.feed(json.loads(line))
        self._pos += end

    def feed(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                return
            self.totals[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                self._stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = self._stage_group.get(ev.get("Stage ID"))
            if group is None:
                return
            t = self.totals[group]
            info = ev.get("Task Info") or {}
            metrics = ev.get("Task Metrics") or {}
            self._stages[group].add(ev["Stage ID"])
            t["stages"] = len(self._stages[group])
            t["tasks"] += 1
            t["shuffle_write_bytes"] += (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            t["spill_bytes"] += metrics.get("Disk Bytes Spilled", 0)
            t["executor_run_s"] += metrics.get("Executor Run Time", 0) / 1000.0
            if "Finish Time" in info and "Launch Time" in info:
                t["scheduler_delay_s"] += scheduler_delay_ms(info, metrics) / 1000.0
            t["python_bytes_sent"] += sum(
                int(a.get("Update", 0)) for a in info.get("Accumulables", []) if a.get("Name") == PYTHON_SENT
            )


class SparkMeter:
    """Runs operations under labelled job groups and, when an event log is
    given, returns each operation's Spark totals."""

    def __init__(self, spark, event_log_path: str | None = None):
        self.sc = spark.sparkContext
        self.log = EventLog(event_log_path) if event_log_path else None
        self._seq = 0

    @contextmanager
    def op(self, name: str, sink: list | None = None):
        """Run the block under a fresh job group for ``name``; when tracing,
        append that block's Spark totals to ``sink``."""
        self._seq += 1
        group = f"{name}#{self._seq}"
        self.sc.setJobGroup(group, name, False)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        if self.log is not None and sink is not None:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            self.log.poll()
            sink.append(dict(self.log.totals[group]))


def event_log_file(log_dir: str, app_id: str) -> str:
    return os.path.join(log_dir, f"{app_id}.inprogress")


# -- processes ---------------------------------------------------------------

class MemoryMeter:
    """Peak memory of the Python driver plus the JVM since ``restart``.

    The driver's part is its resident-set high-water mark. The JVM's part
    is the peak use of its old generation (data that outlives young
    collections, and every humongous object) plus its non-heap pools
    (metaspace, code cache), read from the JVM's memory-pool beans. The
    young generation is left out: its peak is the size the collector gave
    it, not what the program keeps, and the JVM's resident set, which
    includes it, follows which heap regions the collector happened to
    touch first (its quartile spread over five seeds was 13-20 %)."""

    def __init__(self, spark):
        self.jvm = spark.sparkContext._jvm
        beans = self.jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        self.pools = [b for b in beans if not any(w in b.getName() for w in ("Eden", "Survivor"))]
        self.pid = os.getpid()

    def restart(self) -> None:
        """Collect garbage in the driver and in the JVM (a full GC leaves
        the old generation holding only live data), then restart the
        peaks, so the next reading is what the work that follows needs."""
        gc.collect()
        self.jvm.java.lang.System.gc()
        for b in self.pools:
            b.resetPeakUsage()
        with open(f"/proc/{self.pid}/clear_refs", "w") as f:
            f.write("5")

    def peak_mib(self) -> float:
        jvm_bytes = sum(b.getPeakUsage().getUsed() for b in self.pools)
        with open(f"/proc/{self.pid}/status") as f:
            hwm_kib = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return jvm_bytes / 2**20 + hwm_kib / 1024.0


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_tree(pids) -> list[int]:
    """The given processes and all their live descendants (Linux)."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parents.setdefault(int(_stat(int(entry))[1]), []).append(int(entry))
            except (OSError, IndexError):
                pass
    out, todo = set(), list(pids)
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.add(pid)
            todo += parents.get(pid, [])
    return sorted(out)


def cpu_seconds(pids) -> float:
    """CPU time used so far by the processes, their live descendants and
    the descendants they have reaped (Linux, user plus system)."""
    ticks = 0
    for pid in process_tree(pids):
        try:
            f = _stat(pid)
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")
