"""Measurement plumbing shared by the workloads: Spark sessions, timed and
checked ops with timeouts, host noise records, memory high-water marks,
spans, and the offline Spark event-log parser."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field


# --------------------------------------------------------------- host


def cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat, or None when unreadable."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return (vals[7], sum(vals)) if len(vals) == 8 else None


def steal_pct(a, b) -> float | None:
    if a is None or b is None or b[1] <= a[1]:
        return None
    return 100.0 * (b[0] - a[0]) / (b[1] - a[1])


def host_record() -> dict:
    mem = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem = int(line.split()[1]) * 1024
    except OSError:
        pass
    try:
        load = os.getloadavg()
    except OSError:
        load = None
    return {"nproc": os.cpu_count(), "mem_total_bytes": mem,
            "driver_heap": os.environ.get("SPARK_DRIVER_MEM"),
            "loadavg": load}


def _status_kb(pid: int, key: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (OSError, ValueError):
        return None
    return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                s = f.read()
        except OSError:
            continue
        ppid = int(s[s.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(stat.split("/")[2]))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def process_hwm_mb() -> dict[str, float]:
    """Kernel high-water marks (VmHWM) of this driver, its JVM and the
    largest live Python worker under the JVM, in MB."""
    kids = _children()
    desc, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            desc.append(c)
            todo.append(c)
    jvm = [p for p in desc if _comm(p) == "java"]
    workers = [p for p in desc if _comm(p).startswith("python")]
    mb = lambda kb: (kb or 0) / 1024.0  # noqa: E731
    return {
        "driver": mb(_status_kb(os.getpid(), "VmHWM")),
        "jvm": max((mb(_status_kb(p, "VmHWM")) for p in jvm), default=0.0),
        "worker": max((mb(_status_kb(p, "VmHWM")) for p in workers), default=0.0),
    }


# --------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent); disabled tracers record
    nothing, so untraced runs pay only a no-op context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]


# --------------------------------------------------------------- ops


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Sample:
    seconds: float          # inf for a failed or timed-out op
    records: int
    steal_pct: float | None
    group: str              # Spark job group, the key into the event log


@dataclass
class Runner:
    """Runs ops closed-loop from one client: each op's user-visible part is
    timed, then its output check runs untimed. Failures (exception, check,
    timeout) are counted and enter the latency samples as infinity."""

    tracer: Tracer
    timeout_s: float = 90.0
    attempted: int = 0
    failed: int = 0
    samples: dict[str, list[Sample]] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    group_seq: int = 0

    def run(self, spark, name: str, op, *, timed: bool, check: bool = True) -> Sample:
        self.attempted += 1
        self.group_seq += 1
        group = f"{name}#{self.group_seq}"
        sc = spark.sparkContext
        sc.setJobGroup(group, name, interruptOnCancel=True)
        timer = threading.Timer(self.timeout_s, sc.cancelJobGroup, (group,))
        timer.daemon = True
        j0 = cpu_jiffies()
        t0 = time.perf_counter()
        ok = True
        records = 0
        try:
            timer.start()
            with self.tracer.span(name, group=group):
                records, checker = op()
            elapsed = time.perf_counter() - t0
            j1 = cpu_jiffies()
            expect(elapsed <= self.timeout_s, f"{name}: timed out")
            if check and checker is not None:
                checker()
        except Exception:  # one op's failure must not end the run
            ok = False
            elapsed = float("inf")
            j1 = cpu_jiffies()
            self.failed += 1
            self.errors.append(f"{group}: {traceback.format_exc(limit=3)}")
        finally:
            timer.cancel()
            sc.setLocalProperty("spark.jobGroup.id", None)
        s = Sample(elapsed, records, steal_pct(j0, j1), group)
        if timed:
            self.samples.setdefault(name, []).append(s)
        return s


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def rate(samples: list[Sample]) -> float:
    """Median records/s over reps; a failed rep counts as rate 0."""
    return median([s.records / s.seconds if s.seconds > 0 else 0.0
                   for s in samples])


# --------------------------------------------------------------- event log


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: task durations (s) and shuffle bytes written, from a
    Spark JSON event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                g = out.setdefault(group, {"task_s": [], "shuffle_bytes": 0})
                g["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
                g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
    return out


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1e3


# --------------------------------------------------------------- sessions


def session_conf(work: str, event_log: str | None) -> dict[str, str]:
    heap = os.environ["SPARK_DRIVER_MEM"]
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fully committed, pre-touched heap: the JVM's resident size no
        # longer depends on when GC happened to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch "
                                         f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf
