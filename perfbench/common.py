"""Shared harness pieces: span tracer, Spark/JVM counters read from
outside the engine, latency statistics and filesystem accounting."""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable


class Tracer:
    """In-memory spans: one per call into a layer's public function.

    Disabled, ``span`` costs one branch and ``materialize`` does
    nothing, so the untraced run keeps the engine's fused lazy plans.
    Enabled, ``materialize`` runs an operator's output to the ``noop``
    sink inside the caller's span, so the work lands in that span.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id, "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def materialize(self, df) -> None:
        if self.enabled:
            df.write.format("noop").mode("overwrite").save()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its children cover (children of
        one span run sequentially, so their union is their sum)."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def layer(self, name: str, timed_only: bool = True) -> tuple[float, int]:
        """(total self seconds, calls) over spans called ``name``; by
        default only spans inside timed operations."""
        st = self.self_times()
        hits = [
            st[s["id"]] for s in self.spans
            if s["name"] == name and (s["op"] is not None or not timed_only)
        ]
        return sum(hits), len(hits)

    def mean_ms(self, name: str) -> float:
        total, n = self.layer(name)
        return 1000.0 * total / n if n else 0.0


class SparkCounters:
    """Jobs/stages/tasks per job group from the status tracker, GC time
    and heap use from the JVM's management beans."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._mf = self.sc._jvm.java.lang.management.ManagementFactory

    def group(self, group: str) -> dict[str, int]:
        jobs = list(self.tracker.getJobIdsForGroup(group))
        stages = tasks = failed = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()))

    def heap_used_mb(self) -> float:
        return self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


@dataclass
class Op:
    """One closed-loop operation, timed around ``fn`` only.

    ``kind`` names it in the trace; ``cls`` is ``query`` (read) or
    ``commit`` (write); ``group`` is the op group it belongs to.
    ``prepare`` (optional) runs first: client-side work such as drawing
    the next change batch. ``fn`` returns the user rows it conformed or
    changed, if it knows them. ``check`` (optional) receives fn's return,
    raises on a wrong output, and may return the row count instead."""

    kind: str
    cls: str
    fn: Callable[[], Any]
    check: Callable[[Any], None] | None = None
    prepare: Callable[[], None] | None = None
    group: str = ""


@dataclass
class OpRecord:
    group: str
    kind: str
    cls: str
    ms: float
    rows: int
    ok: bool
    counters: dict = field(default_factory=dict)


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, n), or None below eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    s = sorted(samples)
    return s[n - 11], 100.0 * (n - 10) / n, n


def median(samples: list[float]) -> float | None:
    return statistics.median(samples) if samples else None


def du(path: str) -> int:
    """Bytes of regular files under ``path``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(dirpath, f)
            if os.path.isfile(fp) and not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def proc_tree_hwm_mb(root_pid: int) -> float:
    """Sum of peak resident set (VmHWM) over ``root_pid`` and its
    descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU ticks: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` samples."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def machine_state() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load1": os.getloadavg()[0],
        "mem_available_mb": round(mem.get("MemAvailable", 0) / 1024.0, 1),
    }
