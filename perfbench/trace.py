"""Measurement from outside the engine: spans, Spark stage counters and
``/proc`` readings.

Spans and stage counters are only taken in the traced run; the
end-to-end run reads ``/proc`` once, at the end, for peak memory.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing, so the
    end-to-end run pays one attribute test per boundary."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by its children
        (children of one span never overlap: the loop is closed)."""
        out = {s.id: s.end - s.start for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.end - s.start
        return out

    def to_json(self) -> list[dict]:
        st = self.self_times()
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end,
             "self_s": st[s.id], **s.attrs}
            for s in self.spans
        ]


# --------------------------------------------------------------------------
# Spark stage counters
# --------------------------------------------------------------------------

STAGE_FIELDS = (
    "executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "input_records", "scan_tasks", "tasks",
)


class StageCounters:
    """Per-job-group Spark counters, read from the application status
    store (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = self._sc.statusTracker()

    def start(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def collect(self, group: str) -> dict:
        """Counters of every job run under ``group`` since ``start``.
        Waits for the listener bus first, so the last stage's metrics are
        in the store."""
        self._sc.setJobGroup("", "")
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out.update(jobs=0, stages=0, skipped_stages=0, intervals=[])
        seen: set[int] = set()
        for jid in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                self._add_stage(sid, out)
        return out

    def _add_stage(self, sid: int, out: dict) -> None:
        try:
            sd = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # no attempt in the store: the stage never ran
            out["skipped_stages"] += 1
            return
        if sd.status().toString() == "SKIPPED":
            out["skipped_stages"] += 1
            return
        out["stages"] += 1
        tasks = sd.numCompleteTasks()
        out["tasks"] += tasks
        out["executor_run_ms"] += sd.executorRunTime()
        out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
        out["gc_ms"] += sd.jvmGcTime()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if sd.inputBytes() > 0:
            out["input_bytes"] += sd.inputBytes()
            out["input_records"] += sd.inputRecords()
            out["scan_tasks"] += tasks
        sub, done = sd.submissionTime(), sd.completionTime()
        if sub.isDefined() and done.isDefined():
            out["intervals"].append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))


def uncovered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` not covered by any of ``intervals``: the
    action's driver-side time (planning, scheduling) when no stage ran."""
    covered, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return max(end - start - covered, 0.0)


def pins(spark) -> tuple[int, int]:
    """(persisted RDDs, bytes they hold in memory and on disk)."""
    sc = spark.sparkContext
    n = sc._jsc.getPersistentRDDs().size()
    held = sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())
    return n, held


def analyzed_nodes(df) -> int:
    return len(df._jdf.queryExecution().analyzed().treeString().splitlines())


# --------------------------------------------------------------------------
# /proc
# --------------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces: fields resume after its closing parenthesis
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s(pid: int, reaped: bool = False) -> float:
    """User+system CPU seconds of ``pid``; with ``reaped`` also that of
    its children that have exited and been waited for."""
    st = _stat(pid)
    if st is None:
        return 0.0
    ticks = int(st[11]) + int(st[12])
    if reaped:
        ticks += int(st[13]) + int(st[14])
    return ticks / _CLK_TCK


def python_workers_cpu_s(jvm_pid: int) -> float:
    """CPU of the Python worker processes the JVM forked (daemon and
    workers, including workers the daemon has already reaped)."""
    return sum(cpu_s(pid, reaped=True) for pid in descendants(jvm_pid)[1:])


def peak_rss_mb(root: int) -> float:
    """Sum of the per-process peak RSS (``VmHWM``) over the live process
    tree under ``root``."""
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
