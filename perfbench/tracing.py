"""Spans and Spark status-store counts for the traced run.

A :class:`Tracer` keeps every span in memory and writes them out once,
when the run ends. Each span records its name, start, end, parent and
the run's trace id. Around each timed phase of an operation the tracer
sets a Spark job group; afterwards it reads that group's jobs and stages
from the status store (which works with the UI disabled) and attaches
the counts to the span.

A :class:`NullTracer` has the same interface and does nothing, so the
untraced runs share every code path except the recording.
"""

from __future__ import annotations

import json
import os
import resource
import time
import uuid
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_STAGE_FIELDS = {
    "task_ms": "executorRunTime",
    "task_cpu_ns": "executorCpuTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_mem_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
    "tasks": "numCompleteTasks",
}


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"start": time.perf_counter()}
        yield rec
        rec["end"] = time.perf_counter()

    @contextmanager
    def job_group(self, spark, name: str):
        yield {}

    def write(self, path: str) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "trace": self.trace_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def job_group(self, spark, name: str):
        """Tag the jobs run inside the block with a fresh job group and
        attach their status-store counts to the enclosing record."""
        sc = spark.sparkContext
        group = f"{self.trace_id}:{len(self.spans)}:{name}"
        t0 = time.perf_counter()
        sc.setJobGroup(group, name)
        self.overhead_s += time.perf_counter() - t0
        rec: dict = {}
        try:
            yield rec
        finally:
            t0 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            rec.update(job_counts(spark, group))
            self.overhead_s += time.perf_counter() - t0

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, default=str) + "\n")


def job_counts(spark, group: str) -> dict:
    """Jobs, stages, tasks, executor time, shuffle and spill of one job
    group, plus the wall-clock intervals its jobs covered."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = spark._jvm
    empty = jvm.java.util.ArrayList()
    no_q = sc._gateway.new_array(jvm.double, 0)
    out = {k: 0 for k in _STAGE_FIELDS}
    out.update(jobs=0, stages=0, intervals=[])
    seen: set[int] = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        try:
            job = store.job(job_id)
        except Exception:  # evicted from the store's retention window
            continue
        out["jobs"] += 1
        sub = job.submissionTime()
        done = job.completionTime()
        if sub.isDefined() and done.isDefined():
            out["intervals"].append(
                (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
            )
        ids = job.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                attempts = store.stageData(sid, False, empty, False, no_q)
            except Exception:  # skipped stage: never ran, no data
                continue
            for a in range(attempts.size()):
                st = attempts.apply(a)
                out["stages"] += 1
                for key, attr in _STAGE_FIELDS.items():
                    out[key] += int(getattr(st, attr)())
    return out


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    end = lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class StreamProgress(StreamingQueryListener):
    """Counts micro-batches, their durations and state-store rows of
    every streaming query in the session."""

    def __init__(self) -> None:
        self.batches = 0
        self.batch_ms = 0.0
        self.state_rows = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches += 1
        self.batch_ms += float((p.durationMs or {}).get("triggerExecution", 0))
        self.state_rows += sum(int(s.numRowsTotal) for s in (p.stateOperators or []))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(0, b.getCollectionTime()) for b in beans))


def jvm_heap_after_gc_mb(spark) -> float:
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return used.getHeapMemoryUsage().getUsed() / (1 << 20)


def _stat(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, found through each process's
    parent. ``/proc/<pid>/task/<pid>/children`` lists only the main
    thread's children, and a JVM starts processes from other threads."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                kids.setdefault(int(_stat(int(name))[1]), []).append(int(name))
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every live
    descendant (the driver JVM and the Python workers it forks)."""
    ticks = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            fields = _stat(pid)
            ticks += int(fields[11]) + int(fields[12])  # utime, stime
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak resident memory of this process and every live descendant
    (the driver JVM and the Python workers it forks), in MB."""
    total = sum(_hwm_kb(pid) for pid in _descendants(os.getpid()))
    total += resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return total / 1024.0
