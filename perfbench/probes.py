"""Measurement plumbing shared by the workloads: Spark's own counters,
an in-memory span tracer, process memory and file-tree snapshots.

Everything here reads state from outside the program: Spark's status
store (which is kept with ``spark.ui.enabled=false``), ``/proc`` and the
warehouse directory. The only hook is ``source_read_spans``, which the
traced run uses to time the program's own calls into the source layer's
read functions.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Cumulative engine counters read at span boundaries.
COUNTERS = ("jobs", "tasks", "task_ms", "gc_ms", "shuffle_write", "shuffle_read")


class SparkCounters:
    """Cumulative job, task, shuffle and GC counters of one SparkContext.

    ``read()`` first drains the listener bus so the status store has seen
    every event of the actions that already returned."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._job_cls = jvm.java.lang.Class.forName("org.apache.spark.status.JobDataWrapper")
        self._stage_cls = jvm.java.lang.Class.forName("org.apache.spark.status.StageDataWrapper")

    def read(self) -> dict[str, int]:
        self._sc.listenerBus().waitUntilEmpty()
        ex = self._store.executorSummary("driver")
        return {
            "jobs": int(self._store.store().count(self._job_cls)),
            "tasks": int(ex.totalTasks()),
            "task_ms": int(ex.totalDuration()),
            "gc_ms": int(ex.totalGCTime()),
            "shuffle_write": int(ex.totalShuffleWrite()),
            "shuffle_read": int(ex.totalShuffleRead()),
        }

    def persisted_rdds(self) -> int:
        return int(self._sc.getPersistentRDDs().size())

    def _stages(self):
        it = self._store.store().view(self._stage_cls).iterator()
        while it.hasNext():
            yield it.next().info()

    def stage_totals(self, after_stage: int) -> dict[str, int]:
        """Completed stages with id > ``after_stage`` and their spill."""
        n = spill = 0
        for s in self._stages():
            if s.stageId() > after_stage and s.status().toString() == "COMPLETE":
                n += 1
                spill += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
        return {"stages": n, "spill": spill}

    def last_stage_id(self) -> int:
        return max((int(s.stageId()) for s in self._stages()), default=-1)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run: int
    counts: dict[str, int] = field(default_factory=dict)


class Tracer:
    """Spans kept in memory: name, start, end, parent span and the run id
    shared by one operation's spans. With ``counters`` (the traced run)
    each span also records Spark counter deltas taken at its boundaries."""

    def __init__(self, counters: SparkCounters | None = None) -> None:
        self.counters = counters
        self.spans: list[Span] = []
        self.persisted_max = 0
        self._stack: list[int] = []
        self._run = 0

    def new_run(self) -> None:
        self._run += 1

    def _read(self) -> dict[str, int]:
        c = self.counters.read()
        self.persisted_max = max(self.persisted_max, self.counters.persisted_rdds())
        return c

    @contextmanager
    def span(self, name: str):
        c0 = self._read() if self.counters else None
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self._run)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp.counts
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()
            if c0 is not None:
                c1 = self._read()
                sp.counts.update({k: c1[k] - c0[k] for k in COUNTERS})

    def self_times(self, first: int = 0, last: int | None = None) -> dict[str, float]:
        """Per span name, over spans ``first`` to ``last``: duration
        minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        last = len(self.spans) if last is None else last
        for i, s in enumerate(self.spans[first:last], first):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "name": s.name,
                "start": round(s.start - t0, 6),
                "end": round(s.end - t0, 6),
                "parent": s.parent,
                "run": s.run,
                **s.counts,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "self_s": self.self_times()}, f, indent=1)


@contextmanager
def source_read_spans(tracer: Tracer):
    """Record a ``sources.read`` span around every call the program makes
    to read a stored table: ``Warehouse.read`` (models and declared
    tests) and the suite modules' ``load_testdata``. The original
    functions are put back on exit."""
    from duckdb_dbt_finance_warehouse_spark.sources.tables import Warehouse
    from duckdb_dbt_finance_warehouse_spark.suite import core_relational, extensions

    def spanned(fn):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with tracer.span("sources.read"):
                return fn(*args, **kwargs)

        return call

    hooks = [(Warehouse, "read"), (extensions, "load_testdata"), (core_relational, "load_testdata")]
    saved = [(owner, name, getattr(owner, name)) for owner, name in hooks]
    for owner, name, fn in saved:
        setattr(owner, name, spanned(fn))
    try:
        yield
    finally:
        for owner, name, fn in saved:
            setattr(owner, name, fn)


def proc_mb(pid: int, field: str) -> float:
    """A memory line of /proc/<pid>/status (``VmHWM``, ``VmRSS``) in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no {field} for pid {pid}")


def retained_mb(spark) -> float:
    """Memory the run keeps: JVM heap in use after a full collection plus
    JVM non-heap in use (code cache, metaspace) plus the Python process's
    resident set. Unlike peak RSS it does not depend on when the
    collector happened to run, so it moves only when state is kept."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2**20 + proc_mb(os.getpid(), "VmRSS")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user plus system) used so far by process ``root`` and
    all its descendants (the JVM, Python workers), counting the children
    they have reaped. Time the hypervisor steals from the machine is not
    charged to a process, so on a shared host this varies less than wall
    time does."""
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                line = f.read()
        except OSError:  # the process has exited
            continue
        # fields after the parenthesised command: state, ppid, ... and
        # utime, stime, cutime, cstime at positions 11 to 14
        rest = line[line.rindex(")") + 2 :].split()
        stats[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def file_state(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every regular file under ``root``."""
    out: dict[str, tuple[int, int]] = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]) -> int:
    """Bytes of files that are new or rewritten between two snapshots."""
    return sum(v[0] for p, v in after.items() if before.get(p) != v)
