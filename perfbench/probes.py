"""Outside-in probes: process CPU and memory from ``/proc``, a py4j call
counter, spans, and readers for Spark's status store and executed plans.

Nothing here changes the engine. Every reading is taken around the
engine's public calls or from what Spark already records.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")

# --------------------------------------------------------------------------
# Processes: CPU seconds and peak RSS, read from /proc
# --------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; every field after the closing paren is numeric
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (the JVM, its Python daemon and workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds() -> float:
    """CPU seconds of this process and every descendant, including the
    already-reaped children each one accounts for (utime+stime+cutime+cstime)."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def steal_seconds() -> float:
    """CPU time the hypervisor gave other guests while this machine's vCPUs
    wanted to run (``steal`` in ``/proc/stat``, summed over CPUs): the
    host contention that slows wall time without adding CPU time here."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def peak_rss_mb(jvm: int | None) -> float:
    """VmHWM of the Python driver plus the JVM, in MB."""
    kb = _status_kb(os.getpid(), "VmHWM")
    if jvm is not None:
        kb += _status_kb(jvm, "VmHWM")
    return kb / 1024.0


# --------------------------------------------------------------------------
# py4j call counter
# --------------------------------------------------------------------------


class Py4jCounter:
    """Counts py4j commands sent while ``active``: wraps the gateway
    client's ``send_command``, through which every JVM call passes."""

    def __init__(self, spark) -> None:
        self.calls = 0
        self.counted = 0
        self.active = False
        client = spark.sparkContext._gateway._gateway_client
        inner = client.send_command

        def send_command(*args, **kwargs):
            if self.active:
                self.calls += 1
            return inner(*args, **kwargs)

        client.send_command = send_command
        self._client, self._inner = client, inner

    def close(self) -> None:
        self._client.send_command = self._inner

    @contextmanager
    def counting(self):
        start = self.calls
        self.active = True
        try:
            yield
        finally:
            self.active = False
            self.counted = self.calls - start


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    item: str | None


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, item: str | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0,
                               self._stack[-1] if self._stack else None, item))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child.get(i, 0.0)
        return out

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        return out

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent,
                                    "item": s.item}) + "\n")


# --------------------------------------------------------------------------
# Spark status store: jobs and stages per job group
# --------------------------------------------------------------------------


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    #: [start, end] epoch seconds of every stage that ran
    intervals: list[tuple[float, float]] = field(default_factory=list)


def stages_by_group(spark) -> dict[str, StageTotals]:
    """Aggregate the status store's jobs and stages by job group."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_group: dict[int, str] = {}
    out: dict[str, StageTotals] = {}
    for i in range(jobs.length()):
        job = jobs.apply(i)
        g = job.jobGroup()
        if not g.isDefined():
            continue
        group = g.get()
        out.setdefault(group, StageTotals()).jobs += 1
        ids = job.stageIds()
        for k in range(ids.length()):
            stage_group[ids.apply(k)] = group
    stages = store.stageList(None, False, False,
                             sc._gateway.new_array(sc._jvm.double, 0), None)
    mb = 1024.0 * 1024.0
    for i in range(stages.length()):
        s = stages.apply(i)
        group = stage_group.get(s.stageId())
        if group is None or str(s.status()) == "SKIPPED":
            continue
        t = out[group]
        t.stages += 1
        t.tasks += s.numTasks()
        t.failed_tasks += s.numFailedTasks()
        t.run_s += s.executorRunTime() / 1e3
        t.cpu_s += s.executorCpuTime() / 1e9
        t.gc_s += s.jvmGcTime() / 1e3
        t.shuffle_write_mb += s.shuffleWriteBytes() / mb
        t.shuffle_read_mb += s.shuffleReadBytes() / mb
        t.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / mb
        sub, done = s.submissionTime(), s.completionTime()
        if sub.isDefined() and done.isDefined():
            t.intervals.append((sub.get().getTime() / 1e3,
                                done.get().getTime() / 1e3))
    return out


def uncovered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Seconds of [start, end] covered by none of ``intervals``."""
    covered, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, (end - start) - covered)


# --------------------------------------------------------------------------
# Executed plans
# --------------------------------------------------------------------------

#: Physical nodes that ship rows to Python workers.
PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                "BatchEvalPython", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
                "FlatMapGroupsInPandasWithState", "FlatMapGroupsInArrow",
                "FlatMapCoGroupsInArrow")

_JOINS = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")


@dataclass
class PlanReading:
    rows_scanned: int = 0
    exchanges: int = 0
    broadcast_mb: float = 0.0
    output_rows: int = 0
    python_nodes: int = 0
    python_total_s: float = 0.0
    python_boot_s: float = 0.0
    python_mb_sent: float = 0.0
    python_mb_received: float = 0.0
    join_rows_max: int = 0


def read_plan(metrics) -> PlanReading:
    """Summarize an ``ExecutionMetrics`` from ``plans.metrics``."""
    r = PlanReading(rows_scanned=metrics.rows_scanned,
                    broadcast_mb=metrics.broadcast_bytes / 1024.0 / 1024.0,
                    output_rows=metrics.output_rows or 0)
    for name, mets in metrics.nodes:
        if name in ("Exchange", "BroadcastExchange"):
            r.exchanges += 1
        if name.startswith(_JOINS):
            r.join_rows_max = max(r.join_rows_max, int(mets.get("numOutputRows", 0)))
        if name in PYTHON_NODES:
            r.python_nodes += 1
            # SQL metric values: timings in ms, sizes in bytes
            r.python_total_s += int(mets.get("pythonTotalTime", 0)) / 1e3
            r.python_boot_s += (int(mets.get("pythonBootTime", 0))
                                + int(mets.get("pythonInitTime", 0))) / 1e3
            r.python_mb_sent += int(mets.get("pythonDataSent", 0)) / 1048576.0
            r.python_mb_received += int(mets.get("pythonDataReceived", 0)) / 1048576.0
    return r


def catalyst_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations of ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def dir_files_bytes(path: str) -> tuple[int, int]:
    files = total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            total += os.path.getsize(os.path.join(root, n))
    return files, total
