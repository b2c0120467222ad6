"""Measurement helpers: order statistics, spans, Spark status-store
readers, session-conf snapshots and the provenance record.

Everything here reads what Spark already keeps (the AppStatusStore, the
SQL status store, a DataFrame's QueryPlanningTracker,
StreamingQueryProgress); nothing registers a listener, so no py4j
callback server is needed.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

# --------------------------------------------------------------------------
# order statistics


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``xs`` (0 <= q <= 1)."""
    s = sorted(xs)
    if not s:
        raise ValueError("quantile of no samples")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile, n)``. Below 20 samples no percentile above the
    median qualifies, and the median is returned with percentile 50."""
    n = len(xs)
    q = max(0.5, 1.0 - 10.0 / n) if n else 0.5
    q = int(q * 100) / 100.0
    return quantile(xs, q), round(q * 100, 2), n


def metric(value: float, unit: str, n: int = 1, **extra) -> dict:
    return {"value": value, "unit": unit, "n": n, **extra}


# --------------------------------------------------------------------------
# spans


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    id: int = 0


class Tracer:
    """Spans around calls into the program's layers, kept in memory.

    A disabled tracer records nothing; ``span`` then only yields. The
    self time of a span is its duration minus what its children cover.
    ``add`` records a span whose times were read back from Spark (a SQL
    execution, a streaming trigger); ``epoch`` converts a wall-clock time
    in seconds to the tracer's clock."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._offset = time.time() - time.perf_counter()

    def epoch(self, t: float) -> float:
        return t - self._offset

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            op: str | None = None) -> int:
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, start, end, parent, op, len(self.spans))
        self.spans.append(s)
        return s.id

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        i = self.add(name, time.perf_counter(), 0.0, parent, op)
        self._stack.append(i)
        try:
            yield self.spans[i]
        finally:
            self.spans[i].end = time.perf_counter()
            self._stack.pop()

    def self_times(self, under: str | None = None) -> dict[str, float]:
        """Total self time per span name, over every span or only over
        spans named ``under`` and their descendants."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        inside = [under is None or s.name == under for s in self.spans]
        for s in self.spans:  # parents precede their children
            if s.parent is not None and inside[s.parent]:
                inside[s.id] = True
        out: dict[str, float] = {}
        for s in self.spans:
            if inside[s.id]:
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[s.id]
        return out

    def total(self, name: str) -> tuple[float, int]:
        d = [s.end - s.start for s in self.spans if s.name == name]
        return sum(d), len(d)

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "op": s.op}
            for s in self.spans
        ]


# --------------------------------------------------------------------------
# Spark status stores

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_total(display: str) -> float:
    """Total of a SQLMetric display string: "776", "1,234",
    "total (min, med, max (stageId: taskId))\\n20.4 KiB (...)",
    "total (min, med, max ...)\\n1.2 s (...)"."""
    line = display.split("\n")[-1].strip()
    head = line.split(" (")[0].strip()
    parts = head.split()
    if len(parts) == 2 and parts[1] in _UNITS:
        return float(parts[0].replace(",", "")) * _UNITS[parts[1]]
    if len(parts) == 2 and parts[1] in _TIME_UNITS:
        return float(parts[0].replace(",", "")) * _TIME_UNITS[parts[1]]
    return float(head.replace(",", ""))


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusReader:
    """Reads jobs, stages and SQL executions of the current application.

    ``mark()`` returns the last execution and job ids seen so far;
    ``executions(mark)`` and ``stages(mark)`` read what ran after it. Each
    first waits for the listener bus to drain, since it is asynchronous."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        self._bus.waitUntilEmpty(30_000)

    def mark(self) -> tuple[int, int]:
        self.drain()
        execs = self._sql.executionsList()
        last_exec = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
        jobs = [int(j.jobId()) for j in _scala_iter(self._store.jobsList(None))]
        return last_exec, max([-1, *jobs])

    def executions(self, mark: tuple[int, int]) -> list[dict]:
        """SQL executions after ``mark``: times, description, SQL metric
        totals by name over file-scan nodes and over write nodes, and the
        description (with output path) of each write node."""
        self.drain()
        out = []
        for e in _scala_iter(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= mark[0]:
                continue
            values = self._sql.executionMetrics(eid)
            groups: dict[str, dict[str, float]] = {"scan": {}, "write": {}}
            writes = []
            for node in _scala_iter(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                kind = ("scan" if name.startswith("Scan") else
                        "write" if "InsertIntoHadoopFsRelationCommand" in name else None)
                if kind is None:
                    continue
                if kind == "write":
                    writes.append(node.desc())
                for m in _scala_iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    try:
                        val = metric_total(v.get())
                    except ValueError:  # a display that is not a number
                        continue
                    groups[kind][m.name()] = groups[kind].get(m.name(), 0.0) + val
            end = e.completionTime()
            end_ms = end.get().getTime() if end.isDefined() else e.submissionTime()
            out.append({"id": eid, "s": (end_ms - e.submissionTime()) / 1000.0,
                        "start": e.submissionTime() / 1000.0, "end": end_ms / 1000.0,
                        "description": e.description(), "writes": writes, **groups})
        return out

    def stages(self, mark: tuple[int, int]) -> dict:
        """Job, stage and task totals of jobs after ``mark``."""
        self.drain()
        jobs = [j for j in _scala_iter(self._store.jobsList(None)) if j.jobId() > mark[1]]
        stage_ids = set()
        for j in jobs:
            stage_ids.update(int(s) for s in _scala_iter(j.stageIds()))
        tot = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
               "shuffle_bytes": 0, "shuffle_records": 0, "spill_bytes": 0}
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if st.numCompleteTasks() + st.numFailedTasks() == 0:
                continue  # skipped (reused) stage
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            tot["task_s"] += st.executorRunTime() / 1000.0
            tot["gc_s"] += st.jvmGcTime() / 1000.0
            tot["shuffle_bytes"] += st.shuffleWriteBytes()
            tot["shuffle_records"] += st.shuffleWriteRecords()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot


def planning_phases(df) -> dict[str, float]:
    """Force ``df``'s physical plan and return its Catalyst phase times in
    seconds (``analysis``, ``optimization``, ``planning``)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for kv in _scala_iter(phases):
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, from /proc."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# --------------------------------------------------------------------------
# session conf


class ConfGuard:
    """Snapshot of the session conf; ``check(op)`` restores any key a call
    changed and records which op changed which key."""

    def __init__(self, spark):
        self.spark = spark
        self.base = dict(spark.conf.getAll)
        self.changes: dict[str, list[str]] = {}

    def check(self, op: str) -> None:
        now = dict(self.spark.conf.getAll)
        changed = sorted(k for k in set(now) | set(self.base) if now.get(k) != self.base.get(k))
        if not changed:
            return
        self.changes.setdefault(op, [])
        for k in changed:
            if k not in self.changes[op]:
                self.changes[op].append(k)
            if k in self.base:
                self.spark.conf.set(k, self.base[k])
            else:
                self.spark.conf.unset(k)


# --------------------------------------------------------------------------
# files and provenance


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every data file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of files that are new or replaced between two snapshots."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def source_digest(root: str) -> str:
    """sha256 over the program's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "habits_etl_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def provenance(spark, root: str, seed: int, fixture: dict) -> dict:
    import pyspark

    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        head = None
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_total_gb": round(mem_kb / 2**20, 2),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", None),
        "seed": seed,
        "git_head": head,
        "source_sha256": source_digest(root),
        "fixture": fixture,
    }
