"""Spans and Spark accounting for the traced run.

Spans are recorded by the benchmark's own code around the calls it makes
into each layer of the program. Spark's share of an operation is read
from Spark's own accounting: the jobs of the operation's job group
(``statusTracker``), their stages in the status store, and the SQL metrics
of the Python exec nodes of the operation's SQL executions.
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
import time
from contextlib import contextmanager

#: SQL executions searched for an operation's Python nodes: the newest ones,
#: since the accounting runs right after each operation
RECENT_EXECUTIONS = 256
#: exec nodes that run Python workers
PYTHON_NODES = re.compile(r"InPandas|InArrow|Python")
#: SQL metrics of those nodes, by the counter they add to. Spark counts
#: no rows sent to Python, only the rows the nodes output, i.e. the rows
#: that come back from the Python workers.
PYTHON_METRICS = {
    "data sent to Python workers": "bytes_to_python",
    "number of output rows": "rows_from_python",
    "time to run Python workers": "python_ms",
}
#: seconds to wait for Spark's listener bus to deliver an operation's
#: job-end events to the status store
DRAIN_TIMEOUT_S = 60.0


class Tracer:
    """In-memory span recorder. A span is (id, name, op, parent, start, end)
    in wall-clock seconds; spans opened on one thread nest."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @property
    def op(self):
        return getattr(self._local, "op", None)

    @contextmanager
    def operation(self, op_id):
        """Tag the spans this thread opens with ``op_id``."""
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = None

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name, "op": self.op, "parent": stack[-1] if stack else None,
               "start": time.time(), "end": None}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def add(self, rec: dict) -> None:
        """Record a span measured elsewhere (a Spark job)."""
        with self._lock:
            rec["id"] = next(self._ids)
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span named
        ``name``; ``on_result(rec, args, kwargs, result)`` may annotate it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, kwargs, result)
                return result

        setattr(owner, attr, traced)


def union_length(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name not covered by that span's children."""
    children: dict[int, list] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], [])
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
        own = (s["end"] - s["start"]) - union_length(kids)
        out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, own)
    return out


def parent_of(spans: list[dict], op, t: float):
    """Id of the innermost span of ``op`` open at time ``t``."""
    best = None
    for s in spans:
        if s["op"] == op and s["start"] <= t <= s["end"]:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best["id"] if best else None


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1, "s": 1000, "min": 60_000, "h": 3_600_000}


def _metric_value(formatted: str) -> float:
    """Total of a formatted SQL metric: ``"10,000"`` or
    ``"total (min, med, max ...)\\n160.6 KiB (...)"``."""
    text = formatted.split("\n")[-1].split(" (")[0].strip()
    parts = text.replace(",", "").split()
    value = float(parts[0])
    return value * _UNITS.get(parts[1], 1) if len(parts) > 1 else value


class SparkAccounting:
    """Per-operation Spark counters for one job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.acc = self.sc._jvm.org.apache.spark.util.AccumulatorContext

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def group_jobs(self, group: str) -> list[int]:
        """Ids of the group's jobs, once the status store holds the end of
        each. Spark's listener bus fills the store asynchronously, so right
        after an action its job, stage and task events may still be queued;
        raises if they are not delivered within DRAIN_TIMEOUT_S."""
        bus = self.sc._jsc.sc().listenerBus()
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        while True:
            bus.waitUntilEmpty(int(DRAIN_TIMEOUT_S * 1000))
            job_ids = sorted(tracker.getJobIdsForGroup(group))
            if all(self.store.job(j).completionTime().isDefined() for j in job_ids):
                return job_ids
            if time.monotonic() > deadline:
                raise RuntimeError(f"jobs of {group} have no end in the status store")
            time.sleep(0.01)

    def op_stats(self, group: str) -> tuple[dict, list[tuple[int, float, float]]]:
        """Counters of the group's jobs, and (job id, start, end) per job in
        wall-clock seconds. Raises if a job's end never reaches the status
        store."""
        tracker = self.sc.statusTracker()
        stats = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
             "executor_cpu_ms", "gc_ms", "input_rows", "input_bytes",
             "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
             "rows_from_python", "bytes_to_python", "python_ms"), 0)
        jobs = []
        seen: set[int] = set()
        job_ids = self.group_jobs(group)
        for j in job_ids:
            jd = self.store.job(j)
            start = jd.submissionTime().get().getTime() / 1000.0
            end = jd.completionTime().get().getTime() / 1000.0
            jobs.append((j, start, end))
            stats["jobs"] += 1
            for sid in tracker.getJobInfo(j).stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                stats["stages"] += 1
                stats["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                stats["failed_tasks"] += sd.numFailedTasks()
                stats["executor_run_ms"] += sd.executorRunTime()
                stats["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                stats["gc_ms"] += sd.jvmGcTime()
                stats["input_rows"] += sd.inputRecords()
                stats["input_bytes"] += sd.inputBytes()
                stats["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                stats["shuffle_read_bytes"] += sd.shuffleReadBytes()
                stats["spill_bytes"] += sd.diskBytesSpilled()
        stats["job_busy_ms"] = 1000.0 * union_length([(s, e) for _j, s, e in jobs])
        self._python_metrics(set(job_ids), stats)
        return stats, jobs

    def _python_metrics(self, job_ids: set[int], stats: dict) -> None:
        """Rows and bytes the Python exec nodes of the group's SQL executions
        exchanged with Python workers, and their worker run time."""
        if not job_ids:
            return
        count = self.sql.executionsCount()
        recent = self.sql.executionsList(max(0, count - RECENT_EXECUTIONS), RECENT_EXECUTIONS)
        for ex in _iter(recent):
            if not {int(j) for j in _iter(ex.jobs().keySet())} & job_ids:
                continue
            formatted = None
            nodes = self.sql.planGraph(ex.executionId()).allNodes()
            for node in _iter(nodes):
                if not PYTHON_NODES.search(node.name()):
                    continue
                metrics = node.metrics()
                for i in range(metrics.size()):
                    m = metrics.apply(i)
                    key = PYTHON_METRICS.get(m.name())
                    if key is None:
                        continue
                    live = self.acc.get(m.accumulatorId())
                    if live.isDefined():
                        value = float(live.get().value())
                    else:
                        if formatted is None:
                            formatted = self.sql.executionMetrics(ex.executionId())
                        text = formatted.get(m.accumulatorId())
                        value = _metric_value(text.get()) if text.isDefined() else 0.0
                    stats[key] += value


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()
