"""Tracing for the benchmark's traced run: spans around the calls the
benchmark makes into each layer, counters at the same boundaries, and
the Spark-side numbers read back from Spark's own status stores.

Spans and counters are kept in memory and written out with the run's
artifact. Nothing here is active in an untraced run.
"""

from __future__ import annotations

import contextlib
import re
import time
from collections import Counter
from collections.abc import Iterator

from py4j.protocol import Py4JJavaError

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_MB = float(1 << 20)


class Tracer:
    """Span recorder. ``span`` is a no-op while ``active`` is False, so
    the same call path runs traced and untraced."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self.counts: Counter[str] = Counter()
        self.call_id: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict | None]:
        if not self.active:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "call": self.call_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add_child(self, parent: dict, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (a Spark job), clipped to its
        parent's interval: Spark stamps jobs in whole milliseconds."""
        start = min(max(start, parent["start"]), parent["end"])
        end = max(min(end, parent["end"]), start)
        self.spans.append({
            "id": len(self.spans),
            "name": name,
            "start": start,
            "end": end,
            "parent": parent["id"],
            "call": parent["call"],
            **attrs,
        })


def union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        inner = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(inner)
    return out


def nesting_errors(spans: list[dict], slack: float = 1e-6) -> list[str]:
    """Spans that end before they start or lie outside their parent."""
    by_id = {s["id"]: s for s in spans}
    errs = []
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            errs.append(f"span {s['id']} {s['name']} has no valid end")
            continue
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and p is None:
            errs.append(f"span {s['id']} {s['name']} has a missing parent")
        elif p is not None and (
            s["start"] < p["start"] - slack or s["end"] > p["end"] + slack
        ):
            errs.append(f"span {s['id']} {s['name']} leaves parent {p['name']}")
    return errs


@contextlib.contextmanager
def probes(tracer: Tracer) -> Iterator[None]:
    """Wrap the engine's public layout and budget-gate functions so each
    call records a span and a count. Callers import these names inside
    their functions, so patching the module attribute reaches them."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.plans import budget
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources import tables

    def wrap(module, attr: str, span_name: str, count: str | None, gate: bool = False):
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(span_name, fn=attr):
                out = orig(*args, **kwargs)
            if count:
                tracer.counts[count] += 1
            if gate and out:
                tracer.counts["plans.gate_true"] += 1
            return out

        setattr(module, attr, wrapped)
        return module, attr, orig

    patched = [
        wrap(budget, "within_budget", "plans.gate", "plans.gate_calls", gate=True),
        wrap(budget, "local_tier_enabled", "plans.gate", "plans.gate_calls", gate=True),
        wrap(tables, "publish_layout_atomic", "sources.layout_build", "sources.layout_builds"),
        # layout reads are counted from the executed plans (SparkReader),
        # which also see the layouts a query opens through the catalog
        wrap(tables, "read_layout", "sources.layout_read", None),
    ]
    try:
        yield
    finally:
        for module, attr, orig in patched:
            setattr(module, attr, orig)


@contextlib.contextmanager
def streaming_listener(spark, tracer: Tracer) -> Iterator[None]:
    """Register a StreamingQueryListener on the session and on every
    session created from it: the engine runs its streams in scoped
    ``newSession()`` clones, whose queries report only to listeners
    registered on that clone."""
    from pyspark.sql import SparkSession
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            if not tracer.active:
                return
            p = event.progress
            tracer.counts["streaming.batches"] += 1
            tracer.counts["streaming.input_rows"] += int(p.numInputRows)
            tracer.counts["streaming.batch_ms"] += int(p.durationMs.get("triggerExecution", 0))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = Listener()
    orig = SparkSession.newSession

    def new_session(self):
        s = orig(self)
        s.streams.addListener(listener)
        return s

    spark.streams.addListener(listener)
    SparkSession.newSession = new_session
    try:
        yield
    finally:
        SparkSession.newSession = orig
        spark.streams.removeListener(listener)


def _size_bytes(text: str) -> float:
    num, unit = text.split()
    return float(num.replace(",", "")) * _SIZE_UNITS[unit]


# one task: "data sent to Python workers: 1.2 KiB"; several tasks:
# "data sent to Python workers total (min, med, max (...))<br>1.2 KiB (..."
_PY_METRIC = re.compile(
    r"data (sent to|returned from) Python workers(?: total [^<]*<br>|: )"
    r"([0-9.,]+ (?:B|[KMGTP]iB))"
)

# a scan node reading a published layout (the engine keeps them under
# $TMPDIR/smrgh_roundtrip/); a layout build writes to "<name>.tmp<pid>"
_LAYOUT_SCAN = re.compile(r"Location: [^\[\n]*\[[^\]\n]*/smrgh_roundtrip/[^/\].,]+[\],]")


class SparkReader:
    """Reads the jobs, stages and SQL executions that appeared since the
    last read from Spark's status stores (present with the UI off)."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.next_job = 0
        self.next_exec = 0
        self.skip_new()

    def skip_new(self) -> None:
        """Mark everything so far as read."""
        self._jsc.listenerBus().waitUntilEmpty()
        while self._job(self.next_job) is not None:
            self.next_job += 1
        while not self._sql.execution(self.next_exec).isEmpty():
            self.next_exec += 1

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Py4JJavaError:
            return None

    def read_new(self) -> tuple[list[dict], dict[str, float]]:
        """Jobs (with their stage totals) since the last read, and from
        the SQL executions since then: Python-boundary bytes and scans
        of write-once layouts."""
        self._jsc.listenerBus().waitUntilEmpty()
        jobs, seen_stages = [], set()
        while (j := self._job(self.next_job)) is not None:
            self.next_job += 1
            rec = {
                "job": j.jobId(),
                "start": j.submissionTime().get().getTime() / 1000.0,
                "end": (
                    j.completionTime().get().getTime() / 1000.0
                    if not j.completionTime().isEmpty()
                    else None
                ),
                "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
                "shuffle_write_mb": 0.0, "shuffle_write_records": 0,
                "shuffle_read_mb": 0.0, "spill_mb": 0.0, "peak_exec_mem_mb": 0.0,
            }
            ids = j.stageIds()
            for i in range(ids.length()):
                sid = ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    s = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += s.numTasks()
                rec["task_s"] += s.executorRunTime() / 1000.0
                rec["gc_s"] += s.jvmGcTime() / 1000.0
                rec["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
                rec["shuffle_write_records"] += s.shuffleWriteRecords()
                rec["shuffle_read_mb"] += s.shuffleReadBytes() / _MB
                rec["spill_mb"] += s.diskBytesSpilled() / _MB
                rec["peak_exec_mem_mb"] = max(
                    rec["peak_exec_mem_mb"], s.peakExecutionMemory() / _MB
                )
            jobs.append(rec)
        sql = {"sent_mb": 0.0, "returned_mb": 0.0, "layout_scans": 0}
        while not (execution := self._sql.execution(self.next_exec)).isEmpty():
            eid = self.next_exec
            self.next_exec += 1
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for direction, size in _PY_METRIC.findall(dot):
                key = "sent_mb" if direction == "sent to" else "returned_mb"
                sql[key] += _size_bytes(size) / _MB
            sql["layout_scans"] += len(
                _LAYOUT_SCAN.findall(execution.get().physicalPlanDescription())
            )
        return jobs, sql


def attach_jobs(tracer: Tracer, jobs: list[dict], windows: list[dict]) -> None:
    """Make each job a child span of the window (declaration or sink)
    in which it was submitted."""
    for job in jobs:
        end = job["end"] if job["end"] is not None else job["start"]
        for w in windows:
            if w["start"] - 0.002 <= job["start"] <= w["end"] + 0.002:
                tracer.add_child(w, "spark.job", job["start"], end, job=job["job"])
                job["window"] = w["name"]
                break

