"""Tracing from outside the program: spans around the package's public
functions, Spark job groups per op, the Spark event log and a
``StreamingQueryListener``.

Nothing in the package changes. ``Tracer.wrap`` replaces a function at
the module attribute its callers look it up through (its import site)
and ``Tracer.restore`` puts the original back. Spans are kept in memory
and summarised when the run ends.

Self time of a span = its duration minus the part of it covered by its
child spans (the union of the children's intervals, so children that
run concurrently on a thread pool are not double-counted).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    kind: str            # "op" (benchmark op), "eager" or "lazy"
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)
    _local: threading.local = field(default_factory=threading.local)
    _main_stack: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _restore: list = field(default_factory=list)

    # ---- span stack -------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, kind: str, op_id: str | None = None) -> Span:
        stack = self._stack()
        # A pool thread with no open span of its own belongs to whatever
        # the main thread has open (run_ingest's aggregation pool).
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sp = Span(
                next(self._ids), name, kind, time.perf_counter(),
                parent=parent.id if parent else None,
                op_id=op_id or (parent.op_id if parent else None),
            )
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def finish(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "eager", op_id: str | None = None):
        sp = self.begin(name, kind, op_id)
        try:
            yield sp
        finally:
            self.finish(sp)

    # ---- wrapping public functions at their import sites -------------
    def wrap(self, module, attr: str, name: str, kind: str = "eager") -> None:
        original = getattr(module, attr)
        if getattr(original, "__traced__", False):
            return

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name, kind):
                return original(*args, **kwargs)

        traced.__traced__ = True
        setattr(module, attr, traced)
        self._restore.append((module, attr, original))

    def restore(self) -> None:
        while self._restore:
            module, attr, original = self._restore.pop()
            setattr(module, attr, original)


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id → duration minus the union of its children's intervals
    (clipped to the span)."""
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        ivs = sorted(
            (max(c.start, sp.start), min(c.end, sp.end)) for c in kids.get(sp.id, [])
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[sp.id] = sp.seconds - covered
    return out


@contextlib.contextmanager
def op_scope(tracer: Tracer | None, name: str, op_id: str):
    """Open the benchmark-op span and tag every Spark job the op's main
    thread submits with a job group named after the op (visible in the
    event log and the Spark UI)."""
    if tracer is None:
        yield
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setJobGroup(op_id, name)
    try:
        with tracer.span(name, "op", op_id):
            yield
    finally:
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


# ----------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------
@dataclass
class SparkEvents:
    jobs: list[dict] = field(default_factory=list)     # submission t (ms)
    stages: list[dict] = field(default_factory=list)   # submission t (ms)
    tasks: list[dict] = field(default_factory=list)    # launch t (ms), metrics


def read_event_log(log_dir: str, app_id: str) -> SparkEvents:
    """Parse the (uncompressed) event log of application ``app_id``."""
    ev = SparkEvents()
    paths = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if app_id not in os.path.basename(p):
            continue
        # Spark 4 writes a rolling "eventlog_v2_<app>" directory
        paths += sorted(glob.glob(os.path.join(p, "events_*"))) if os.path.isdir(p) else [p]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    ev.jobs.append({"t": e.get("Submission Time", 0)})
                elif kind == "SparkListenerStageSubmitted":
                    si = e.get("Stage Info", {})
                    ev.stages.append({"t": si.get("Submission Time", 0)})
                elif kind == "SparkListenerTaskEnd":
                    ti = e.get("Task Info", {})
                    tm = e.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    ev.tasks.append(
                        {
                            "t": ti.get("Launch Time", 0),
                            "failed": (e.get("Task End Reason") or {}).get("Reason") != "Success",
                            "run_ms": tm.get("Executor Run Time", 0),
                            "cpu_ns": tm.get("Executor CPU Time", 0),
                            "gc_ms": tm.get("JVM GC Time", 0),
                            "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                            "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                        }
                    )
    return ev


def spark_window_metrics(ev: SparkEvents, t0: float, t1: float, cores: int) -> dict:
    """Spark work submitted in the wall-clock window [t0, t1] (seconds)."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    tasks = [t for t in ev.tasks if lo <= t["t"] <= hi]
    run_s = sum(t["run_ms"] for t in tasks) / 1000.0
    return {
        "spark.jobs": sum(1 for j in ev.jobs if lo <= j["t"] <= hi),
        "spark.stages": sum(1 for s in ev.stages if lo <= s["t"] <= hi),
        "spark.tasks": len(tasks),
        "spark.busy_frac": run_s / max(1e-9, (t1 - t0) * cores),
        "spark.task_run_s": run_s,
        "spark.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.shuffle_write_mb": sum(t["shuffle_w"] for t in tasks) / 2**20,
        "spark.spill_mb": sum(t["spill"] for t in tasks) / 2**20,
        "spark.jvm_gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "spark.failed_tasks": sum(1 for t in tasks if t["failed"]),
    }


# ----------------------------------------------------------------------
# Structured Streaming progress
# ----------------------------------------------------------------------
def progress_listener(spark):
    """Register a listener that keeps every query-progress event (as its
    JSON dict); returns (listener, list)."""
    from pyspark.sql.streaming import StreamingQueryListener

    events: list[dict] = []

    class _Collect(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    lst = _Collect()
    spark.streams.addListener(lst)
    return lst, events


def progress_wall(p: dict) -> float:
    """Trigger start of a progress event, in epoch seconds."""
    from datetime import datetime, timezone

    ts = p.get("timestamp", "1970-01-01T00:00:00.000Z").rstrip("Z")
    return datetime.fromisoformat(ts).replace(tzinfo=timezone.utc).timestamp()


def streaming_metrics(progress: list[dict], t0: float, t1: float) -> dict:
    """Per-pass streaming figures from the progress events whose trigger
    started in the wall-clock window [t0, t1]."""
    prog = [e for e in progress if t0 <= progress_wall(e) <= t1]

    def dur(e, k):
        return (e.get("durationMs") or {}).get(k, 0)

    last: dict[str, dict] = {}
    for e in prog:
        last[e["id"]] = e
    state = [s for e in last.values() for s in e.get("stateOperators", [])]
    return {
        "streaming.batches": len(prog),
        "streaming.trigger_ms": sum(dur(e, "triggerExecution") for e in prog),
        "streaming.add_batch_ms": sum(dur(e, "addBatch") for e in prog),
        "streaming.planning_ms": sum(dur(e, "queryPlanning") for e in prog),
        "streaming.commit_ms": sum(dur(e, "walCommit") + dur(e, "commitOffsets") for e in prog),
        "streaming.state_rows": sum(s.get("numRowsTotal", 0) for s in state),
        "streaming.state_mem_mb": sum(s.get("memoryUsedBytes", 0) for s in state) / 2**20,
    }
