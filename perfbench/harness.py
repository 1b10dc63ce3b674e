"""Run harness: machine sizing, Spark session set-up, the closed-loop
measurement window, pass isolation, statistics and the result line.

Everything the benchmark writes goes under one work directory inside the
checkout (``.perfbench_work/<pid>``), removed when the run ends.
"""

from __future__ import annotations

import gc
import json
import math
import os
import shutil
import statistics
import sys
import time
import uuid
from dataclasses import dataclass, field

PROCESS_START = time.perf_counter()

PKG = "wetsa_cams_solrad_timeseries_spark"


# ----------------------------------------------------------------------
# sizing / environment
# ----------------------------------------------------------------------
def machine() -> dict:
    """Cores this process may use and physical memory, in MB."""
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        cores = os.cpu_count() or 1
    mem_mb = 4096
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_mb = int(line.split()[1]) // 1024
                    break
    except OSError:  # pragma: no cover
        pass
    return {"cores": cores, "mem_mb": mem_mb}


def configure_env(work: str) -> dict:
    """Size Spark to the machine and keep every file it writes inside
    ``work``. Must run before pyspark or the package is imported."""
    m = machine()
    # A quarter of physical memory, capped at 3 GB: enough that GC is a
    # small share of a pass, small enough for a shared machine.
    heap_mb = max(1024, min(3072, m["mem_mb"] // 4))
    dirs = {k: os.path.join(work, k) for k in ("local", "tmp", "warehouse", "jtmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(m["cores"]),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
            "SPARK_LOCAL_DIRS": dirs["local"],
            "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
            "TMPDIR": dirs["tmp"],
            "TZ": "UTC",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "cores": m["cores"],
        "mem_mb": m["mem_mb"],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "local_dirs": dirs["local"],
        "java_tmp": dirs["jtmp"],
    }


def spark_conf(env: dict, event_log_dir: str | None) -> dict[str, str]:
    conf = {
        # -Xms = -Xmx: a fixed-size heap makes the JVM's resident set
        # depend on the work, not on when G1 decides to grow the heap.
        # No perf-data file: HotSpot would write it under /tmp, outside
        # the checkout.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={env['java_tmp']} -Xms{env['driver_mem']} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of this process plus the JVM it launched."""
    kb = _vm_hwm_kb("self")
    pid = jvm_pid()
    if pid:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


# ----------------------------------------------------------------------
# statistics
# ----------------------------------------------------------------------
def percentile(values: list[float], q: float, min_tail: int = 10) -> float | None:
    """The ``q``-th percentile (0 < q < 100, linear interpolation), or
    None when fewer than ``min_tail`` samples lie beyond it — a tail
    estimated from a handful of samples is noise, not a measurement."""
    n = len(values)
    if n == 0 or n * (100.0 - q) / 100.0 < min_tail:
        return None
    s = sorted(values)
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(values: list[float], min_tail: int = 10) -> tuple[float, float] | None:
    """(q, value) for the highest of p99/p95/p90/p75/p50 with at least
    ``min_tail`` samples beyond it, or None."""
    for q in (99.0, 95.0, 90.0, 75.0, 50.0):
        v = percentile(values, q, min_tail)
        if v is not None:
            return q, v
    return None


def median(values: list[float]) -> float:
    return float(statistics.median(values))


# ----------------------------------------------------------------------
# ops and passes
# ----------------------------------------------------------------------
@dataclass
class Op:
    """One operation of a pass: its latency, wall-clock window and
    whether its output passed the check. ``unit`` ops are the ones the
    op-latency percentiles are taken over."""

    name: str
    seconds: float
    start_wall: float
    end_wall: float
    unit: bool = True
    ok: bool = True
    error: str | None = None
    check_s: float = 0.0


@dataclass
class Pass:
    seconds: float
    start_wall: float
    end_wall: float
    ops: list[Op] = field(default_factory=list)
    extra: dict = field(default_factory=dict)   # workload's per-pass counters
    perf: tuple = (0.0, 0.0)                    # perf_counter window


class OpTimer:
    """Closed-loop op runner: times ``fn()`` (which must deliver the full
    result to the client), then checks the result OUTSIDE the timed
    region. An exception or a failed check marks the op failed. Check
    time is excluded from the pass time as well."""

    def __init__(self, tracer=None):
        self.ops: list[Op] = []
        self.extra: dict = {}
        self.tracer = tracer
        self._seq = 0

    def run(self, name: str, fn, check=None, unit: bool = True):
        from spans import op_scope

        self._seq += 1
        op_id = f"{name}#{self._seq}"
        w0, t0 = time.time(), time.perf_counter()
        try:
            with op_scope(self.tracer, name, op_id):
                result = fn()
        except Exception as ex:  # noqa: BLE001 — counted, not raised
            dt = time.perf_counter() - t0
            self.ops.append(Op(name, dt, w0, w0 + dt, unit, False, repr(ex)[:300]))
            return None
        dt = time.perf_counter() - t0
        op = Op(name, dt, w0, w0 + dt, unit)
        if check is not None:
            c0 = time.perf_counter()
            try:
                problem = check(result)
            except Exception as ex:  # noqa: BLE001
                problem = f"check raised {ex!r}"
            op.check_s = time.perf_counter() - c0
            if problem:
                op.ok, op.error = False, str(problem)[:300]
        self.ops.append(op)
        return result


def tally(passes: list[Pass]) -> tuple[int, int]:
    """(ops attempted, ops failed) over the timed passes; an op fails when
    it raised or its output failed its check."""
    ops = [o for p in passes for o in p.ops]
    return len(ops), sum(1 for o in ops if not o.ok)


def isolate_pass(spark, pass_dir: str) -> None:
    """Between passes (untimed): drop cached/checkpointed blocks of the
    previous pass and its output directory."""
    gc.collect()
    try:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001 — best effort
        pass
    shutil.rmtree(pass_dir, ignore_errors=True)


def fresh_dir(base: str, tag: str) -> str:
    d = os.path.join(base, f"{tag}-{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    return d


# ----------------------------------------------------------------------
# output
# ----------------------------------------------------------------------
def info(line: str) -> None:
    print(f"# {line}", flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": metrics,
        }
    )
