"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Generates the
workload's inputs from the seed, sets Spark up (timed), runs
closed-loop passes for ``--seconds``,
checks every op's output outside the timed region, and prints the
result as the last line of standard output (one JSON object). Lines
before it start with ``#`` and are information for a human reader.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` first runs
untraced passes for half the window, then traced passes for the other
half, and reports the per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402  (records the process start time)
from harness import info, median, metric  # noqa: E402

MIN_PASSES = 2

# End-to-end metrics (untraced run), with their units.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

# Every per-layer metric, with its unit; a traced run reports all of
# them, 0 for layers its workload does not exercise. Names ending in
# _s/_ms whose stem is a span name default to that span's inclusive
# time per pass; workloads add the rest.
PER_LAYER = {
    "session.get_spark_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.busy_frac": "ratio",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.jvm_gc_s": "s",
    "spark.failed_tasks": "count",
    "pipelines.ingest.run_ingest_s": "s",
    "pipelines.ingest.tasks": "count",
    "pipelines.ingest.tasks_failed": "count",
    "pipelines.ingest.aggregate_to_10min_s": "s",
    "sources.expert_csv.read_expert_csv_s": "s",
    "pipelines.compile.read_locations_s": "s",
    "pipelines.compile.compile_solar_s": "s",
    "sinks.netcdf.write_netcdf_s": "s",
    "sinks.netcdf3.write_netcdf3_s": "s",
    "sinks.bytes_written_mb": "MB",
    "pipelines.compare.run_compare_s": "s",
    "pipelines.compare.regression_stats_s": "s",
    "plans.build_ms": "ms",
    "plans.exec_ms": "ms",
    "plans.result_rows": "rows",
    "catalog.table_calls": "count",
    "catalog.table_ms": "ms",
    "operators.dedup.exact_dedup_ms": "ms",
    "operators.dedup.lsh_candidates": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.lsh_precision": "ratio",
    "operators.text.tfidf_ms": "ms",
    "operators.similarity.ann_ms": "ms",
    "operators.similarity.candidates_per_query": "count",
    "operators.similarity.recall_at_k": "ratio",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_mem_mb": "MB",
    "trace.overhead_pct": "%",
    "bench.pass_drift_pct": "%",
}


def _workloads():
    import wl_curation
    import wl_solar_etl

    return {w.name: w for w in (wl_solar_etl.SolarEtl, wl_curation.Curation)}


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM (and
    with it the Python workers it started) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def _passes(spark, wl, seconds, work, tracer=None):
    """Closed-loop passes for ``seconds`` of wall time (at least
    ``MIN_PASSES``); returns the list of ``harness.Pass``."""
    passes = []
    t_end = time.perf_counter() + seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        pass_dir = harness.fresh_dir(work, "pass")
        timer = harness.OpTimer(tracer)
        w0, p0 = time.time(), time.perf_counter()
        wl.run_pass(spark, timer, pass_dir)
        p1 = time.perf_counter()
        passes.append(
            harness.Pass(
                seconds=sum(o.seconds for o in timer.ops),
                start_wall=w0, end_wall=w0 + (p1 - p0), ops=timer.ops,
                extra=timer.extra, perf=(p0, p1),
            )
        )
        harness.isolate_pass(spark, pass_dir)
    return passes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, harness.PKG)):
        print(f"perfbench: package {harness.PKG!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2

    # On SIGTERM unwind normally, so the JVM is stopped and waited for and
    # the work directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    try:
        env = harness.configure_env(work)
        info(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
             f"trace={args.trace}")
        info(f"spark sizing: local[{env['cores']}] SPARK_GRAFT_CPUS={env['cores']} "
             f"SPARK_GRAFT_DRIVER_MEM={env['driver_mem']} (physical {env['mem_mb']} MB) "
             f"SPARK_LOCAL_DIRS={os.path.relpath(env['local_dirs'], ROOT)}")
        wl = workloads[args.workload](args.seed, work)
        # The package modules the workload calls are imported here, inside
        # set-up time, not in the input-generation window subtracted from it.
        from importlib import import_module

        for mod in wl.modules:
            import_module(f"{harness.PKG}.{mod}")
        g0 = time.perf_counter()
        props = wl.generate()
        gen_s = time.perf_counter() - g0
        info(f"inputs: {json.dumps(props, sort_keys=True)}")
        info(f"input generation + oracles: {gen_s:.3f} s (not part of setup_s)")
        state = {"spark": None}
        try:
            return _run(args, wl, env, work, gen_s, state)
        finally:
            if state["spark"] is not None:
                _stop_spark(state["spark"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".perfbench_work"))
        except OSError:
            pass


def _run(args, wl, env, work, gen_s, state) -> int:
    import spans

    session = sys.modules[f"{harness.PKG}.session"]
    # get_spark sweeps dead processes' warehouses under /tmp; this run's
    # warehouse is inside the checkout and it touches nothing outside it.
    session._sweep_dead_warehouses = lambda: None
    tracer = spans.Tracer() if args.trace else None
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    conf = harness.spark_conf(env, log_dir)

    # Set-up: process start → first timed op. Covers interpreter, pyspark
    # and package imports, get_spark (JVM launch) and the workload's
    # untimed warm-up passes (until the JIT has settled); excludes
    # the benchmark's own input generation and output checks.
    g = time.perf_counter()
    spark = state["spark"] = session.get_spark("perfbench", extra_conf=conf)
    get_spark_s = time.perf_counter() - g
    warm = harness.OpTimer()
    for _ in range(wl.warmup_passes):
        warm_dir = harness.fresh_dir(work, "warm")
        wl.run_pass(spark, warm, warm_dir)
        harness.isolate_pass(spark, warm_dir)
    check_s = sum(o.check_s for o in warm.ops)
    setup_s = time.perf_counter() - harness.PROCESS_START - gen_s - check_s
    warm_failed = sum(1 for o in warm.ops if not o.ok)
    for o in warm.ops:
        if not o.ok:
            info(f"warm-up op failed: {o.name}: {o.error}")
    info(f"setup: {setup_s:.3f} s (get_spark {get_spark_s:.3f} s, "
         f"{wl.warmup_passes} warm-up passes {sum(o.seconds for o in warm.ops):.3f} s)")

    if args.trace:
        untraced = _passes(spark, wl, args.seconds / 2, work)
        for module, attr, name, kind in wl.trace_targets():
            tracer.wrap(module, attr, name, kind)
        listener = events = None
        if getattr(wl, "streaming", False):
            listener, events = spans.progress_listener(spark)
        passes = _passes(spark, wl, args.seconds / 2, work, tracer)
        tracer.restore()
        if hasattr(wl, "after_trace"):
            wl.after_trace(spark)
        app_id = spark.sparkContext.applicationId
        rss = harness.peak_rss_mb()
        time.sleep(0.5)  # let the listener bus deliver the last progress
        if listener is not None:
            spark.streams.removeListener(listener)
        _stop_spark(spark)
        state["spark"] = None
        ev = spans.read_event_log(log_dir, app_id)
        metrics = _layer_metrics(wl, passes, untraced, tracer, ev, events, env, get_spark_s)
    else:
        passes = _passes(spark, wl, args.seconds, work)
        rss = harness.peak_rss_mb()
        _stop_spark(spark)
        state["spark"] = None
        metrics = None
    ops = [o for p in passes for o in p.ops]
    attempted, failed = harness.tally(passes)
    for o in ops:
        if not o.ok:
            info(f"FAILED op {o.name}: {o.error}")
    pass_s = median([p.seconds for p in passes])
    unit = [o.seconds for o in ops if o.unit] if wl.unit_op else [p.seconds for p in passes]
    info(f"{'traced ' if args.trace else ''}passes: {len(passes)}  ops attempted: {attempted}  failed: {failed}  "
         f"failed_frac: {failed / attempted:.4f}")
    drift = 100.0 * (passes[-1].seconds - passes[0].seconds) / passes[0].seconds
    info(f"pass times (s): " + " ".join(f"{p.seconds:.3f}" for p in passes)
         + f"  first→last drift: {drift:+.1f}%")
    tail = harness.tail_percentile(unit)
    info(f"unit op: {wl.unit_op or 'whole pass'}; {len(unit)} samples; median "
         f"{1000 * median(unit):.3f} ms; highest percentile with ≥10 samples beyond it: "
         + (f"p{tail[0]:g} = {1000 * tail[1]:.3f} ms" if tail else "none (op_p95_ms omitted)"))
    info(f"peak_rss_mb (driver python + JVM): {rss:.1f}")

    if metrics is None:
        values = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "rows_per_s": wl.input_rows / pass_s,
            "op_p50_ms": 1000 * median(unit),
            "peak_rss_mb": rss,
        }
        metrics = {k: metric(values[k], u) for k, u in END_TO_END.items()}
    for k, v in metrics.items():
        info(f"{k:44s} {v['value']:>14.4f} {v['unit']}")
    correct = failed == 0 and warm_failed == 0
    print(harness.result_line(correct, attempted, failed + warm_failed, metrics), flush=True)
    return 0


def _layer_metrics(wl, passes, untraced, tracer, ev, events, env, get_spark_s) -> dict:
    """Per-layer metrics, each the median over traced passes of its
    per-pass value; prints the span table with self times."""
    import spans as sp_mod

    selfs = sp_mod.self_times(tracer.spans)
    per_pass: list[dict] = []
    table: dict[str, list[float]] = {}
    for p in passes:
        lo, hi = p.perf
        in_pass = [s for s in tracer.spans if lo <= s.start and s.end <= hi]
        vals: dict[str, float] = {}
        for name, unit in PER_LAYER.items():
            base, scale = (name[:-3], 1000.0) if name.endswith("_ms") else (
                (name[:-2], 1.0) if name.endswith("_s") else (None, 0))
            if base:
                hit = [s.seconds for s in in_pass if s.name == base]
                if hit:
                    vals[name] = scale * sum(hit)
        for s in in_pass:
            key = s.name
            tot = table.setdefault(key, [0.0, 0.0, 0.0, 0])
            tot[0] += s.seconds
            tot[1] += selfs[s.id]
            tot[2] += 1
            tot[3] = s.kind
        vals.update(sp_mod.spark_window_metrics(ev, p.start_wall, p.end_wall, env["cores"]))
        vals.update(wl.layer_metrics(p, in_pass, selfs, events or []))
        per_pass.append(vals)
        top = sum(s.seconds for s in in_pass if s.parent is None)
        info(f"traced pass {p.seconds:.3f} s: top-level spans cover {top:.3f} s "
             f"({100 * top / p.seconds:.1f}%)")
    n = len(passes)
    info(f"{'span (per pass, traced)':48s} {'kind':5s} {'calls':>6s} {'incl_s':>9s} {'self_s':>9s}")
    for name, (incl, self_s, calls, kind) in sorted(table.items(), key=lambda kv: -kv[1][0]):
        info(f"{name:48s} {kind:5s} {calls / n:6.1f} {incl / n:9.4f} {self_s / n:9.4f}")
    traced_s = median([p.seconds for p in passes])
    untraced_s = median([p.seconds for p in untraced])
    overhead = 100.0 * (traced_s - untraced_s) / untraced_s
    info(f"tracing overhead: traced pass_s {traced_s:.3f} - untraced pass_s "
         f"{untraced_s:.3f} = {traced_s - untraced_s:+.3f} s ({overhead:+.1f}%)")
    out = {}
    for name, unit in PER_LAYER.items():
        vs = [pp.get(name, 0.0) for pp in per_pass]
        out[name] = metric(median(vs), unit)
    out["session.get_spark_s"] = metric(get_spark_s, "s")
    out["trace.overhead_pct"] = metric(overhead, "%")
    all_p = untraced + passes
    out["bench.pass_drift_pct"] = metric(
        100.0 * (all_p[-1].seconds - all_p[0].seconds) / all_p[0].seconds, "%"
    )
    return out


if __name__ == "__main__":
    sys.exit(main())
