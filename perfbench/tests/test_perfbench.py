"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import threading
import time
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


TINY_CURATION = gen.CurationShape(
    base_docs=40, exact_dup_share=0.1, near_dup_share=0.1,
    vectors=50, requests=2, batch=4, stream_files=2,
)


@pytest.mark.parametrize(
    "make",
    [
        lambda seed, out: gen.solar_inputs(seed, out, gen.SolarShape(stations=2, days=1)),
        lambda seed, out: gen.curation_inputs(seed, out, TINY_CURATION),
    ],
    ids=["solar", "curation"],
)
def test_generators_are_byte_deterministic_per_seed(tmp_path, make):
    make(7, str(tmp_path / "a"))
    make(7, str(tmp_path / "b"))
    make(8, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert set(a) == set(c) and a != c


def test_percentile_omits_thin_tails():
    assert harness.percentile([1.0] * 199, 95) is None   # 9.95 samples beyond
    assert harness.percentile(list(range(200)), 95) == pytest.approx(189.05)
    assert harness.percentile([], 50) is None
    assert harness.percentile([3.0, 1.0, 2.0], 50, min_tail=1) == 2.0


def test_injected_wrong_result_counts_as_failed():
    timer = harness.OpTimer()
    truth = [1, 2, 3]

    def check(rows):
        return None if rows == truth else f"{rows} != {truth}"

    timer.run("good", lambda: [1, 2, 3], check)
    timer.run("wrong", lambda: [1, 2, 4], check)          # injected wrong result
    timer.run("raises", lambda: 1 / 0, check)
    p = harness.Pass(sum(o.seconds for o in timer.ops), 0.0, 0.0, timer.ops)
    attempted, failed = harness.tally([p])
    assert (attempted, failed) == (3, 2)
    assert [o.ok for o in timer.ops] == [True, False, False]
    # the check runs outside the timed region
    slow = harness.OpTimer()
    slow.run("x", lambda: 0, lambda _: time.sleep(0.05))
    assert slow.ops[0].seconds < slow.ops[0].check_s


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    wl = run._workloads()
    assert sorted(wl) == sorted(w["name"] for w in spec["workloads"])
    line = harness.result_line(
        True, 3, 0, {k: harness.metric(1.5, u) for k, u in run.END_TO_END.items()}
    )
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.END_TO_END


def test_traced_spans_nest_and_self_times_sum_to_parent():
    tracer = spans.Tracer()
    mod = types.SimpleNamespace()

    def leaf(d):
        time.sleep(d)

    def inner():
        time.sleep(0.01)
        mod.leaf(0.02)
        mod.leaf(0.01)

    mod.leaf, mod.inner = leaf, inner
    tracer.wrap(mod, "leaf", "layer.leaf", "eager")
    tracer.wrap(mod, "inner", "layer.inner", "lazy")
    with tracer.span("op", "op", "op#1"):
        time.sleep(0.01)
        mod.inner()
        # a pool thread's span hangs under the main thread's open span
        t = threading.Thread(target=mod.leaf, args=(0.01,))
        t.start()
        t.join()
    tracer.restore()
    assert mod.leaf is leaf and mod.inner is inner

    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    (root,) = by_name["op"]
    (mid,) = by_name["layer.inner"]
    assert root.parent is None and mid.parent == root.id
    assert sorted(s.parent for s in by_name["layer.leaf"]) == sorted([mid.id, mid.id, root.id])
    assert all(s.op_id == "op#1" for s in tracer.spans)

    selfs = spans.self_times(tracer.spans)
    assert sum(selfs.values()) == pytest.approx(root.seconds, abs=1e-9)
    assert selfs[mid.id] == pytest.approx(
        mid.seconds - sum(s.seconds for s in by_name["layer.leaf"] if s.parent == mid.id)
    )
    assert all(v >= 0 for v in selfs.values())


def test_concurrent_children_are_not_double_counted():
    sp = [
        spans.Span(0, "parent", "eager", 0.0, 10.0),
        spans.Span(1, "a", "eager", 1.0, 5.0, parent=0),
        spans.Span(2, "b", "eager", 3.0, 7.0, parent=0),   # overlaps a
    ]
    assert spans.self_times(sp)[0] == pytest.approx(4.0)
