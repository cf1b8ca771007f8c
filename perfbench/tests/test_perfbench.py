"""Tests for the benchmark's own code. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import pickle
import sys
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import measure, workloads  # noqa: E402
from perfbench.spans import Span, Tracer, self_jobs, self_times, since  # noqa: E402
from perfbench.sparkstats import plan_counts  # noqa: E402


def test_percentile_interpolates_and_matches_known_points():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert measure.percentile(xs, 0) == 1.0
    assert measure.percentile(xs, 50) == 3.0
    assert measure.percentile(xs, 100) == 5.0
    assert measure.percentile(xs, 90) == pytest.approx(4.6)
    assert measure.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        measure.percentile([], 50)
    with pytest.raises(ValueError):
        measure.percentile(xs, 101)


def test_geomean():
    assert measure.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert measure.geomean([2.5]) == pytest.approx(2.5)
    with pytest.raises(ValueError):
        measure.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        measure.geomean([])


def _span(name, start, end, parent=None, jobs=(0, 0)):
    return Span(name, start, end, parent, None, *jobs)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span("op", 0.0, 10.0, jobs=(0, 9)),
        _span("build", 1.0, 4.0, parent=0, jobs=(0, 3)),
        _span("ext", 2.0, 3.0, parent=1, jobs=(1, 3)),
        # two overlapping children (engine worker threads) count once
        _span("io", 5.0, 8.0, parent=0, jobs=(3, 6)),
        _span("io", 6.0, 9.0, parent=0, jobs=(6, 8)),
    ]
    assert self_times(spans) == pytest.approx([10 - 3 - 4, 3 - 1, 1, 3, 3])
    assert self_jobs(spans) == [1, 1, 2, 3, 2]


def test_self_time_clips_children_to_the_parent():
    spans = [_span("a", 0.0, 2.0), _span("b", 1.0, 5.0, parent=0)]
    assert self_times(spans) == pytest.approx([1.0, 4.0])


def test_since_rebases_parents():
    spans = [_span("a", 0, 1), _span("b", 1, 4), _span("c", 2, 3, parent=1), _span("d", 2, 3, parent=0)]
    tail = since(spans, 1)
    assert [s.parent for s in tail] == [None, 0, None]
    assert self_times(tail) == pytest.approx([2.0, 1.0, 1.0])


def test_tracer_nests_spans_and_unpatches():
    mod = types.ModuleType("fake_engine")

    def leaf(x):
        return x + 1

    def outer(x):
        return mod.leaf(x) * 2

    mod.leaf, mod.outer = leaf, outer
    jobs = iter(range(100))
    tracer = Tracer(lambda: next(jobs))
    tracer.patch_function(leaf, "ext.leaf", [mod])
    tracer.patch_function(outer, "registry.outer", [mod])
    with tracer.span("op"):
        assert mod.outer(1) == 4
    names = [s.name for s in tracer.spans]
    assert names == ["op", "registry.outer", "ext.leaf"]
    assert [s.parent for s in tracer.spans] == [None, 0, 1]
    tracer.unpatch()
    assert mod.leaf is leaf and mod.outer is outer


def test_traced_method_binds_and_unpatches():
    class Ledger:
        def record(self, x):
            return ("recorded", x)

    original = Ledger.__dict__["record"]
    tracer = Tracer()
    tracer.patch_attr(Ledger, "record", "ingest.ledger")
    assert Ledger().record(3) == ("recorded", 3)
    assert tracer.spans[0].name == "ingest.ledger"
    tracer.unpatch()
    assert Ledger.__dict__["record"] is original


def test_traced_function_pickles_as_the_original():
    tracer = Tracer()
    wrapped = tracer.wrap(measure.geomean, "x")
    assert pickle.loads(pickle.dumps(wrapped)) is measure.geomean


def test_failures_are_counted_with_op_and_pass():
    out = workloads.Outcomes()

    def boom():
        raise RuntimeError("executor lost")

    assert out.run("q_ok", 0, lambda: 1.5) == 1.5
    assert out.run("q_raises", 0, boom) is None
    expected = workloads.digest_rows(["a"], [("1",)])
    wrong = workloads.digest_rows(["a"], [("2",)])

    def same_hash(d: str) -> str | None:
        return None if d == expected else "hash differs"

    assert out.run("q_wrong", "check", lambda: wrong, same_hash) is None
    assert out.run("q_right", "check", lambda: expected, same_hash) == expected
    assert out.attempted == 4
    assert out.failed == 2
    assert [(e["op"], e["pass"], e["kind"]) for e in out.errors] == [
        ("q_raises", 0, "exception"),
        ("q_wrong", "check", "mismatch"),
    ]
    assert "executor lost" in out.errors[0]["detail"]


def test_end_to_end_uses_per_op_medians():
    out = workloads.Outcomes()
    out.latency["a"] += [1.0, 3.0, 2.0]
    out.latency["b"] += [4.0]
    e2e = workloads.end_to_end([5.0, 7.0, 6.0], out, [2.0], 9.0, 100.0)
    assert e2e["op_geomean_s"] == pytest.approx(measure.geomean([2.0, 4.0]))
    assert e2e["wall_s"] == 6.0
    assert e2e["op_p90_s"] == pytest.approx(measure.percentile([1, 3, 2, 4], 90))


class _Meter:
    """Each pass costs 2 CPU seconds."""

    def __init__(self):
        self.passes = 0

    def cpu_s(self) -> float:
        return 2.0 * self.passes


def test_window_runs_whole_passes_and_abba_when_traced():
    calls = []

    meter = _Meter()

    def run_pass(n, traced):
        calls.append((n, traced))
        meter.passes += 1
        return 1.0 + n

    ctx = types.SimpleNamespace(meter=meter, seconds=15.0, trace=False)
    out = workloads.run_window(ctx, run_pass, 5.0)
    assert calls == [(0, False), (1, False), (2, False)]
    assert out["untraced_walls"] == [1.0, 2.0, 3.0]
    assert out["pass_cpu"] == [2.0, 2.0, 2.0]

    calls.clear()
    ctx = types.SimpleNamespace(meter=meter, seconds=1.0, trace=True)
    out = workloads.run_window(ctx, run_pass, 5.0)
    assert calls == [(0, False), (1, True), (2, True), (3, False)]
    assert out["traced_walls"] == [2.0, 3.0]
    assert out["overhead_frac"] == pytest.approx(2.5 / 2.5 - 1)


def test_pass_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(8)]
    assert workloads.pass_order(names, 3, 0) == workloads.pass_order(names, 3, 0)
    assert sorted(workloads.pass_order(names, 3, 1)) == names
    assert workloads.pass_order(names, 3, 0) != workloads.pass_order(names, 4, 0)


def test_plan_counts():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1], functions=[sum(v#2)])
   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=10]
      +- HashAggregate(keys=[k#1], functions=[partial_sum(v#2)])
         +- BroadcastHashJoin [k#1], [k#3], Inner, BuildRight, false
            :- FileScan parquet [k#1,v#2] Batched: true
            +- BroadcastExchange HashedRelationBroadcastMode, [plan_id=7]
               +- *(1) Scan ExistingRDD[k#3]
"""
    assert plan_counts(plan) == (2, 2)


def _read_all(path: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            with open(os.path.join(dirpath, n), "rb") as f:
                out[os.path.relpath(os.path.join(dirpath, n), path)] = f.read()
    return out


def test_landing_set_is_deterministic_per_seed(tmp_path):
    from perfbench.datagen import write_landing, write_tables

    def make(seed: int, name: str):
        tables, landing = tmp_path / name / "tables", tmp_path / name / "landing"
        write_tables(str(tables), seed, 0.001, order_days=181, customer_nations=5)
        ls = write_landing(str(tables), str(landing), seed, held_back=2, n_missing=1, n_extra=1)
        return ls, _read_all(str(tmp_path / name))

    a, files_a = make(11, "a")
    b, files_b = make(11, "b")
    c, files_c = make(12, "c")
    assert files_a == files_b
    assert files_a != files_c
    assert len(a.load) == 4 and len(a.incremental) == 2
    assert len(a.missing_column) == 1 and len(a.extra_column) == 1
    assert not set(a.missing_column) & set(a.extra_column)
    with open(a.missing_column[0]) as f:
        assert "store_id" not in f.readline()
    with open(a.extra_column[0]) as f:
        assert f.readline().strip().endswith('"payment_mode"')
    assert [os.path.basename(p) for p in a.load] == [os.path.basename(p) for p in b.load]


def test_benchmark_json_metrics_are_the_ones_computed():
    import json

    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = workloads.Outcomes()
    out.latency["a"] += [1.0]
    computed = workloads.end_to_end([1.0], out, [1.0], 1.0, 1.0)
    for m in spec["end_to_end"]:
        assert m["name"] in computed
        assert run.END_TO_END_UNITS[m["name"]] == m["unit"]
    assert run.metric_units("end_to_end") == {m["name"]: m["unit"] for m in spec["end_to_end"]}

