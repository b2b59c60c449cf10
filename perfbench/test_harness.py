"""Self-tests for the benchmark harness. No Spark: run with

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import statistics
import sys
import types

import pytest

import harness
import metrics
from harness import Span, Tracer


class FakeJobs(harness.JobCounter):
    """Job groups without an engine: ``run_job`` counts one job in the
    group that is current, as Spark attributes a job to the thread's
    group."""

    def __init__(self):
        self.current = None
        self.counts: dict[str, int] = {}

    def enter(self, group):
        self.current = group

    def leave(self, group, restore):
        self.current = restore
        return self.counts.get(group, 0)

    def run_job(self, n=1):
        self.counts[self.current] = self.counts.get(self.current, 0) + n


def test_percentile_matches_inclusive_quantiles():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    for n in (2, 4, 10):
        cuts = statistics.quantiles(xs, n=n, method="inclusive")
        for k, c in enumerate(cuts, start=1):
            assert harness.percentile(xs, k / n) == pytest.approx(c)
    assert harness.percentile([3.0], 0.9) == 3.0
    assert harness.percentile(xs, 0.0) == 1.0 and harness.percentile(xs, 1.0) == 9.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        harness.percentile([], 0.5)
    with pytest.raises(ValueError):
        harness.percentile([1.0], 1.5)


def test_spans_nest_and_self_time_excludes_children():
    t = Tracer()
    with t.span("root"):
        with t.span("a"):
            with t.span("a1"):
                pass
        with t.span("b"):
            pass
    root, a, a1, b = t.spans
    assert (a.parent, a1.parent, b.parent) == (0, 1, 0)
    assert root.child_s == pytest.approx(a.dur + b.dur)
    assert a.self_s == pytest.approx(a.dur - a1.dur)
    assert t.descendants(0) == [1, 2, 3]
    assert list(t.ancestors(2)) == [1, 0]


def test_span_closes_on_exception():
    t = Tracer()
    with pytest.raises(RuntimeError):
        with t.span("x"):
            raise RuntimeError("boom")
    assert t.spans[0].end >= t.spans[0].start
    with t.span("y"):
        pass
    assert t.spans[1].parent is None


def test_jobs_count_per_span_exclusive_of_nested_groups():
    jobs = FakeJobs()
    t = Tracer(jobs)
    with t.span("outer"):
        jobs.run_job()
        with t.span("inner"):
            jobs.run_job(3)
        with t.span("cheap", count_jobs=False):
            jobs.run_job()  # no group of its own: counts for "outer"
        jobs.run_job()
    outer, inner, cheap = t.spans
    assert (outer.jobs, inner.jobs, cheap.jobs) == (3, 3, 0)
    assert jobs.current is None


def test_attribute_splits_root_into_layers_that_sum_to_its_wall():
    jobs = FakeJobs()
    t = Tracer(jobs)
    with t.span("pipeline.batch"):
        jobs.run_job()
        with t.span("merge", batch_key="bronze:1"):
            jobs.run_job(2)
            with t.span("table.snapshot", count_jobs=False):
                pass
        with t.span("pipeline.gold"):
            jobs.run_job()
            with t.span("merge", batch_key="gold_daily:1"):
                jobs.run_job(4)
            with t.span("merge", batch_key="gold_daily_keyidx:gold_daily:1"):
                jobs.run_job(5)
    att = harness.attribute(t, 0, metrics.pipeline_layer)
    assert set(att) == {"self", "bronze", "gold", "keyidx"}
    assert sum(v[0] for v in att.values()) == pytest.approx(t.spans[0].dur)
    assert {k: v[1] for k, v in att.items()} == {"self": 1, "bronze": 2, "gold": 5, "keyidx": 5}


@pytest.mark.parametrize(
    "key,layer",
    [
        ("bronze:7", "bronze"),
        ("silver:7", "silver"),
        ("silver_tomb:7", "silver_tomb"),
        ("gold_weekly_long:7", "gold"),
        ("gold_weekly_long_keyidx:gold_weekly_long:7", "keyidx"),
        ("qa:batch:7", "qa"),
        ("ivm:3->4", None),
    ],
)
def test_pipeline_layer_of_merge_batch_keys(key, layer):
    assert metrics.pipeline_layer(Span("merge", None, attrs={"batch_key": key})) == layer


def test_pipeline_layer_of_wrapped_steps():
    assert metrics.pipeline_layer(Span("pipeline.qa", None)) == "qa"
    assert metrics.pipeline_layer(Span("pipeline.batch", None)) is None
    assert metrics.pipeline_layer(Span("table.snapshot", None)) is None


def _module_with(name, **attrs):
    mod = types.ModuleType(name)
    mod.__dict__.update(attrs)
    sys.modules[name] = mod
    return mod


def test_install_wraps_every_binding_and_restores():
    def work(x, *, batch_key=None):
        return x * 2

    class Table:
        def snapshot(self):
            return "snap"

    home = _module_with("perfbench_fake_home", work=work)
    alias = _module_with("perfbench_fake_alias", work=work, renamed=work)
    try:
        t = Tracer()
        targets = [
            harness.Target(home, "work", "merge", attrs=lambda a, k: {"batch_key": k.get("batch_key")}),
            harness.Target(Table, "snapshot", "table.snapshot", count_jobs=False),
            harness.Target(home, "gone", "never"),
        ]
        n, restore = harness.install(t, targets)
        assert n == 4  # home.work, alias.work, alias.renamed, Table.snapshot
        assert alias.renamed(2, batch_key="k") == 4 and home.work(1) == 2
        assert Table().snapshot() == "snap"
        assert [s.name for s in t.spans] == ["merge", "merge", "table.snapshot"]
        assert t.spans[0].attrs == {"batch_key": "k"} and t.spans[0].result == 4
        restore()
        assert home.work is work and alias.renamed is work and Table.snapshot.__name__ == "snapshot"
        assert not hasattr(Table.snapshot, "__perfbench_orig__")
    finally:
        del sys.modules["perfbench_fake_home"], sys.modules["perfbench_fake_alias"]


def test_benchmark_json_names_and_bounds():
    spec = harness.load_spec()
    harness.check_names(spec)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= e2e["setup_s"]["bound"] <= 0.25 for m in e2e.values())
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
    assert len(json.dumps(spec)) <= 64 * 1024


def test_check_names_rejects_repeats_and_bad_units():
    spec = {"workloads": [{"name": "a"}], "end_to_end": [{"name": "x", "unit": "s"}],
            "per_layer": [{"name": "x", "unit": "s"}]}
    with pytest.raises(ValueError):
        harness.check_names(spec)
    spec["per_layer"] = [{"name": "y", "unit": "a b"}]
    with pytest.raises(ValueError):
        harness.check_names(spec)


def _fake_workload():
    return types.SimpleNamespace(
        events=[1000, 1000], batch_s=[2.0, 3.0], compact_s=[], lag_s=[1.0, 1.5],
        point_s=[0.1, 0.2, 0.3], range_s=[0.4], silver_rows_in=[3000, 3600],
        read_files=[1, 1, 2], range_files=[4], tails=[0, 1, 1], failed=0, attempted=7,
    )


def test_end_to_end_metrics_are_the_spec_set():
    spec = harness.load_spec()
    vals = metrics.end_to_end(_fake_workload(), setup_s=40.0, rss_mb=1500.0)
    line = json.loads(harness.result_line(spec, False, True, 7, 0, vals))
    assert list(line["metrics"]) == [m["name"] for m in spec["end_to_end"]]
    assert line["metrics"]["events_per_s"]["value"] == pytest.approx(400.0)
    assert line["metrics"]["batch_s_p50"]["value"] == pytest.approx(2.5)


def test_per_layer_metrics_are_the_spec_set_and_read_amp_grows():
    spec = harness.load_spec()
    t = Tracer(FakeJobs())
    for _ in range(2):
        with t.span("pipeline.batch"):
            with t.span("merge", batch_key="bronze:1") as sp:
                sp.result = types.SimpleNamespace(events_in=1000)
    vals = metrics.per_layer(_fake_workload(), t, bindings=9, timed_s=6.0, steal_s=0.0,
                             written=4000, space_amp=1.5)
    line = json.loads(harness.result_line(spec, True, True, 7, 0, vals))
    assert list(line["metrics"]) == [m["name"] for m in spec["per_layer"]]
    assert vals["pipeline.read_amp"] == pytest.approx(3.3)
    assert vals["pipeline.read_amp_growth"] == pytest.approx(1.2)
    assert vals["pipeline.batch.merges"] == 1 and vals["compact.wall_s"] == 0.0


def test_result_line_rejects_missing_extra_and_nonfinite():
    spec = {"end_to_end": [{"name": "a", "unit": "s"}], "per_layer": []}
    with pytest.raises(ValueError):
        harness.result_line(spec, False, True, 1, 0, {})
    with pytest.raises(ValueError):
        harness.result_line(spec, False, True, 1, 0, {"a": 1.0, "b": 2.0})
    with pytest.raises(ValueError):
        harness.result_line(spec, False, True, 1, 0, {"a": float("nan")})
    with pytest.raises(ValueError):
        harness.result_line(spec, False, True, 0, 0, {"a": 1.0})
    assert json.loads(harness.result_line(spec, False, True, 1, 0, {"a": 1})) == {
        "correct": True, "attempted": 1, "failed": 0, "metrics": {"a": {"value": 1.0, "unit": "s"}}
    }


def test_per_layer_consumer_and_compaction_spans():
    jobs = FakeJobs()
    t = Tracer(jobs)
    with t.span("merge", batch_key="bronze:2") as sp:
        jobs.run_job(5)
        sp.result = types.SimpleNamespace(events_in=1000)
    with t.span("ivm.sync") as sp:
        jobs.run_job(2)
        with t.span("merge", batch_key="ivm:1->2"):
            jobs.run_job(3)
        sp.result = {"groups": 40, "since": 1, "head": 2}
    with t.span("relay.tick") as sp:
        jobs.run_job(4)
        sp.result = types.SimpleNamespace(rows=900)
    with t.span("compact") as sp:
        sp.result = 1200
    w = _fake_workload()
    w.silver_rows_in = []
    vals = metrics.per_layer(w, t, bindings=9, timed_s=6.0, steal_s=0.0, written=4000, space_amp=1.5)
    assert (vals["ivm.sync.jobs"], vals["ivm.sync.groups"]) == (5, 40)
    assert (vals["relay.tick.jobs"], vals["relay.tick.rows"]) == (4, 900)
    assert vals["compact.rows"] == 1200 and vals["merge.bronze.jobs"] == 5
    assert vals["merge.jobs_per_call"] == 4 and vals["pipeline.batch.wall_s"] == 0.0


@pytest.mark.parametrize("n_a,n_b,want", [
    (5, 15, "bbbabbbabbbabbbabbba"),
    (5, 5, "bababababa"),
    (2, 0, "aa"),
    (0, 3, "bbb"),
])
def test_interleave_spreads_calls_evenly(n_a, n_b, want):
    got = []
    harness.interleave(n_a, n_b, lambda: got.append("a"), lambda: got.append("b"))
    assert "".join(got) == want
