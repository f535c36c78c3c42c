"""bench.py is the one timing harness: its loop (`bench_sf`) and its
noop-sink runner (`run_entry`) are what every tool that times registry
entries calls."""

import glob
import os
import re

import bench
from test_plans import SF  # the sf0.001 test data


def test_only_bench_runs_the_noop_sink_or_forces_a_gc():
    """A second copy of the warmup/min-of-N loop drifts from the first
    (other sinks, cache clearing, GC); tools import bench's instead."""
    timing = re.compile(r"""["']noop["']|System\.gc\(""")
    with open(os.path.join(bench.ROOT, "bench.py")) as fh:
        assert len(timing.findall(fh.read())) == 2
    offenders = []
    for path in sorted(glob.glob(os.path.join(bench.ROOT, "tools", "*.py"))):
        with open(path) as fh:
            if timing.search(fh.read()):
                offenders.append(os.path.basename(path))
    assert offenders == []


def test_bench_sf_times_exactly_the_named_entries(spark, monkeypatch):
    """Warmup plus one pass over three named entries: the two that run
    are timed, the one that raises is recorded once and not retried, and
    no other registry entry runs."""
    registry = bench.entrymod.queries()
    calls = []

    def traced(name):
        def run(spark, sf_dir):
            calls.append(name)
            return registry[name](spark, sf_dir)

        return run

    def broken(spark, sf_dir):
        calls.append("top_revenue_orders")
        raise RuntimeError("planted failure")

    queries = {name: traced(name) for name in registry}
    queries["top_revenue_orders"] = broken
    monkeypatch.setattr(bench.entrymod, "queries", lambda: queries)

    names = ["agg_summary", "top_revenue_orders", "latest_by_offset"]
    timings, failures, warmup = bench.bench_sf(spark, SF, passes=1, names=names)

    assert calls == names + ["agg_summary", "latest_by_offset"]
    assert set(timings) == set(warmup) == {"agg_summary", "latest_by_offset"}
    assert all(sec >= 0 for sec in [*timings.values(), *warmup.values()])
    assert failures == {"top_revenue_orders": "RuntimeError: planted failure"}
