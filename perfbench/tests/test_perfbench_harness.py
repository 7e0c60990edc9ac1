"""Spark-free checks of the benchmark's own arithmetic and inputs.

    python3 -m pytest perfbench/tests -q
"""

import json
import statistics
import time
from pathlib import Path

import pytest

import inputs
import run
from harness import Outcomes, PeakRss, Span, self_time_by_name, self_times, spread, tail, within_bound, worsening

ROOT = Path(__file__).resolve().parents[2]


def test_tail_is_the_eleventh_largest_sample():
    xs = list(range(1, 101))
    assert tail(xs) == (90.0, 90.0)
    assert tail(list(reversed(xs))) == (90.0, 90.0)
    p, v = tail(list(range(1, 21)))
    assert (p, v) == (50.0, 10.0)
    # exactly ten samples lie above the reported value
    assert sum(1 for x in xs if x > tail(xs)[1]) == 10


def test_tail_needs_more_than_ten_samples():
    assert tail(list(range(10))) is None
    assert tail([5.0] * 11) == (100.0 * 1 / 11, 5.0)


def test_failure_accounting():
    o = Outcomes()
    for ok in (True, True, False, True):
        o.record(ok, "" if ok else "row count differs")
    assert (o.attempted, o.failed) == (4, 1)
    assert o.failed_ratio == 0.25
    assert o.errors == ["row count differs"]
    assert Outcomes().failed_ratio == 0.0


def test_spread_uses_statistics_quartiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert spread(vals) == pytest.approx((q3 - q1) / statistics.median(vals))
    assert spread([4.0] * 10) == 0.0


def test_bound_comparison_respects_direction():
    assert worsening(100.0, 110.0, "lower") == pytest.approx(0.10)
    assert worsening(100.0, 90.0, "higher") == pytest.approx(0.10)
    assert worsening(100.0, 90.0, "lower") == pytest.approx(-0.10)
    assert within_bound([100.0] * 3, [124.0] * 3, "lower", 0.25)
    assert not within_bound([100.0] * 3, [126.0] * 3, "lower", 0.25)
    assert not within_bound([100.0] * 3, [70.0] * 3, "higher", 0.25)
    with pytest.raises(ValueError):
        worsening(1.0, 1.0, "sideways")


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "op", None, 1, 0.0, 10.0),
        Span(1, "a", 0, 1, 1.0, 4.0),
        Span(2, "b", 0, 1, 3.0, 6.0),      # overlaps a: union 1..6
        Span(3, "c", 1, 1, 2.0, 3.0),      # grandchild: only counts against a
        Span(4, "d", 0, 1, 9.0, 12.0),     # runs past its parent: clipped to 9..10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)
    by_name = self_time_by_name(spans + [Span(5, "a", None, 2, 20.0, 21.0)])
    assert by_name["a"] == pytest.approx(3.0)


def test_same_seed_same_inputs_other_seed_other_inputs():
    sizes = {"spatial_queries": 500, "incremental_sync": 400}
    assert inputs.digest(7, sizes) == inputs.digest(7, sizes)
    assert inputs.digest(7, sizes) != inputs.digest(8, sizes)


def test_query_cycles_keep_the_mix_composition():
    cycles = inputs.query_cycles(3, 5)
    kinds = sorted(it[1] if it[0] == "registry" else it[2][0] for it in cycles[0])
    for c in cycles:
        assert sorted(it[1] if it[0] == "registry" else it[2][0] for it in c) == kinds
    assert len(cycles[0]) == len(inputs.REGISTRY_QUERIES) + len(inputs.SELECTOR_TEMPLATES)
    assert cycles != inputs.query_cycles(4, 5)


def test_delta_batches_follow_the_fixture_shares():
    keys = inputs.order_keys(1, "incremental_sync", 1000)
    assert len(set(keys.tolist())) == 1000 and list(keys) == sorted(keys)
    stream = inputs.DeltaStream(1, keys)
    live = set(keys.tolist())
    for _ in range(3):
        d = stream.next_batch()
        assert (len(d["modified"]), len(d["new"]), len(d["deleted"])) == (
            round(len(live) * 0.05), round(len(live) * 0.02), round(len(live) * 0.01))
        assert set(d["deleted"].tolist()) <= live and set(d["modified"].tolist()) <= live
        assert not set(d["deleted"].tolist()) & set(d["modified"].tolist())
        assert not set(d["new"].tolist()) & live
        live = (live - set(d["deleted"].tolist())) | set(d["new"].tolist())
        assert set(stream.fp) == live


def test_benchmark_json_matches_the_runner():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == run.WORKLOAD_NAMES
    import workloads
    assert list(workloads.WORKLOADS) == run.WORKLOAD_NAMES
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in bench["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_peak_rss_sampler_stops():
    with PeakRss(interval_s=0.01) as rss:
        time.sleep(0.05)
        assert rss.peak_bytes > 0
    assert not rss._thread.is_alive()
