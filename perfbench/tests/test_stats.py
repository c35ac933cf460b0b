import json
import statistics
from pathlib import Path

import numpy as np
import pytest

from perfbench import metrics, stats


def test_percentile_matches_numpy():
    rng = np.random.default_rng(0)
    for n in (1, 2, 3, 7, 20, 101):
        xs = rng.random(n) * 100
        for q in (0, 10, 25, 50, 90, 99, 100):
            assert stats.percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_median_odd_and_even():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5


def test_quartile_spread_is_the_statistics_quantiles_figure():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)
    assert stats.quartile_spread([5.0] * 10) == 0.0


def _rec(op, rnd, latency, ok=True, **extra):
    return {"op": op, "round": rnd, "latency_s": latency, "ok": ok, "wrong": False, "build_s": None, **extra}


def test_end_to_end_aggregates():
    records = [
        _rec("a", 0, 0.1),
        _rec("b", 0, 0.3),
        _rec("a", 1, 0.2),
        _rec("b", 1, 0.4, ok=False),
        _rec("a", 2, 0.1),
        _rec("b", 2, 0.5),
    ]
    e2e = metrics.end_to_end(records, setup_s=12.0, heap_live_mb=900.0)
    assert set(e2e) == set(metrics.END_TO_END)
    assert e2e["ops_per_s"] == pytest.approx(6 / 1.6)
    # the failed op's latency is excluded from the percentiles
    assert e2e["latency_p50_ms"] == pytest.approx(200.0)
    assert e2e["latency_p90_ms"] == pytest.approx(np.percentile([0.1, 0.3, 0.2, 0.1, 0.5], 90) * 1000)
    # rounds: 0.4, 0.6, 0.6 -> median 0.6
    assert e2e["pass_s"] == pytest.approx(0.6)
    assert e2e["setup_s"] == 12.0 and e2e["heap_live_mb"] == 900.0


def test_per_layer_counts_and_defaults():
    records = [
        _rec("two_hop", 0, 2.0, jobs=5, tasks=40, run_ms=4000.0, cpu_s=3.0),
        _rec("path_exist", 0, 1.0, jobs=17, tasks=60, run_ms=2000.0, cpu_s=1.5),
        _rec("sql_neighbors", 0, 0.5, ok=False),
    ]
    e2e = metrics.end_to_end(records, 1.0, 1.0)
    probes = {"sql_neighbors.errors": 3, "sql_neighbors.probes": 3}
    m = metrics.per_layer(records, {"write_s": 2.0}, probes, 5.0, {"total": 3.0, "jvm": 1.0, "py": 2.0}, {}, 4, e2e)
    assert set(m) == set(metrics.PER_LAYER)
    assert m["spark.jobs_per_pass"] == 22 and m["spark.tasks_per_pass"] == 100
    assert m["spark.jobs_per_op"] == pytest.approx(22 / 3)
    assert m["spark.busy_share"] == pytest.approx(6000.0 / (3500.0 * 4))
    # the failed timed op and the three failed probes
    assert m["op.sql_neighbors.errors"] == 4
    assert m["error_rate"] == pytest.approx(1 / 3)
    assert m["graphar.write_s"] == 2.0
    # a layer this run did not exercise reads 0
    assert m["stream.stateful_dedup.batches"] == 0.0
    assert m["traced.pass_s"] == e2e["pass_s"]


def test_benchmark_json_lists_the_reported_metrics():
    from perfbench.workloads import WORKLOADS

    spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
