"""The result record and BENCHMARK.json agree on every metric."""

import json
import os

import metrics
import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_the_schema():
    bench = _benchmark()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def _record(values):
    return {"correct": True, "attempted": 3, "failed": 0, "metrics": values}


def test_untraced_line_has_every_end_to_end_metric_with_unit():
    line = metrics.result_line(_record({n: 1.5 for n in metrics.END_TO_END}), trace=False)
    assert list(line) == ["correct", "attempted", "failed", "metrics"]
    assert line["metrics"] == {
        n: {"value": 1.5, "unit": u} for n, u in metrics.END_TO_END.items()
    }


def test_traced_line_has_every_per_layer_metric_with_unit():
    line = metrics.result_line(_record({"exec.tasks": 7}), trace=True)
    assert set(line["metrics"]) == set(metrics.PER_LAYER)
    assert line["metrics"]["exec.tasks"] == {"value": 7.0, "unit": "count"}
    assert all(v["unit"] == metrics.PER_LAYER[n] for n, v in line["metrics"].items())


def test_end_to_end_arithmetic():
    walls = {"a": [1.0, 3.0, 2.0], "b": [0.5, 0.5, 0.7]}
    e2e = metrics.end_to_end("batch", {"walls": walls}, 9.0, 100.0, 0, 2500)
    assert e2e["wall_s"] == 2.5  # median of a + median of b
    assert e2e["query_p50_s"] == 0.85
    assert e2e["events_per_s"] == 1000.0
    stream = metrics.end_to_end(
        "stream", {"walls": {"a": [4.0, 5.0], "b": [6.0, 5.0]}, "passes": [10.0, 10.0]},
        9.0, 100.0, 1000, 0,
    )
    assert stream["wall_s"] == 10.0
    assert stream["events_per_s"] == 200.0  # 2 keys x 1000 events per 10 s pass


def test_percentile_is_linear_between_order_statistics():
    xs = list(range(11))
    assert metrics.percentile(xs, 0.9) == 9
    assert metrics.percentile([1.0, 2.0], 0.5) == 1.5
    assert metrics.percentile([4.0], 0.9) == 4.0


def test_workload_modules_have_rollups():
    from flink_large_window_spark import api

    queries, oracles = api.queries(), api.oracle_sql()
    modules = set()
    for spec in run.WORKLOADS.values():
        for key in spec["keys"]:
            assert key in oracles, key
            modules.add(queries[key].__module__.removeprefix(run.PACKAGE + "."))
    assert modules == set(metrics.MODULES)
