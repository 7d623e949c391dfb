"""Span self times, phase parsing and the event-log join."""

import json

import pandas as pd
import pytest

import oracle
import tracing
from tracing import Tracer, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_is_duration_minus_children_union():
    t = Tracer()
    op = t.add("operation", 0.0, 10.0, "w/1/k/0")
    build = t.add("build", 0.0, 4.0, op.op, op.id)
    execute = t.add("execute", 4.0, 10.0, op.op, op.id)
    j1 = t.add("job", 5.0, 7.0, op.op, execute.id)
    t.add("job", 6.0, 8.5, op.op, execute.id)
    t.add("stage", 5.0, 6.0, op.op, j1.id)
    t.add("catalyst.analysis", 3.0, 3.5, op.op, build.id)
    st = self_times(t.spans)
    assert st[op.id] == 0.0
    assert st[build.id] == 3.5
    assert st[execute.id] == 2.5  # 6 s minus the jobs' union [5, 8.5]
    assert st[j1.id] == 1.0


def test_self_times_of_a_serial_tree_add_up_to_the_root():
    t = Tracer()
    op = t.add("operation", 0.0, 10.0, "w/1/k/0")
    execute = t.add("execute", 2.0, 9.0, op.op, op.id)
    job = t.add("job", 3.0, 6.0, op.op, execute.id)
    t.add("stage", 3.5, 5.0, op.op, job.id)
    assert sum(self_times(t.spans).values()) == pytest.approx(op.duration)


def test_parse_phases():
    text = ("Map(planning -> PhaseSummary(1000, 1250), optimization -> "
            "PhaseSummary(900, 1000), analysis -> PhaseSummary(800, 800))")
    assert tracing.parse_phases(text) == [
        ("planning", 1.0, 1.25), ("optimization", 0.9, 1.0), ("analysis", 0.8, 0.8)
    ]


def _event_log(path):
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"nodeName": "MapInArrow", "metrics": [
             {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "nsTiming"},
             {"name": "number of output rows", "accumulatorId": 8, "metricType": "sum"},
         ], "children": []}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "w/1/k/0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1500,
         "Stage IDs": [4], "Properties": {"spark.jobGroup.id": "stream-run-id"}},
    ]
    for stage, attempt in ((3, 0), (3, 1), (4, 0)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Attempt": attempt, "Accumulables": [
                {"ID": 7, "Update": 2_000_000}, {"ID": 8, "Update": 5}]},
            "Task Metrics": {"Executor Run Time": 100, "Executor CPU Time": 50_000_000,
                             "JVM GC Time": 3, "Input Metrics": {"Records Read": 10},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}},
        })
    events += [
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 3, "Stage Attempt ID": 0, "Submission Time": 5100,
            "Completion Time": 6000}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 4, "Stage Attempt ID": 0, "Submission Time": 1600,
            "Completion Time": 1900}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 6100},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2000},
    ]
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(path)


def test_event_log_join_by_group_then_by_time(tmp_path):
    log = tracing.read_event_log(_event_log(tmp_path / "log"))
    t = Tracer()
    batch_op = t.add("operation", 4.0, 7.0, "w/1/k/0", key="k")
    t.add("execute", 4.5, 7.0, batch_op.op, batch_op.id)
    stream_op = t.add("operation", 1.0, 3.0, "w/1/s/0", key="s")
    counts = tracing.attach_jobs(t, log, [batch_op, stream_op])
    b, s = counts[batch_op.id], counts[stream_op.id]
    assert b["exec.jobs"] == 1 and s["exec.jobs"] == 1  # job 2 joined by time
    assert b["exec.tasks"] == 2 and b["exec.task_retries"] == 1
    assert b["python.total_ms"] == pytest.approx(4.0)  # 2 tasks x 2e6 ns
    assert b["python.rows_received"] == 10
    assert b["exec.cpu_ms"] == pytest.approx(100.0)
    assert b["scan.records"] == 20
    job = next(x for x in t.spans if x.name == "job" and x.op == batch_op.op)
    assert t.spans[job.parent].name == "execute"
    stages = [x for x in t.spans if x.name == "stage"]
    assert {t.spans[x.parent].op for x in stages} == {batch_op.op, stream_op.op}


def test_progress_metrics_sum_batches_and_keep_gauges():
    def batch(ts, wm, rows, sst):
        return {
            "timestamp": ts, "durationMs": {"addBatch": 100, "triggerExecution": 150},
            "eventTime": {"max": "2024-01-01T00:20:00.000Z", "watermark": wm},
            "sink": {"numOutputRows": rows},
            "stateOperators": [{"numRowsTotal": 4, "numRowsUpdated": 2,
                                "numRowsDroppedByWatermark": 1,
                                "customMetrics": {"rocksdbSstFileSize": sst,
                                                  "rocksdbPutCount": 3}}],
        }
    m = tracing.progress_metrics([
        batch("2024-01-01T00:00:00.000Z", "1970-01-01T00:00:00.000Z", 0, 10),
        batch("2024-01-01T00:00:01.000Z", "2024-01-01T00:10:00.000Z", 6, 30),
    ])
    assert m["microbatch.count"] == 2
    assert m["microbatch.add_batch_ms"] == 200
    assert m["sink.rows"] == 6
    assert m["state.rows_total"] == 4
    assert m["state.rows_dropped_late"] == 2
    assert m["state.rocksdb.rocksdbSstFileSize"] == 30
    assert m["state.rocksdb.rocksdbPutCount"] == 6
    assert m["microbatch.watermark_lag_ms"] == 600_000


def test_pass_totals_average_per_key_then_sum():
    totals = tracing.pass_totals({
        "a": [{"exec.tasks": 2}, {"exec.tasks": 4}],
        "b": [{"exec.tasks": 1, "exec.jobs": 1}],
    })
    assert totals == {"exec.tasks": 4.0, "exec.jobs": 1.0}


def test_oracle_compare_is_order_insensitive_and_exact():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.0]})
    b = pd.DataFrame({"v": [2.0, 0.5, None], "k": [3, 1, 2]})
    assert oracle.compare(a, b) is None
    c = b.assign(v=[2.0, 0.25, None])
    assert "values differ" in oracle.compare(a, c)
    assert "rowcount" in oracle.compare(a, b.head(2))
    assert "dtype" in oracle.compare(a, b.assign(k=b["k"].astype("float64")))
    nested = pd.DataFrame({"k": [1], "v": [[1, 2]]})
    assert "nested" in oracle.compare(nested, nested)
