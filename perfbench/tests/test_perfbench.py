"""Self-tests of the benchmark: key assignment, percentiles, window
attribution and the metric names it prints.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import time

import pytest

import attribution
import metrics
import stats
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def queries():
    import yc_data_proc_metadata_import_spark as engine
    from yc_data_proc_metadata_import_spark.registry import QUERIES

    engine.load_all()
    return QUERIES


def test_every_key_has_one_workload_and_one_layer(queries):
    assigned = workloads.assign(queries)
    assert set(assigned) == set(queries)
    for key, (workload, layer) in assigned.items():
        assert workload in workloads.WORKLOADS, key
        assert layer in workloads.LAYERS, key
    per_workload = {w: sum(1 for a in assigned.values() if a[0] == w) for w in workloads.WORKLOADS}
    assert sum(per_workload.values()) == len(queries)
    assert all(per_workload.values()), per_workload


def test_samples_are_keys_of_their_workload(queries):
    assigned = workloads.assign(queries)
    assert set(workloads.SAMPLE) == set(workloads.WORKLOADS)
    for workload, keys in workloads.SAMPLE.items():
        assert len(set(keys)) == len(keys)
        for key in keys:
            assert assigned[key][0] == workload, key


def test_module_outside_every_workload_is_refused():
    with pytest.raises(ValueError):
        workloads.workload_of("catalogs.new_module")
    assert workloads.workload_of("functions.udf") == "llm_curation"
    assert workloads.workload_of("functions.scalar") == "relational"


def test_percentile_refuses_a_thin_tail():
    with pytest.raises(ValueError):
        stats.percentile([float(i) for i in range(99)], 90)
    with pytest.raises(ValueError):
        stats.percentile([1.0] * 19, 50)
    assert stats.percentile([float(i) for i in range(100)], 90) == 89.0
    assert stats.percentile([float(i) for i in range(20)], 50) == 9.0


def test_window_attribution_of_jobs_tasks_and_plans():
    windows = attribution.Windows([(1000, 2000, "k", "build"), (2000, 3001, "k", "exec")])
    plan = {
        "nodeName": "AdaptiveSparkPlan",
        "children": [
            {"nodeName": "BroadcastHashJoin", "children": [
                {"nodeName": "Exchange", "children": []},
                {"nodeName": "ArrowEvalPython", "children": []},
            ]},
        ],
    }
    task = {
        "Executor Run Time": 300,
        "Executor CPU Time": 100_000_000,
        "JVM GC Time": 20,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
        "Input Metrics": {"Bytes Read": 11},
        "Output Metrics": {"Bytes Written": 13},
    }
    sql = attribution._SQL
    events = [
        # A job under a job group the benchmark never set, as a
        # streaming micro-batch runs, is still the key's.
        {"Event": "SparkListenerJobStart", "Submission Time": 1500, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "stream-run-id"}},
        {"Event": "SparkListenerJobStart", "Submission Time": 2500, "Stage IDs": [2]},
        {"Event": "SparkListenerJobStart", "Submission Time": 5000, "Stage IDs": [3]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": task},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": task},
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 4, "time": 2400,
         "sparkPlanInfo": {"nodeName": "AdaptiveSparkPlan", "children": []}},
        {"Event": sql + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 4,
         "sparkPlanInfo": plan},
    ]
    row = attribution.reduce_events(events, windows)["k"]
    assert (row["jobs"], row["build_jobs"], row["tasks"]) == (2, 1, 1)
    assert row["executor_cpu_s"] == pytest.approx(0.1)
    assert row["executor_wait_s"] == pytest.approx(0.2)
    assert (row["shuffle_write_bytes"], row["input_bytes"], row["output_bytes"]) == (7, 11, 13)
    assert (row["exchanges"], row["broadcast_joins"], row["python_nodes"]) == (1, 1, 1)
    assert row["sql_executions"] == 1


def test_streaming_key_gets_its_micro_batch_jobs(tmp_path):
    """A real availableNow drain, attributed from the event log alone."""
    import __spark_entry__
    from yc_data_proc_metadata_import_spark.registry import QUERIES
    from yc_data_proc_metadata_import_spark.session import get_spark

    conf = {"spark.ui.enabled": "false", **attribution.event_log_conf(str(tmp_path))}
    spark = get_spark(app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
                      extra_conf=conf)
    recorder = attribution.ProgressRecorder()
    spark.streams.addListener(recorder)
    try:
        w0 = time.time()
        QUERIES["stream_tumbling"](spark, __spark_entry__.SF0001)
        w1 = time.time()
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
    windows = attribution.Windows([(int(w0 * 1000), int(w1 * 1000), "stream_tumbling", "build")])
    row = attribution.reduce_events(attribution.read_event_log(str(tmp_path), app_id), windows)
    assert row["stream_tumbling"]["jobs"] > 0
    assert row["stream_tumbling"]["build_jobs"] == row["stream_tumbling"]["jobs"]
    progress = attribution.reduce_progress(recorder.batches, windows)
    assert progress["stream_tumbling"]["batches"] > 0
    assert progress["stream_tumbling"]["add_batch_ms"] > 0


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_report_counts_failures_and_reduces_per_pass():
    from types import SimpleNamespace

    spark_row = dict.fromkeys(attribution.SPARK_COUNTERS, 0)
    run = SimpleNamespace(
        args=SimpleNamespace(workload="relational", seed=1, trace=1, seconds=5.0),
        cpus=4, sf_dir="sf0.1", scratch_state="empty", passes=2,
        setup={"start_s": 5.0, "fixture_s": 2.0, "warmup_s": 3.0}, setup_keys={},
        app_start_s=[0.5, 0.7], check_s=0.4, failures={"b": "AssertionError: b: row count 3 != 4"},
        records=[
            {"key": "a", "layer": "operators", "ok": True, "build_s": 0.5, "exec_s": 0.5},
            {"key": "b", "layer": "functions", "ok": False, "build_s": 0.2, "exec_s": 0.3},
            {"key": "a", "layer": "operators", "ok": True, "build_s": 0.5, "exec_s": 1.5},
            {"key": "b", "layer": "functions", "ok": False, "build_s": 0.1, "exec_s": 0.0},
        ],
        key_rows={"a": {**spark_row, "jobs": 6}, "b": {**spark_row, "jobs": 2}},
        stream_rows={},
        timed_s=lambda: 3.6,
    )
    rep = metrics.report(run, 2**30, ["a", "b"])
    m = rep["metrics"]
    assert (rep["attempted"], rep["failed"]) == (4, 2)
    assert m["queries_per_s"] == pytest.approx(2 / 3.6)
    assert m["setup_s"] == pytest.approx(10.0)
    assert m["session.app_start_s"] == pytest.approx(0.6)
    assert m["session.peak_rss_mb"] == 1024
    assert (m["operators.jobs"], m["functions.jobs"]) == (3, 1)
    assert (m["operators.failed"], m["functions.failed"]) == (0, 2)
    assert m["operators.exec_s"] == pytest.approx(1.0)
    assert set(metrics.PER_LAYER) <= set(m)
    line = metrics.result_line(rep, trace=False)
    assert line["correct"] is False
    assert set(line["metrics"]) == set(metrics.END_TO_END)
