"""Event-log parser: per-job-group aggregation, on hand-written events and
on the log of a tiny labeled Spark job.

    python -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import eventlog  # noqa: E402


def _task(stage, run_ms, shuffle=0, accums=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"Name": n, "Update": str(v)} for n, v in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": 7}},
    }


def test_by_group_maps_tasks_through_stage_properties():
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "a"}},
        _task(0, 1500, shuffle=10,
              accums=[("time to run Python workers", 1200),
                      ("data sent to Python workers", 64)]),
        _task(1, 500),
        # an unlabeled job lands under None
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
         "Properties": {}},
        _task(2, 250),
        # a stage whose submission carries no properties keeps its job's group
        {"Event": "SparkListenerJobStart", "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3}},
        _task(3, 100),
    ]
    g = eventlog.by_group(events)
    assert set(g) == {"a", "b", None}
    a = g["a"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 2)
    assert a["task_s"] == pytest.approx(2.0)
    assert a["bytes_written"] == 14
    assert a["shuffle_write_bytes"] == 10
    assert a["python_run_s"] == pytest.approx(1.2)
    assert a["python_bytes_sent"] == 64
    assert g[None]["task_s"] == pytest.approx(0.25)
    assert (g["b"]["jobs"], g["b"]["tasks"]) == (1, 1)


def test_labeled_job_round_trips_through_spark_event_log(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]").appName("eventlog-test")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", tmp_path.as_uri())
             .config("spark.ui.enabled", "false")
             .getOrCreate())

    def identity(batches):  # nested: pickled by value for the workers
        yield from batches

    try:
        sc = spark.sparkContext
        sc.setJobGroup("labeled", "labeled")
        df = spark.range(0, 100, 1, 2)
        df.mapInArrow(identity, df.schema).write.format("noop").mode(
            "overwrite").save()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(0, 10, 1, 3).count()
    finally:
        spark.stop()

    events = eventlog.read_events(str(tmp_path))
    assert events and events[0]["Event"] == "SparkListenerLogStart"
    g = eventlog.by_group(events)
    lab = g["labeled"]
    assert lab["jobs"] == 1 and lab["tasks"] == 2
    assert lab["python_bytes_sent"] > 0 and lab["python_bytes_returned"] > 0
    assert lab["python_run_s"] > 0
    assert g[None]["jobs"] >= 1 and g[None]["tasks"] >= 1


def test_benchmark_json_matches_what_run_prints():
    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.PLAN_GROUP)
