"""Folding a small, fixed event log yields known counters."""

import json

import pytest

from perfbench import evlog

GROUP = "llm_corpus/3/mm_gif_stats/action"


def _task(stage, run_ms, cpu_ns, peak, accs=(), **extra):
    metrics = {
        "Executor Deserialize Time": 5,
        "Executor Run Time": run_ms,
        "Executor CPU Time": cpu_ns,
        "Peak Execution Memory": peak,
        "JVM GC Time": 7,
        "Disk Bytes Spilled": 0,
        "Shuffle Read Metrics": {"Local Bytes Read": 100,
                                 "Remote Bytes Read": 20,
                                 "Fetch Wait Time": 3},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 300,
                                  "Shuffle Write Time": 2_000_000},
        "Input Metrics": {"Bytes Read": 1000, "Records Read": 10},
    }
    metrics.update(extra)
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [
                {"ID": i, "Name": n, "Update": u, "Metadata": "sql"}
                for i, (n, u) in enumerate(accs)]},
            "Task Metrics": metrics}


EVENTS = [
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "sparkPlanInfo": {"nodeName": "MapInPandas", "metrics": [
         {"name": "time to run Python workers", "accumulatorId": 1,
          "metricType": "timing"},
         {"name": "shuffle write time", "accumulatorId": 2,
          "metricType": "nsTiming"}],
         "children": [{"nodeName": "Scan parquet", "metrics": [
             {"name": "scan time", "accumulatorId": 3,
              "metricType": "timing"}], "children": []}]}},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": GROUP}},
    _task(0, 200, 150_000_000, 4096,
          accs=[("scan time", "40"), ("number of output rows", "9")]),
    _task(1, 300, 250_000_000, 8192,
          accs=[("time to run Python workers", "120"),
                ("time to start Python workers", "30"),
                ("time to initialize Python workers", "10"),
                ("data sent to Python workers", "5000"),
                ("data returned from Python workers", "700")]),
    {"Event": "SparkListenerUnpersistRDD", "RDD ID": 4},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
     "Properties": {}},
    _task(2, 50, 10_000_000, 100, **{"Disk Bytes Spilled": 64}),
    {"Event": "SparkListenerJobEnd", "Job ID": 1},
]


@pytest.fixture
def folded():
    return evlog.fold(json.dumps(e) for e in EVENTS)


def test_tasks_fold_under_their_job_group(folded):
    c = folded[GROUP]
    assert c["jobs"] == 1 and c["tasks"] == 2
    assert c["run_s"] == pytest.approx(0.5)
    assert c["cpu_s"] == pytest.approx(0.4)
    assert c["deserialize_s"] == pytest.approx(0.010)
    assert c["gc_s"] == pytest.approx(0.014)
    assert c["peak_task_mem_bytes"] == 8192


def test_shuffle_and_scan_counters(folded):
    c = folded[GROUP]
    assert c["shuffle_read_bytes"] == 240
    assert c["shuffle_write_bytes"] == 600
    assert c["shuffle_write_time_s"] == pytest.approx(0.004)
    assert c["fetch_wait_s"] == pytest.approx(0.006)
    assert c["scan_bytes"] == 2000 and c["scan_records"] == 20
    assert c["scan_time_s"] == pytest.approx(0.040)
    assert c["spill_bytes"] == 0


def test_python_worker_accumulables(folded):
    c = folded[GROUP]
    assert c["py_run_s"] == pytest.approx(0.120)
    assert c["py_start_s"] == pytest.approx(0.040)
    assert c["py_sent_bytes"] == 5000
    assert c["py_returned_bytes"] == 700


def test_unpersist_and_ungrouped_jobs(folded):
    assert folded[GROUP]["unpersists"] == 1
    other = folded[None]
    assert other["jobs"] == 1 and other["tasks"] == 1
    assert other["spill_bytes"] == 64
    assert "py_run_s" not in other
