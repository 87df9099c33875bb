"""The metric names the benchmark prints are the ones BENCHMARK.json
declares."""

import json
import os
from collections import Counter
from types import SimpleNamespace

from perfbench import spec, worker

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match():
    assert [w["name"] for w in _benchmark()["workloads"]] == \
        list(spec.WORKLOADS)


def test_end_to_end_names_and_units_match():
    declared = {m["name"]: m["unit"] for m in _benchmark()["end_to_end"]}
    assert declared == spec.END_TO_END


def test_per_layer_names_and_units_match():
    declared = {m["name"]: m["unit"] for m in _benchmark()["per_layer"]}
    assert declared == spec.PER_LAYER


def test_layer_metrics_cover_every_per_layer_name():
    op = {"i": 0, "name": "mart_load", "warm": False, "wall_s": 2.0,
          "phases": {"build": 0.5, "plan": 0.1, "sink": 1.0,
                     "readback": 0.4},
          "error": None}
    s = SimpleNamespace(workload="mart_hourly",
                        ops=[op, {**op, "i": 1, "warm": True}])
    folded = {"mart_hourly/1/mart_load/sink": Counter(jobs=2, tasks=8)}
    got = worker.layer_metrics(s, folded, cores=4)
    # added after folding: recall, the trace totals, and the wall times
    # and peak RSS of the untraced twin
    added = {"similarity.ann_recall_at5", "trace.job_wall_s",
             "trace.overhead_s", "job_wall_s", "op_geomean_s",
             "memory.peak_rss_mb"}
    assert set(got) | added == set(spec.PER_LAYER)
    assert not set(got) & added
    assert got["exec.jobs"] == 2 and got["exec.tasks"] == 8
    assert got["exec.action_s"] == 1.4
    assert got["trace.layer_sum_s"] == 2.0
