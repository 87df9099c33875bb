"""Fold a Spark event log (uncompressed JSON lines) into per-job-group
counters.

Every job the benchmark starts runs under a job group
``<workload>/<op index>/<op name>/<phase>``; the fold attributes each
``TaskEnd`` to the group of the job that owns its stage, so jobs that run
eagerly while a query is being built count against that query's build
phase.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from collections.abc import Iterable
import json

# SQL accumulables folded by name. Their unit comes from the metric type
# that the plan events declare (``timing`` in ms, ``nsTiming`` in ns).
ACCUMULABLES = {
    "scan time": "scan_time_s",
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_start_s",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _walk_plan(plan: dict, types: dict[str, str]) -> None:
    for m in plan.get("metrics", ()):
        types[m["name"]] = m["metricType"]
    for child in plan.get("children", ()):
        _walk_plan(child, types)


def _fold_task(c: Counter, m: dict) -> None:
    c["tasks"] += 1
    c["run_s"] += m.get("Executor Run Time", 0) * 1e-3
    c["cpu_s"] += m.get("Executor CPU Time", 0) * 1e-9
    c["deserialize_s"] += m.get("Executor Deserialize Time", 0) * 1e-3
    c["gc_s"] += m.get("JVM GC Time", 0) * 1e-3
    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    peak = m.get("Peak Execution Memory", 0)
    if peak > c["peak_task_mem_bytes"]:
        c["peak_task_mem_bytes"] = peak
    sr = m.get("Shuffle Read Metrics", {})
    c["shuffle_read_bytes"] += (sr.get("Local Bytes Read", 0)
                                + sr.get("Remote Bytes Read", 0))
    c["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) * 1e-3
    sw = m.get("Shuffle Write Metrics", {})
    c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    c["shuffle_write_time_s"] += sw.get("Shuffle Write Time", 0) * 1e-9
    im = m.get("Input Metrics", {})
    c["scan_bytes"] += im.get("Bytes Read", 0)
    c["scan_records"] += im.get("Records Read", 0)


def fold(lines: Iterable[str]) -> dict[str | None, Counter]:
    """Counters per job group. Jobs started outside any group fold under
    ``None``; an ``UnpersistRDD`` folds under the group of the job that
    started last."""
    types: dict[str, str] = {}
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, Counter] = defaultdict(Counter)
    current: str | None = None
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            current = (e.get("Properties") or {}).get("spark.jobGroup.id")
            out[current]["jobs"] += 1
            for sid in e.get("Stage IDs", ()):
                stage_group.setdefault(sid, current)
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_group.get(e["Stage ID"])]
            _fold_task(c, e.get("Task Metrics") or {})
            for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                key = ACCUMULABLES.get(acc.get("Name"))
                if key is None or "Update" not in acc:
                    continue
                value = float(acc["Update"])
                if key.endswith("_s"):
                    mtype = types.get(acc["Name"], "timing")
                    value *= _TIME_SCALE.get(mtype, 1e-3)
                c[key] += value
        elif kind == "SparkListenerUnpersistRDD":
            out[current]["unpersists"] += 1
        elif "sparkPlanInfo" in e:
            _walk_plan(e["sparkPlanInfo"], types)
    return dict(out)


def fold_file(path: str) -> dict[str | None, Counter]:
    with open(path, encoding="utf-8") as f:
        return fold(f)
