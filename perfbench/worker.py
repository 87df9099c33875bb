"""Run one workload in this (fresh) process and write its raw result as
JSON. ``run.py`` starts it with the repository root on ``PYTHONPATH``.

The client is a closed loop: one operation at a time, the next only after
the previous one returned. Every operation is split into phases, each a
call into one layer's public function, timed from here:

* query operations: ``registry.QUERIES[name]`` (build),
  ``operators.diagnostics.plan_profile`` (plan), ``toPandas`` (action);
* mart loads: ``plans.mart.build_mart`` (build), ``plan_profile`` (plan),
  ``plans.incremental.append_snapshot`` (sink), and
  ``read_latest_snapshot`` executed to the ``noop`` sink (readback).

Each operation records its wall seconds and the CPU seconds of this
process's whole tree (driver, JVM, Python workers). With ``--trace 1`` each phase also runs under its own Spark job group and
the event log is folded into per-layer counters after the session stops.
Outputs are checked after the timed region.
"""

from __future__ import annotations

import argparse
from collections import Counter
from contextlib import contextmanager
import datetime as dt
import glob
import json
import os
import random
import statistics
import subprocess
import time

from perfbench import evlog
from perfbench.spec import ANN_QUERIES, WORKLOADS

BASE_CONF = {"spark.ui.showConsoleProgress": "false"}
MART_NUMERIC = ("task_id", "subtask_line", "quantity_plan", "total_price")
MART_TEXT = ("task_status", "customer_name", "nation_name", "region_name",
             "supplier_name", "part_brand", "task_creation_date",
             "loading_dates", "loading_start_date", "loading_end_date",
             "place")


def trace_conf(event_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
    }


def start_spark(extra: dict[str, str]):
    """The session, and the wall and CPU seconds ``get_spark`` took."""
    from yougile_etl_pipeline_spark.session import get_spark

    c0, t0 = tree_cpu_s(), time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf={**BASE_CONF, **extra})
    return spark, time.perf_counter() - t0, tree_cpu_s() - c0


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit. The next
    ``start_spark`` in this process then launches a fresh JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _tree(root: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, for ``root`` and
    every process under it."""
    stats: dict[int, list[str]] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                stats[int(path.split("/")[2])] = \
                    f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    kids: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        kids.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the JVM, Spark's Python workers), those already reaped included."""
    ticks = sum(sum(map(int, fields[11:15]))  # utime stime cutime cstime
                for fields in _tree(os.getpid()).values())
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of ``VmHWM`` over the JVM and the Python workers under it."""
    total_kb = 0
    for pid in _tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class _Collected:
    """The slice of the DataFrame interface that
    ``tests.oracle_compare.compare`` reads, over a result collected in the
    timed region, so the check does not run the query again."""

    def __init__(self, schema, pdf) -> None:
        self.schema = schema
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class Session:
    """Operations, spans and job groups of one workload run."""

    def __init__(self, spark, workload: str, sf_dir: str, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.sf_dir = sf_dir
        self.trace = trace
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        self.run_id = f"{workload}-{os.getpid()}"

    def persisted(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def cached_mem_bytes(self) -> int:
        return sum(i.memSize() for i in self.sc._jsc.sc().getRDDStorageInfo())

    @contextmanager
    def phase(self, op: dict, name: str):
        if self.trace:
            self.sc.setJobGroup(
                f"{self.workload}/{op['i']}/{op['name']}/{name}", op["name"])
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            op["phases"][name] = end - start
            self.spans.append({"name": f"{op['name']}/{name}",
                               "start": start, "end": end,
                               "parent": op["i"], "run": self.run_id})

    @contextmanager
    def operation(self, name: str, warm: bool):
        op = {"i": len(self.ops), "name": name, "warm": warm, "phases": {},
              "error": None}
        self.ops.append(op)
        before = self.persisted()
        cpu = tree_cpu_s()
        start = time.perf_counter()
        try:
            yield op
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            op["error"] = f"{type(e).__name__}: {e}"[:500]
        end = time.perf_counter()
        op["cpu_s"] = tree_cpu_s() - cpu
        op["wall_s"] = end - start
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": None, "run": self.run_id})
        if self.trace:
            self.sc.setJobGroup(f"{self.workload}/between", "between")
            op["cached_mem_bytes"] = self.cached_mem_bytes()
        op["persisted_after"] = self.persisted()
        op["persisted_delta"] = op["persisted_after"] - before


# ---------------------------------------------------------------- queries

def run_queries(s: Session, names: tuple[str, ...]) -> dict:
    """One cold pass over ``names``. A second pass in the same process
    would time the persist slots the first one filled."""
    from yougile_etl_pipeline_spark.operators.diagnostics import plan_profile
    from yougile_etl_pipeline_spark.registry import QUERIES

    results: dict[str, tuple] = {}
    t0 = time.perf_counter()
    for name in names:
        with s.operation(name, False) as op:
            with s.phase(op, "build"):
                df = QUERIES[name](s.spark, s.sf_dir)
            with s.phase(op, "plan"):
                prof = plan_profile(df)
            with s.phase(op, "action"):
                pdf = df.toPandas()
        if op["error"] is None:
            op["shuffle_exchanges"] = prof["shuffle_exchanges"]
            op["broadcast_exchanges"] = prof["broadcast_exchanges"]
            results[name] = (df.schema, pdf)
    return {"job_wall_s": time.perf_counter() - t0, "results": results}


def check_queries(s: Session, results: dict[str, tuple]) -> None:
    """Compare every collected result with its DuckDB oracle."""
    from tests.oracle_compare import compare, duck_connect
    from yougile_etl_pipeline_spark.registry import ORACLES

    con = duck_connect(s.sf_dir)
    try:
        for op in s.ops:
            if op["error"] is not None:
                continue
            schema, pdf = results[op["name"]]
            sql = ORACLES.get(op["name"])
            issues = (compare(_Collected(schema, pdf), con, sql) if sql
                      else [] if len(pdf) else ["no rows"])
            if issues:
                op["error"] = "; ".join(issues)[:500]
    finally:
        con.close()


def ann_recall(s: Session, results: dict[str, tuple]) -> float:
    """Mean recall@5 of the approximate-NN queries against the exact
    ``sim_cosine_topk``, macro-averaged over query vectors. Results the
    timed pass collected are reused; the other queries run here."""
    from yougile_etl_pipeline_spark.registry import QUERIES

    def pairs(name: str) -> dict[int, set[int]]:
        if name in results:
            pdf = results[name][1]
            rows = zip(pdf["query_id"], pdf["match_id"])
        else:
            rows = QUERIES[name](s.spark, s.sf_dir) \
                .select("query_id", "match_id").collect()
        by_q: dict[int, set[int]] = {}
        for q, m in rows:
            by_q.setdefault(int(q), set()).add(int(m))
        return by_q

    truth = pairs("sim_cosine_topk")
    recalls = []
    for name in ANN_QUERIES:
        got = pairs(name)
        per_q = [len(got.get(q, set()) & t) / len(t)
                 for q, t in truth.items() if t]
        recalls.append(sum(per_q) / len(per_q) if per_q else 0.0)
    return sum(recalls) / len(recalls)


# -------------------------------------------------------------- mart loads

def load_stamps(rng: random.Random, n: int) -> list[dt.datetime]:
    """Hourly ``loaded_ts`` stamps from a seeded start in 2026."""
    start = dt.datetime(2026, 1, 1) + dt.timedelta(
        days=rng.randrange(365), hours=rng.randrange(8),
        minutes=rng.randrange(60), seconds=rng.randrange(60))
    return [start + dt.timedelta(hours=i) for i in range(n)]


def _parquet_files(root: str) -> set[str]:
    return set(glob.glob(os.path.join(root, "*", "*.parquet")))


def run_mart(s: Session, history: str, seconds: float,
             rng: random.Random) -> dict:
    import pyarrow.parquet as pq

    from yougile_etl_pipeline_spark.operators.diagnostics import plan_profile
    from yougile_etl_pipeline_spark.plans.incremental import (
        append_snapshot,
        read_latest_snapshot,
    )
    from yougile_etl_pipeline_spark.plans.mart import build_mart

    stamps = load_stamps(rng, 1000)

    def one(is_warm: bool) -> None:
        ts = stamps[len(s.ops)]
        seen = _parquet_files(history)
        with s.operation("mart_load", is_warm) as op:
            op["loaded_ts"] = ts.isoformat()
            with s.phase(op, "build"):
                mart = build_mart(s.spark, s.sf_dir, loaded_ts=ts)
            with s.phase(op, "plan"):
                prof = plan_profile(mart)
            with s.phase(op, "sink"):
                append_snapshot(mart, history)
            with s.phase(op, "readback"):
                latest = read_latest_snapshot(s.spark, history)
                latest.write.format("noop").mode("overwrite").save()
        if op["error"] is None:
            op["shuffle_exchanges"] = prof["shuffle_exchanges"]
            op["broadcast_exchanges"] = prof["broadcast_exchanges"]
        new = sorted(_parquet_files(history) - seen)
        op["files_written"] = len(new)
        op["bytes_written"] = sum(os.path.getsize(p) for p in new)
        op["rows_written"] = sum(pq.ParquetFile(p).metadata.num_rows
                                 for p in new)

    t0 = time.perf_counter()
    one(False)
    job_wall = time.perf_counter() - t0
    deadline = time.perf_counter() + seconds
    while True:  # at least one warm load, then until the deadline
        one(True)
        if time.perf_counter() >= deadline:
            break
    return {"job_wall_s": job_wall}


def _agg_exprs() -> list[str]:
    out = ["count(*)"]
    for c in MART_NUMERIC:
        out += [f"count({c})", f"min({c})", f"max({c})",
                f"sum(CAST({c} AS DECIMAL(38, 2)))"]
    for c in MART_TEXT:
        out += [f"count({c})", f"min({c})", f"max({c})",
                f"sum(length({c}))"]
    return out


def check_mart(s: Session, history: str) -> None:
    """Row count and exact per-column aggregates of every stored load
    against ``MART_ORACLE_SQL``; a latest-snapshot readback that holds the
    last load's rows only; and no persisted RDD left behind by any load."""
    from pyspark.sql import functions as F

    from tests.oracle_compare import duck_connect
    from yougile_etl_pipeline_spark.plans.incremental import (
        read_latest_snapshot,
    )
    from yougile_etl_pipeline_spark.plans.mart import MART_ORACLE_SQL

    for op in s.ops:
        if op["persisted_after"] and op["error"] is None:
            # the next load would time cache reads instead of compute
            op["error"] = (f"{op['persisted_after']} persisted RDDs left "
                           "after the load")
    aggs = ", ".join(_agg_exprs())
    con = duck_connect(s.sf_dir)
    try:
        want = tuple(con.execute(
            f"SELECT {aggs} FROM ({MART_ORACLE_SQL}) AS m").fetchone())
        stored = {
            r[0].isoformat(): tuple(r[1:]) for r in con.execute(
                f"SELECT loaded_ts, {aggs} FROM read_parquet("
                f"'{history}/*/*.parquet', hive_partitioning = true) "
                "GROUP BY loaded_ts").fetchall()}
    finally:
        con.close()
    loads = [op for op in s.ops if op["error"] is None]
    for op in loads:
        if stored.get(op["loaded_ts"]) != want:
            op["error"] = "stored load differs from the oracle aggregates"
    if loads:
        # the stored rows were checked above, so the readback only has to
        # select all of the last load's rows and nothing else
        got = read_latest_snapshot(s.spark, history).agg(
            F.count("*"), F.min("loaded_ts"), F.max("loaded_ts")).first()
        last = loads[-1]
        if (got[0] != want[0] or got[1] != got[2]
                or got[2].isoformat() != last["loaded_ts"]):
            last["error"] = "latest-snapshot readback differs from the oracle"


# ------------------------------------------------------------------ layers

def _op_groups(s: Session, folded: dict) -> dict[int, dict[str, Counter]]:
    per_op: dict[int, dict[str, Counter]] = {}
    for group, counters in folded.items():
        if not group or not group.startswith(s.workload + "/"):
            continue
        parts = group.split("/")
        if len(parts) != 4:
            continue
        per_op.setdefault(int(parts[1]), {})[parts[3]] = counters
    return per_op


def layer_metrics(s: Session, folded: dict, cores: int) -> dict[str, float]:
    """Per-layer metrics: means per steady-state operation (the warm ones
    when the workload repeats, else all), plus the trace reconciliation
    over the cold pass."""
    per_op = _op_groups(s, folded)
    warm = [op for op in s.ops if op["warm"]]
    steady = warm or s.ops
    n = len(steady)
    tot: Counter = Counter()
    peak_mem = 0
    exec_wall = 0.0
    op_wall = 0.0
    for op in steady:
        groups = per_op.get(op["i"], {})
        merged: Counter = Counter()
        for c in groups.values():
            merged.update({k: v for k, v in c.items()
                           if k != "peak_task_mem_bytes"})
            peak_mem = max(peak_mem, c.get("peak_task_mem_bytes", 0))
        tot.update(merged)
        tot["eager_jobs"] += groups.get("build", Counter())["jobs"]
        ph = op["phases"]
        for k in ("build", "plan", "action", "sink", "readback"):
            tot[f"phase_{k}"] += ph.get(k, 0.0)
        exec_wall += sum(ph.get(k, 0.0)
                         for k in ("action", "sink", "readback"))
        op_wall += op["wall_s"]
        for k in ("shuffle_exchanges", "broadcast_exchanges",
                  "persisted_delta", "cached_mem_bytes", "bytes_written",
                  "files_written", "rows_written"):
            tot[k] += op.get(k, 0)
    mean = lambda k: tot[k] / n  # noqa: E731
    cold = [op for op in s.ops if not op["warm"]]
    return {
        "registry.build_s": mean("phase_build"),
        "registry.eager_jobs": mean("eager_jobs"),
        "diagnostics.plan_s": mean("phase_plan"),
        "diagnostics.shuffle_exchanges": mean("shuffle_exchanges"),
        "diagnostics.broadcast_exchanges": mean("broadcast_exchanges"),
        "exec.action_s": exec_wall / n,
        "exec.jobs": mean("jobs"),
        "exec.tasks": mean("tasks"),
        "exec.executor_run_s": mean("run_s"),
        "exec.executor_cpu_s": mean("cpu_s"),
        "exec.cpu_util": tot["cpu_s"] / (op_wall * cores) if op_wall else 0.0,
        "exec.deserialize_s": mean("deserialize_s"),
        "exec.gc_s": mean("gc_s"),
        "exec.peak_task_mem_mb": peak_mem / 2**20,
        "shuffle.write_bytes": mean("shuffle_write_bytes"),
        "shuffle.read_bytes": mean("shuffle_read_bytes"),
        "shuffle.write_time_s": mean("shuffle_write_time_s"),
        "shuffle.fetch_wait_s": mean("fetch_wait_s"),
        "spill.bytes": mean("spill_bytes"),
        "sources.scan_bytes": mean("scan_bytes"),
        "sources.scan_records": mean("scan_records"),
        "sources.scan_time_s": mean("scan_time_s"),
        "python.run_s": mean("py_run_s"),
        "python.start_s": mean("py_start_s"),
        "python.bytes_sent": mean("py_sent_bytes"),
        "python.bytes_returned": mean("py_returned_bytes"),
        "caching.persisted_rdds": mean("persisted_delta"),
        "caching.mem_bytes": mean("cached_mem_bytes"),
        "caching.unpersists": mean("unpersists"),
        "sinks.write_s": mean("phase_sink"),
        "sinks.bytes_written": mean("bytes_written"),
        "sinks.files_written": mean("files_written"),
        "sinks.bytes_per_row": (tot["bytes_written"] / tot["rows_written"]
                                if tot["rows_written"] else 0.0),
        "incremental.read_latest_s": mean("phase_readback"),
        "trace.layer_sum_s": sum(sum(op["phases"].values()) for op in cold),
    }


# -------------------------------------------------------------------- main

def _geomean(values) -> float:
    # floored at 1 ms, so that an operation failing at once cannot zero it
    return statistics.geometric_mean(max(v, 1e-3) for v in values)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--setup-samples", type=int, default=1,
                    help="JVM launches timed, the workload's own included; "
                         "the others follow the workload, each in a fresh "
                         "JVM")
    args = ap.parse_args(argv)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

    event_dir = os.path.join(args.work_dir, "events")
    history = os.path.join(args.work_dir, "history")
    extra = {}
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        extra = trace_conf(event_dir)
    spark, *setup = start_spark(extra)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    s = Session(spark, args.workload, args.sf_dir, bool(args.trace))
    rng = random.Random(args.seed)
    names = WORKLOADS[args.workload][1]
    result: dict = {"setup_samples": [setup]}
    try:
        if names is None:
            result.update(run_mart(s, history, args.seconds, rng))
            result["peak_rss_mb"] = peak_rss_mb(jvm_pid)
            check_mart(s, history)
        else:
            timed = run_queries(s, names)
            result["job_wall_s"] = timed["job_wall_s"]
            result["peak_rss_mb"] = peak_rss_mb(jvm_pid)
            check_queries(s, timed["results"])
            if args.trace:
                result["ann_recall_at5"] = ann_recall(s, timed["results"])
    finally:
        stop_spark(spark)
    for _ in range(args.setup_samples - 1):
        spark, *setup = start_spark({})
        stop_spark(spark)
        result["setup_samples"].append(setup)

    cold = [op for op in s.ops if not op["warm"]]
    steady = [op for op in s.ops if op["warm"]] or s.ops
    result.update({
        "job_cpu_s": sum(op["cpu_s"] for op in cold),
        "op_geomean_s": _geomean(op["wall_s"] for op in steady),
        "op_cpu_s": _geomean(op["cpu_s"] for op in steady),
        "ops_steady": len(steady),
        "ops_s": [(op["name"], op["wall_s"], op["cpu_s"]) for op in s.ops],
        "attempted": len(s.ops),
        "failed": sum(op["error"] is not None for op in s.ops),
        "errors": [f"{op['name']}: {op['error']}" for op in s.ops
                   if op["error"] is not None][:10],
    })
    if args.trace:
        logs = glob.glob(os.path.join(event_dir, "*"))
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        result["layers"] = layer_metrics(s, evlog.fold_file(logs[0]), cores)
        result["layers"]["similarity.ann_recall_at5"] = \
            result.get("ann_recall_at5", 0.0)
        result["layers"]["trace.job_wall_s"] = result["job_wall_s"]
        result["ops"] = s.ops
        result["spans"] = s.spans
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
