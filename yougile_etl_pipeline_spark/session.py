"""SparkSession factory with the engine's pinned execution semantics.

Semantics pinned here (each is load-bearing for oracle parity or scale):

* ``spark.sql.session.timeZone=UTC`` — the reference floors epoch-ms
  timestamps in naive UTC (``dags/yougile_etl_dag.py:290-292``, pandas
  ``pd.to_datetime(unit='ms').dt.floor('d')``); Spark must not apply a
  local session zone or F5 date conversions drift by a day.
* AQE on — runtime partition coalescing and skew-join splitting are the
  100 TB answer to skewed fact keys; free on local mode too.
* ``autoBroadcastJoinThreshold`` left at default (10 MB) — every dimension
  ("hub") table in the mart build fits; Catalyst then picks broadcast-hash
  joins for J1/J3–J8 without manual hints (we still hint explicitly in
  `plans/mart.py` for self-documentation).
* Arrow enabled — every pandas interchange (tests, the multimodal
  `mapInPandas` path) goes through Arrow batches, never pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "ENGINE_CONF"]

# Single source of truth for engine configuration; bench.py and tests reuse it.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: vectorized reader + filter pushdown are defaults, pinned
    # here so a misconfigured environment can't silently disable them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # ANSI off: the reference's permissive casts ('' -> NULL, malformed date
    # -> NULL) match Spark's legacy behavior (SURVEY.md §2.7 F4/F6 gotchas).
    "spark.sql.ansi.enabled": "false",
    # events.ts is parquet TIMESTAMP(NANOS) which Spark can't read natively;
    # read the raw int64 nanos and convert (sources/tables.py) — truncation
    # to micros matches DuckDB's ns handling.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": "32",
    # --- r16 optimization round (guide §3.1/§9, measured A/B at sf0.1) ---
    # Let the planner pick shuffled-hash joins when its size conditions
    # hold, and let AQE rewrite SMJ→SHJ when every post-shuffle partition
    # is under 64 MB: drops the per-partition sorts on the fp/doc-keyed
    # join-backs (dup-span removal 0.59→0.46 s, LSH bucket 1.69→1.14 s
    # medians). Scale-safe: the AQE rewrite is bounded per partition (a
    # build side over the threshold keeps SMJ and its graceful spill),
    # and the static SHJ pick still obeys the planner's size checks.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold":
        str(64 * 1024 * 1024),
    # Per-file open-cost charge when packing scan splits. r16 lowered
    # this to 512 KB on warm same-session A/Bs (more scan tasks for a
    # hot 11 MB table); the driver's COLD runs then showed
    # win_rank_topn 2× slower and faster at 8 cores than 32 — task
    # overhead domination. r17 re-measured COLD (fresh JVM per
    # sample, interleaved configs, 2 reps x 19 headline queries):
    # 4 MB wins or ties on 17 of 19 queries and never loses materially
    # (per-query-min totals 7.58 s vs 8.26 s; win_rank 0.215 vs
    # 0.257) — the 512 KB split floor was a warm-JVM artifact, so the
    # Spark default stands. At 100 TB files are >=128 MB and
    # `maxPartitionBytes` dominates the split formula either way.
    "spark.sql.files.openCostInBytes": str(4 * 1024 * 1024),
    # Keep the UI off in tests/bench: faster session start, no port clashes.
    "spark.ui.enabled": "false",
}


def _ensure_driver_memory() -> None:
    """Size the local-mode JVM heap BEFORE the gateway launches.

    ``spark.driver.memory`` set through the session builder is silently
    ignored in PySpark local mode — the JVM is already running by the
    time builder configs apply — so without this, every local session
    runs in the 1 GiB default heap regardless of machine size (found
    the hard way: a banded self-join that certifies fine at sf0.01
    OOM-killed the whole JVM at sf0.1). The only pre-launch channel is
    ``PYSPARK_SUBMIT_ARGS``; we prepend ``--driver-memory`` unless the
    caller already set one. Harmless once a JVM exists (the env var is
    only read at gateway launch), and a real cluster ignores it in
    favor of spark-submit's own sizing.

    Size via ``SPARK_GRAFT_DRIVER_MEM``. Default 8g, chosen by
    measurement at sf0.1, not by machine size: 32g made bench totals
    NOISIER and slower (26→53 s spikes on random queries — large-heap
    G1 growth/collection stalls), while 8g reproduces the 1g-era
    per-query times with 8× the headroom that the OOM needed. The
    heap is a GC arena for one JVM running 32 executor threads, not a
    data cache — parquet reads lean on the OS page cache, which wants
    the memory LEFT to the kernel."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    cur = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    if "--driver-memory" not in cur:
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} {cur}"


def get_spark(
    app_name: str = "yougile-etl-pipeline-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's pinned semantics.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``).
    On a real cluster, pass ``master=None`` and set the master via
    spark-submit; the semantic configs still apply.
    """
    _ensure_driver_memory()
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may return a pre-existing session whose builder configs were
    # ignored; re-assert the runtime-settable semantic ones.
    for k in ("spark.sql.session.timeZone", "spark.sql.ansi.enabled",
              "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
              "spark.sql.join.preferSortMergeJoin",
              "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
              "spark.sql.files.openCostInBytes"):
        spark.conf.set(k, conf[k])
    return spark
