"""Parquet table readers for the engine's logical tables.

Production rule (SURVEY.md §1.3): *never rely on schema inference*. The
reader passes the explicit StructType to ``spark.read.schema(...)`` — this
both documents the contract and guarantees a stable ``ReadSchema`` for
column pruning; a drifted file fails loudly at scan time instead of
silently changing downstream semantics.

At 100 TB these same entry points take directory paths of partitioned
parquet; nothing here materializes or collects.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from yougile_etl_pipeline_spark.operators.caching import AppScopedDict
from yougile_etl_pipeline_spark.schemas import (
    TESTDATA_SCHEMAS,
    TESTDATA_TABLES,
)

__all__ = ["load_table", "load_tables", "register_temp_views",
           "ensure_parallelism", "table_row_count"]


# numPartitions probe memo: semanticHash(analyzed plan) -> partition
# count. The probe itself (`df.rdd.getNumPartitions()`) runs the full
# Catalyst physical-planning pipeline on the driver — measured ~75 ms
# per call at sf0.1 — and ensure_parallelism sits inside the TIMED
# region of every bench run of the similarity/dedup/text paths (guide
# §1: the probe was a fixed per-build driver cost, §5: driver work).
# A hit is CONFIRMED with `sameSemantics` against the stored probe
# plan (r17, VERDICT r16 #4): semanticHash is 32-bit, so a collision
# between distinct plans would otherwise silently reuse the wrong
# count and could skip a needed fan-out repartition (perf-only, never
# results — but silent). The confirm is one driver-side plan
# comparison, ~free next to the ~75 ms probe it replaces; a collision
# simply re-probes. Files mutating under a live session would stale
# the memo, which no engine path does (bench/tests/driver all read
# immutable testdata). Keyed per SparkContext so a fresh session (new
# conf, new defaultParallelism) never sees stale counts, and scoped to
# one application like the reuse cache (operators/caching.py), so a
# restarted session also drops the plans of the stopped one.
_NUM_PARTS_MEMO = AppScopedDict()


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition IF the plan currently has fewer partitions
    than the cluster can run — otherwise return `df` unchanged (no
    shuffle).

    Guard for compute-fanning operators (shingling, hashing, per-row
    matmuls): their cost per input byte is huge, so a scan whose
    partition count collapsed (one small parquet file / one row group —
    exactly what a dimension-sized corpus sample looks like) serializes
    the whole stage on one core. At 100 TB the scan has thousands of
    splits and this is a no-op; on a small input it buys cores for the
    expensive stage at the price of shuffling a small input. Only valid
    for partition-independent computations — everything in this engine's
    query path is (the determinism contract, SURVEY.md §5.2)."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    key = (_NUM_PARTS_MEMO.scope(sc), df.semanticHash())
    hit = _NUM_PARTS_MEMO.get(key)
    if hit is not None and hit[0].sameSemantics(df):
        n = hit[1]
    else:
        n = df.rdd.getNumPartitions()
        _NUM_PARTS_MEMO[key] = (df, n)
    if n < target:
        return df.repartition(target)
    return df


# Lazy-plan memo: (SparkContext id, sf_dir, name) -> the logical scan
# DataFrame. Building a reader is a driver-side JVM round trip
# (~25 ms measured at sf0.1) and query paths load the same immutable
# tables over and over — mart_flagship alone loads seven. DataFrames
# are immutable lazy PLANS, so sharing one object across builds changes
# nothing semantically (every action still scans parquet in full); it
# only removes repeated reader construction (NOT results — no row is
# materialized here) — and, for `events`, the
# repeated pyarrow footer sniff. Keyed per SparkContext and scoped to
# one application (the reuse-cache rule), so a restarted session gets
# fresh plans and the stopped session's plans are dropped.
_TABLE_MEMO = AppScopedDict()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one logical table from ``{sf_dir}/{name}.parquet`` with its
    explicit schema (no inference)."""
    key = (_TABLE_MEMO.scope(spark.sparkContext), sf_dir, name)
    df = _TABLE_MEMO.get(key)
    if df is not None:
        return df
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and _events_ts_is_nanos(path):
        df = _convert_events_ts(
            spark.read.schema(TESTDATA_SCHEMAS["_events_raw"]).parquet(path))
    else:
        schema = TESTDATA_SCHEMAS.get(name)
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(path)
    _TABLE_MEMO[key] = df
    return df


# Footer row-count memo (path -> num_rows). Immutable inputs, same
# rationale as the memos above.
_ROW_COUNT_MEMO: dict[str, int] = {}


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of ``{sf_dir}/{name}.parquet`` from the parquet
    FOOTER metadata — the same number ``load_table(...).count()``
    returns (parquet stores exact per-file row counts; there are no
    deletion vectors in plain parquet), without running a Spark job.

    Several IVF entries size their centroid set by the √N policy, which
    made every BUILD pay a full count() job (~150 ms at sf0.1, a
    cluster round trip at scale) for a number the file footers already
    state. Still computed from the parquet inputs on first use per
    path — this is metadata read, not result caching."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    n = _ROW_COUNT_MEMO.get(path)
    if n is None:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            # Recursive walk (r17, ADVICE r16 #4): a PARTITIONED
            # dataset nests its files under key=value directories —
            # a top-level listdir would silently count 0 rows and
            # shrink every √N centroid policy with no error.
            parts = sorted(
                os.path.join(root, f)
                for root, _dirs, files in os.walk(path)
                for f in files if f.endswith(".parquet"))
            if not parts:
                raise FileNotFoundError(
                    f"table_row_count: no .parquet files under {path}")
            n = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        else:
            n = pq.ParquetFile(path).metadata.num_rows
        _ROW_COUNT_MEMO[path] = n
    return n


def _events_ts_is_nanos(path: str) -> bool:
    """True when the on-disk ``ts`` column is parquet TIMESTAMP(NANOS).

    The test generator has produced both nanos and micros variants across
    data refreshes; nanos needs the int64 read-and-truncate path below,
    while micros reads natively as TimestampType. One footer read on the
    driver (metadata only — no row groups) decides which."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        target = path
        if os.path.isdir(path):
            parts = [os.path.join(path, f) for f in sorted(os.listdir(path))
                     if f.endswith(".parquet")]
            if not parts:
                return False
            target = parts[0]
        field = pq.read_schema(target).field("ts")
        return field.type == pa.timestamp("ns")
    except Exception:
        return False


def _convert_events_ts(raw: DataFrame) -> DataFrame:
    """int64-nanos ``ts`` (parquet TIMESTAMP(NANOS), unreadable natively by
    Spark) → TimestampType, truncating ns→us exactly like DuckDB does."""
    from pyspark.sql import functions as F

    # integer `div`, not `/`: float division loses precision above 2^53
    # and epoch-nanos are ~1.7e18.
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] | None = None) -> dict[str, DataFrame]:
    """Load several tables; defaults to all ten testdata tables."""
    names = names or TESTDATA_TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for `spark.sql` use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
