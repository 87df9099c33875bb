"""Warehouse-pattern operators: SCD2 versioning, expectations/quarantine,
backfill planner — behavioral contracts beyond the SQL oracles."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from yougile_etl_pipeline_spark.operators.quality import (
    check_expectations,
    quarantine,
    scd2_build,
)
from yougile_etl_pipeline_spark.plans.incremental import (
    append_snapshot,
    backfill,
    missing_partitions,
    read_latest_snapshot,
)


# ---------------------------------------------------------------------------
# SCD2
# ---------------------------------------------------------------------------

@pytest.fixture()
def history(spark):
    rows = [
        # key 1: value changes on load 2, unchanged reload on load 3
        (1, "a", "2024-01-01 00:00:00"),
        (1, "b", "2024-01-02 00:00:00"),
        (1, "b", "2024-01-03 00:00:00"),
        # key 2: appears late (load 2 only), never changes
        (2, "x", "2024-01-02 00:00:00"),
        (2, "x", "2024-01-03 00:00:00"),
        # key 3: NULL -> value -> NULL (null-safe change detection)
        (3, None, "2024-01-01 00:00:00"),
        (3, "v", "2024-01-02 00:00:00"),
        (3, None, "2024-01-03 00:00:00"),
    ]
    return spark.createDataFrame(
        rows, "k long, attr string, loaded_ts string").withColumn(
        "loaded_ts", F.col("loaded_ts").cast("timestamp"))


def test_scd2_versions_and_validity(spark, history):
    out = scd2_build(history, ["k"], ["attr"]).collect()
    by_key = {}
    for r in sorted(out, key=lambda r: (r.k, r.valid_from)):
        by_key.setdefault(r.k, []).append(r)

    k1 = [(r.attr, r.is_current) for r in by_key[1]]
    assert k1 == [("a", False), ("b", True)]      # reload collapsed
    # interval closure: version 1 ends exactly where version 2 starts
    assert by_key[1][0].valid_to == by_key[1][1].valid_from

    assert [(r.attr, r.is_current) for r in by_key[2]] == [("x", True)]
    assert [r.attr for r in by_key[3]] == [None, "v", None]
    assert [r.is_current for r in by_key[3]] == [False, False, True]


def test_scd2_exactly_one_current_per_key(spark, history):
    out = scd2_build(history, ["k"], ["attr"])
    per_key = (out.groupBy("k")
               .agg(F.sum(F.col("is_current").cast("int")).alias("n"))
               .collect())
    assert all(r.n == 1 for r in per_key)


# ---------------------------------------------------------------------------
# Expectations / quarantine
# ---------------------------------------------------------------------------

def test_expectations_null_counts_as_failure(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None)], "id long, v double")
    rules = {"v_positive": F.col("v") > 0}
    out = {r.id: list(r.failed)
           for r in check_expectations(df, rules).collect()}
    assert out == {1: [], 2: ["v_positive"], 3: ["v_positive"]}


def test_quarantine_split_is_lossless(spark):
    df = spark.createDataFrame(
        [(i, float(i % 5)) for i in range(100)], "id long, v double")
    rules = {"v_nonzero": F.col("v") != 0,
             "v_small": F.col("v") < 3}
    good, bad = quarantine(df, rules)
    assert good.count() + bad.count() == 100
    assert good.columns == df.columns          # schema restored
    assert bad.filter(F.size("failed") == 0).count() == 0
    # multi-rule rows report every violation
    multi = bad.filter(F.col("v") == 0).select("failed").first()
    assert list(multi.failed) == ["v_nonzero"]
    both = bad.filter(F.col("v") == 4).select("failed").first()
    assert list(both.failed) == ["v_small"]


# ---------------------------------------------------------------------------
# Backfill planner
# ---------------------------------------------------------------------------

def test_backfill_builds_only_missing(spark, tmp_path):
    path = str(tmp_path / "snap")
    calls = []

    def build(s, day):
        calls.append(day)
        return s.range(0, 10).select(F.col("id").alias("v"))

    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    assert backfill(spark, path, days, build) == days   # cold start: all
    assert missing_partitions(path, days) == []

    # idempotent: nothing rebuilt on rerun
    calls.clear()
    assert backfill(spark, path, days, build) == []
    assert calls == []

    # a killed write (dir exists, no data files) is re-planned
    import shutil
    victim = os.path.join(path, "load_date=2024-01-02")
    shutil.rmtree(victim)
    os.makedirs(victim)
    assert missing_partitions(path, days) == ["2024-01-02"]
    assert backfill(spark, path, days, build) == ["2024-01-02"]
    assert spark.read.parquet(path).count() == 30


# ---------------------------------------------------------------------------
# Latest-snapshot readback
# ---------------------------------------------------------------------------

def _snapshot(spark, rows):
    return spark.createDataFrame(rows, "k long, loaded_ts string").withColumn(
        "loaded_ts", F.col("loaded_ts").cast("timestamp"))


def test_latest_snapshot_skips_a_newest_day_without_data(spark, tmp_path):
    import datetime as dt

    path = str(tmp_path / "snap")
    append_snapshot(_snapshot(spark, [(1, "2024-01-01 05:00:00")]), path)
    append_snapshot(_snapshot(spark, [(2, "2024-01-02 05:00:00"),
                                      (3, "2024-01-02 05:00:00")]), path)
    append_snapshot(_snapshot(spark, [(4, "2024-01-02 06:00:00")]), path)
    # a killed write: the newest day's directory holds no data file
    os.makedirs(os.path.join(path, "load_date=2024-01-03"))
    open(os.path.join(path, "load_date=2024-01-03", ".part.parquet.crc"),
         "w").close()
    latest = read_latest_snapshot(spark, path)
    assert latest.schema == spark.read.parquet(path).schema
    assert [(r.k, r.loaded_ts, r.load_date) for r in latest.collect()] == [
        (4, dt.datetime(2024, 1, 2, 6), dt.date(2024, 1, 2))]


def test_latest_snapshot_runs_one_spark_job(spark, tmp_path):
    path = str(tmp_path / "snap")
    for day in range(1, 4):
        append_snapshot(_snapshot(spark, [(day, f"2024-01-0{day} 05:00:00")]),
                        path)
    sc = spark.sparkContext
    group = f"latest-{tmp_path.name}"
    sc.setJobGroup(group, "read_latest_snapshot")
    try:
        latest = read_latest_snapshot(spark, path)
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert [r.k for r in latest.collect()] == [3]


def test_latest_snapshot_with_a_new_stamp_compiles_nothing(spark, tmp_path):
    from yougile_etl_pipeline_spark.operators.diagnostics import (
        codegen_compiles,
    )

    path = str(tmp_path / "snap")
    append_snapshot(_snapshot(spark, [(1, "2024-01-01 05:00:00")]), path)
    assert [r.k for r in read_latest_snapshot(spark, path).collect()] == [1]
    append_snapshot(_snapshot(spark, [(2, "2024-01-01 06:00:00")]), path)
    before = codegen_compiles(spark)
    assert [r.k for r in read_latest_snapshot(spark, path).collect()] == [2]
    assert codegen_compiles(spark) - before == 0


# ---------------------------------------------------------------------------
# Streaming quarantine gate
# ---------------------------------------------------------------------------

def test_stream_quarantine_matches_batch(spark, tmp_path):
    from tests.conftest import SF_SMOKE
    from yougile_etl_pipeline_spark.operators.quality import quarantine as bq
    from yougile_etl_pipeline_spark.sources.tables import load_table
    from yougile_etl_pipeline_spark.streaming.snapshot import (
        stream_quarantine,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    med = ev.agg(F.expr("percentile_approx(value, 0.5)")).collect()[0][0]
    rules = {"value_le_median": F.col("value") <= med}
    g, b = bq(ev, rules)
    batch_counts = (g.count(), b.count())
    assert batch_counts[0] > 0 and batch_counts[1] > 0  # both sides live

    stream_counts = stream_quarantine(
        spark, SF_SMOKE,
        str(tmp_path / "good"), str(tmp_path / "bad"), rules=rules)
    assert stream_counts == batch_counts
    # bad side carries the triage rule list
    bad = spark.read.parquet(str(tmp_path / "bad"))
    assert bad.filter(F.col("failed") == "value_le_median").count() \
        == batch_counts[1]


# ---------------------------------------------------------------------------
# Mergeable HLL sketch state
# ---------------------------------------------------------------------------

def test_hll_merge_split_invariant(spark):
    df = spark.range(0, 5000).select(
        (F.col("id") % 4).alias("k"), (F.col("id") % 997).alias("v"))

    def merged_estimate(n_batches):
        # build per-batch sketches over an id-based split
        batches = [df.filter(F.col("id") % n_batches == i)
                   .groupBy("k").agg(F.hll_sketch_agg("v").alias("sk"))
                   for i in range(n_batches)]
        hist = batches[0]
        for b in batches[1:]:
            hist = hist.unionByName(b)
        return {r.k: r.est for r in
                (hist.groupBy("k")
                 .agg(F.hll_sketch_estimate(
                     F.hll_union_agg("sk")).alias("est")).collect())}

    # Sketch bits are NOT split-invariant (LIST->SET->HLL promotion
    # differs per batch shape); the merge CONTRACT is the error bound:
    # every fold order lands within tolerance of the exact count.
    exact = {r.k: r.n for r in
             df.groupBy("k").agg(F.count_distinct("v").alias("n")).collect()}
    for n in (1, 2, 3):
        for k, est in merged_estimate(n).items():
            assert abs(est - exact[k]) <= 0.05 * exact[k], (n, k, est)


# ---------------------------------------------------------------------------
# In-flight quality metrics (Observation API)
# ---------------------------------------------------------------------------

def test_observe_expectations_rides_the_action(spark, tmp_path):
    from yougile_etl_pipeline_spark.plans.runner import observe_expectations

    df = spark.createDataFrame(
        [(i, float(i % 10)) for i in range(1000)], "id long, v double")
    rules = {"v_nonzero": F.col("v") != 0, "v_lt_8": F.col("v") < 8}
    observed, obs = observe_expectations(df, rules)
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))

    m = obs.get
    assert m["n_rows"] == 1000
    assert m["violations_v_nonzero"] == 100     # v == 0
    assert m["violations_v_lt_8"] == 200        # v in {8, 9}
    # the written data is untouched by observation
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1000


# ---------------------------------------------------------------------------
# Pseudonymization + schema evolution on read
# ---------------------------------------------------------------------------

def test_pseudonymize_preserves_joins_and_salt_unlinks(spark):
    from yougile_etl_pipeline_spark.operators.quality import pseudonymize

    a = spark.createDataFrame([(1, "x"), (2, "y")], "uid long, pa string")
    b = spark.createDataFrame([(1, "m"), (3, "n")], "uid long, pb string")
    pa_, pb_ = (pseudonymize(a, ["uid"], salt="s1"),
                pseudonymize(b, ["uid"], salt="s1"))
    # same salt -> surrogate keys still join (uid=1 matches)
    assert pa_.join(pb_, "uid").count() == 1
    # rotated salt -> all linkage broken
    assert pa_.join(pseudonymize(b, ["uid"], salt="s2"), "uid").count() == 0
    # surrogates are not the originals
    assert {r.uid for r in pa_.collect()}.isdisjoint({"1", "2", 1, 2})


def test_schema_evolution_merge_and_conform(spark, tmp_path):
    """Marts evolve columns between loads; mergeSchema + conform must
    read the union and present the engine's stable contract (older
    files' missing columns as NULL, declared order)."""
    from pyspark.sql import types as T

    from yougile_etl_pipeline_spark.schemas import conform

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "k long, v1 string") \
        .write.parquet(path + "/load=1")
    spark.createDataFrame([(2, "b", 9.5)], "k long, v1 string, v2 double") \
        .write.parquet(path + "/load=2")

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    target = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v1", T.StringType()),
        T.StructField("v2", T.DoubleType()),
        T.StructField("v3_future", T.StringType()),
    ])
    out = {r.k: (r.v1, r.v2, r.v3_future)
           for r in conform(merged, target).collect()}
    assert out == {1: ("a", None, None), 2: ("b", 9.5, None)}


# ---------------------------------------------------------------------------
# scd2_lookup (point-in-time dimension lookup)
# ---------------------------------------------------------------------------

def _lookup_fixture(spark):
    from yougile_etl_pipeline_spark.operators.quality import scd2_lookup
    dim = spark.createDataFrame(
        [(1, "v1", "2024-01-01 00:00:00", "2024-01-02 00:00:00"),
         (1, "v2", "2024-01-02 00:00:00", None),
         (2, "w1", "2024-01-03 00:00:00", None)],
        "k int, attr string, valid_from string, valid_to string") \
        .select("k", "attr",
                F.col("valid_from").cast("timestamp").alias("valid_from"),
                F.col("valid_to").cast("timestamp").alias("valid_to"))
    return scd2_lookup, dim


def test_scd2_lookup_picks_interval_and_keeps_grain(spark):
    scd2_lookup, dim = _lookup_fixture(spark)
    fact = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00"), (1, "2024-01-05 00:00:00"),
         (2, "2024-01-01 00:00:00"),   # before w1 opens -> no match
         (3, "2024-01-01 00:00:00")],  # unknown key -> no match
        "k int, ts string").select(
            "k", F.col("ts").cast("timestamp").alias("ts"))
    out = scd2_lookup(fact, dim, ["k"], "ts")
    assert out.count() == fact.count()  # grain preserved (<=1 version)
    got = {(r.k, str(r.ts)): r.attr for r in out.collect()}
    assert got[(1, "2024-01-01 12:00:00")] == "v1"
    assert got[(1, "2024-01-05 00:00:00")] == "v2"
    assert got[(2, "2024-01-01 00:00:00")] is None
    assert got[(3, "2024-01-01 00:00:00")] is None


def test_scd2_lookup_boundary_from_inclusive_to_exclusive(spark):
    scd2_lookup, dim = _lookup_fixture(spark)
    fact = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00")],  # exactly v1.valid_to == v2.valid_from
        "k int, ts string").select(
            "k", F.col("ts").cast("timestamp").alias("ts"))
    out = scd2_lookup(fact, dim, ["k"], "ts").collect()
    assert len(out) == 1 and out[0].attr == "v2"


def test_scd2_lookup_shared_lineage_self_join(spark):
    """dim derived FROM the fact table (the ambiguity trap): unmatched
    fact rows must keep their own key, not a null from the dim side."""
    from yougile_etl_pipeline_spark.operators.quality import (
        scd2_build,
        scd2_lookup,
    )
    base = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, attr string")
    hist = base.withColumn(
        "loaded_ts", F.lit("2024-01-02 00:00:00").cast("timestamp"))
    dim = scd2_build(hist, ["k"], ["attr"]).drop("is_current")
    probes = base.select(
        "k", F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"))
    out = scd2_lookup(probes, dim, ["k"], "ts")  # all probes pre-dim
    rows = out.collect()
    assert sorted(r.k for r in rows) == [1, 2]
    assert all(r.attr is None for r in rows)


def test_scd2_lookup_rejects_shared_nonkey_columns(spark):
    from yougile_etl_pipeline_spark.operators.quality import scd2_lookup
    dim = spark.createDataFrame(
        [(1, "x", "2024-01-01 00:00:00", None)],
        "k int, attr string, valid_from string, valid_to string") \
        .select("k", "attr",
                F.col("valid_from").cast("timestamp").alias("valid_from"),
                F.col("valid_to").cast("timestamp").alias("valid_to"))
    fact = spark.createDataFrame(
        [(1, "y", "2024-01-02 00:00:00")], "k int, attr string, ts string") \
        .select("k", "attr", F.col("ts").cast("timestamp").alias("ts"))
    with pytest.raises(ValueError, match="share non-key columns"):
        scd2_lookup(fact, dim, ["k"], "ts")


def test_dynamic_partition_overwrite_preserves_untouched(spark, tmp_path):
    """partitionOverwriteMode=dynamic: an overwrite containing only
    partitions g=0/g=1 must leave g=2's data intact (static mode would
    truncate the whole table) — the idempotent-backfill write mode."""
    path = str(tmp_path / "dyn")
    base = spark.createDataFrame(
        [(g, v) for g in range(3) for v in range(10)], "g int, v int")
    base.write.partitionBy("g").parquet(path)
    patch = spark.createDataFrame(
        [(0, 100), (1, 101)], "g int, v int")
    (patch.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("g").parquet(path))
    back = spark.read.parquet(path)
    assert back.filter("g = 2").count() == 10        # untouched
    assert back.filter("g = 0").count() == 1         # replaced
    assert back.filter("g = 1").count() == 1
    assert {r.v for r in back.filter("g < 2").collect()} == {100, 101}


def test_ctas_insert_into_managed_table_lifecycle(spark):
    """Catalog-managed table lifecycle: CTAS creates a parquet table in
    the warehouse, INSERT INTO appends through the catalog, DROP TABLE
    removes it — the SQL-first table surface (vs path-based writes)."""
    spark.sql("DROP TABLE IF EXISTS t_ctas_lifecycle")
    spark.range(10).selectExpr("id AS k", "id * 2 AS v") \
        .createOrReplaceTempView("t_ctas_src")
    spark.sql("""CREATE TABLE t_ctas_lifecycle USING parquet
                 AS SELECT * FROM t_ctas_src WHERE k < 5""")
    assert spark.table("t_ctas_lifecycle").count() == 5
    spark.sql("""INSERT INTO t_ctas_lifecycle
                 SELECT * FROM t_ctas_src WHERE k >= 5""")
    assert spark.table("t_ctas_lifecycle").count() == 10
    assert spark.sql(
        "SELECT CAST(SUM(v) AS BIGINT) AS s FROM t_ctas_lifecycle"
    ).collect()[0].s == 90
    spark.sql("DROP TABLE t_ctas_lifecycle")
    assert "t_ctas_lifecycle" not in [
        t.name for t in spark.catalog.listTables()]
