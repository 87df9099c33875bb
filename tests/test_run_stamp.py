"""The per-run ``loaded_ts`` stamp enters the plan as data, so hourly
builds that differ only in their stamp share compiled code."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tests.test_yougile_pipeline import CFG, CREATED_MS
from yougile_etl_pipeline_spark.operators.diagnostics import codegen_compiles
from yougile_etl_pipeline_spark.operators.relational import stamp
from yougile_etl_pipeline_spark.plans.incremental import backfill
from yougile_etl_pipeline_spark.plans.mart import build_mart
from yougile_etl_pipeline_spark.plans.yougile import build_yougile_mart
from yougile_etl_pipeline_spark.schemas import YOUGILE_SCHEMAS

HOUR_1 = dt.datetime(2026, 3, 1, 5)
HOUR_2 = dt.datetime(2026, 3, 1, 6)


def _code_bodies(df) -> list[str]:
    """Generated Java of every whole-stage-codegen subtree of `df`'s
    executed plan (run first: AQE inserts codegen stages at runtime)."""
    df.collect()
    seq = df._jdf.queryExecution().debug().codegenToSeq()
    return [seq.apply(i)._2() for i in range(seq.length())]


def test_stamp_adds_one_constant_column_per_row(spark):
    df = spark.range(5).withColumn("k", F.col("id") % 2)
    out = stamp(df, "loaded_ts", F.lit(HOUR_1).cast("timestamp"))
    assert out.columns == ["id", "k", "loaded_ts"]
    assert dict(out.dtypes)["loaded_ts"] == "timestamp"
    assert sorted((r.id, r.loaded_ts) for r in out.collect()) == [
        (i, HOUR_1) for i in range(5)]


def test_mart_builds_with_new_stamps_share_generated_code(spark):
    first = _code_bodies(build_mart(spark, SF_SMOKE, loaded_ts=HOUR_1))
    second = _code_bodies(build_mart(spark, SF_SMOKE, loaded_ts=HOUR_2))
    assert first and first == second


def test_yougile_mart_builds_with_new_stamps_share_generated_code(spark):
    mk = lambda rows, name: spark.createDataFrame(rows, YOUGILE_SCHEMAS[name])
    inputs = (
        mk([("B1", "Main", "P1")], "boards"),
        mk([("C1", "Todo", "B1")], "columns"),
        mk([("S1", "Статус сделки", [("st1", "Active")])],
           "string_stickers"),
        mk([("T1", "Contract one", CREATED_MS, "C1", ["A"],
             {"stk_cs": "st1"}),
            ("T2", "Contract two", CREATED_MS, "C1", [], None)], "tasks"),
        mk([("A", "Lot A", False, {"stk_qp": "5"}, None)], "subtasks"),
    )
    marts = [build_yougile_mart(*inputs, CFG, ts)[0] for ts in (HOUR_1, HOUR_2)]
    assert marts[0].columns[0] == "loaded_ts"
    assert {r.loaded_ts for r in marts[1].collect()} == {HOUR_2}
    first, second = (_code_bodies(m) for m in marts)
    assert first and first == second


def test_backfilled_hours_after_the_first_compile_nothing(spark, tmp_path):
    # catch-up replays each missed hour with its own stamp; only the first
    # may compile (the JVM's code cache is shared with earlier tests)
    hours = ["2026-03-01T05", "2026-03-01T06", "2026-03-01T07"]
    compiles = []

    def build(s, hour):
        compiles.append(codegen_compiles(s))
        return build_mart(s, SF_SMOKE,
                          loaded_ts=dt.datetime.strptime(hour, "%Y-%m-%dT%H"))

    path = str(tmp_path / "hourly")
    assert backfill(spark, path, hours, build, partition_col="load_hour") \
        == hours
    compiles.append(codegen_compiles(spark))
    per_hour = [b - a for a, b in zip(compiles, compiles[1:])]
    assert per_hour[1:] == [0, 0], per_hour
    stored = spark.read.parquet(path).groupBy("loaded_ts").count().collect()
    assert len(stored) == 3
