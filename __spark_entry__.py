"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``yougile_etl_pipeline_spark`` package;
this module only adapts it to the driver contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _configure(spark: SparkSession) -> SparkSession:
    """Pin the engine's semantic configs on a driver-provided session
    (UTC session TZ is load-bearing for date parity — see session.py)."""
    from yougile_etl_pipeline_spark.session import ENGINE_CONF

    for k in ("spark.sql.session.timeZone", "spark.sql.ansi.enabled",
              "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
              "spark.sql.legacy.parquet.nanosAsLong",
              "spark.sql.join.preferSortMergeJoin",
              "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
              "spark.sql.files.openCostInBytes"):
        try:
            spark.conf.set(k, ENGINE_CONF[k])
        except AnalysisException as e:
            # not runtime-settable in this deployment — its value stands
            if e.getCondition() != "CANNOT_MODIFY_CONFIG":
                raise
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from yougile_etl_pipeline_spark.plans.mart import build_mart

    return build_mart(_configure(spark), _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from yougile_etl_pipeline_spark.registry import QUERIES

    return {
        name: (lambda spark, sf_dir, _fn=fn: _fn(_configure(spark), sf_dir))
        for name, fn in QUERIES.items()
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each query (omitted ⇒ rows-only check)."""
    from yougile_etl_pipeline_spark.registry import ORACLES

    return dict(ORACLES)
