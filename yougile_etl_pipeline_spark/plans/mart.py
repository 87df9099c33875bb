"""Flagship mart build — the reference pipeline re-expressed on the
TPC-H-ish testdata (SURVEY.md §7 "minimum slice").

Maps the reference's five-stage DAG (``dags/yougile_etl_dag.py:372``) onto
the star schema: ``orders`` play tasks (parent grain), ``lineitem`` plays
subtasks (child grain, J2 left join ``:237``), ``customer→nation→region``
and ``supplier``/``part`` play the six dimension "hubs" (J1/J3–J8,
``:132,270-277``). One lazy lineage replaces five XCom-pickled pandas
stages; the only shuffle is the fact-side J2 join + final dedup — every
hub join is broadcast.

Exercised operators: P2/P3 projections+renames, P5 membership filter,
P6 null-safe ``!= True`` (``:239``), P9 per-run stamp (``:280``),
J1–J8 joins, F1 coalesce (``:230,233``), F2 space-strip (``:283``),
F3 range-split (``:284``), F4 ``dd.MM.yyyy`` parse (``:288-289``),
F5 epoch-ms UTC floor (``:290-292``), F6 empty-string→NULL cast
(``:294-295``), A1 dedup (``:319``).

`MART_ORACLE_SQL` is the DuckDB-equivalent query used by the driver's
differential check; both sides alias identically.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yougile_etl_pipeline_spark.functions.scalar import (
    clean_numeric,
    coalesce_cols,
    epoch_ms_to_date,
    parse_ddmmyyyy,
    split_range,
    strip_spaces,
)
from yougile_etl_pipeline_spark.operators.relational import (
    dedup_full,
    left_lookup_join,
    member_filter,
    null_safe_neq,
    stamp,
)
from yougile_etl_pipeline_spark.sources.tables import load_tables

__all__ = ["build_mart", "MART_ORACLE_SQL", "LOADED_TS"]

# P9: the reference stamps each run with the Airflow logical timestamp
# (dags/yougile_etl_dag.py:280). Kept an explicit *input* for reproducible
# differential tests (SURVEY.md §3.3).
LOADED_TS = dt.datetime(2026, 1, 1, 0, 0, 0)

MART_SEGMENTS = ["BUILDING", "MACHINERY", "AUTOMOBILE"]


def build_mart(spark: SparkSession, sf_dir: str,
               loaded_ts: dt.datetime = LOADED_TS) -> DataFrame:
    """Build the wide denormalized mart as one lazy plan.

    The A1 dedup runs over the 15 data columns and the P9 stamp comes
    after it. That is exact: every row of one build carries the same
    ``loaded_ts``, so DISTINCT(R × {ts}) = DISTINCT(R) × {ts}. The stamp
    enters as data (``relational.stamp``), so hourly builds that differ
    only in ``loaded_ts`` share one compiled mart stage.

    A1 stays a full-row DISTINCT although it removes no row on the test
    data (sf0.001 to sf0.1) and costs about a quarter of a warm build.
    It cannot be made cheaper and stay exact:

    * its partial and final aggregate already run in one stage, since
      J2's shuffle on ``o_orderkey`` (= ``task_id``) satisfies the
      grouping, and Spark has no setting that drops the partial one;
    * a DISTINCT over the narrow inputs before the lookups is not the
      same set: every non-member customer maps to the same NULL names,
      ``place`` ignores ``o_orderpriority`` whenever ``part_name`` is
      set, and the date rendering drops ``o_orderdate``'s time of day.

    Numbers in ROADMAP direction 1."""
    t = load_tables(
        spark, sf_dir,
        ("orders", "lineitem", "customer", "nation", "region", "supplier",
         "part"),
    )

    # --- stage 1 analog: dims chain (boards⟕columns, :132) + P5 filter (:135)
    cust = member_filter(t["customer"], "c_mktsegment", MART_SEGMENTS)
    cust_dim = left_lookup_join(
        cust, t["nation"], cust.c_nationkey == t["nation"].n_nationkey)
    cust_dim = left_lookup_join(
        cust_dim, t["region"],
        cust_dim.n_regionkey == t["region"].r_regionkey).select(
        "c_custkey",
        F.col("c_name").alias("customer_name"),
        F.col("n_name").alias("nation_name"),
        F.col("r_name").alias("region_name"),
    )

    # --- stage 3 analog: fact grain = parent ⟕ child on explicit key (J2, :237)
    # shuffle_hash hint: the child IS the big fact — never broadcast it
    # (locally Catalyst would, serializing a driver-side hash build; at
    # 100 TB a shuffled hash join on the key is the intended plan, and the
    # hint also spares the sort a default SMJ would add).
    child = t["lineitem"].hint("shuffle_hash")
    fact = t["orders"].join(child,
                            t["orders"].o_orderkey == child.l_orderkey,
                            "left")

    # P6: pandas `deleted != True` keeps NaN rows (:239) — child-less parents
    # (l_returnflag NULL after the left join) must survive.
    deleted = F.when(F.col("l_returnflag").isNotNull(),
                     F.col("l_returnflag") == "R")
    fact = fact.withColumn("deleted", deleted).filter(
        null_safe_neq(F.col("deleted"), True)
    )

    # --- stage 4 analog: hub lookups (J3–J8, :270-277), all broadcast.
    fact = left_lookup_join(fact, cust_dim,
                            fact.o_custkey == cust_dim.c_custkey)
    supp = t["supplier"].select("s_suppkey", F.col("s_name").alias("supplier_name"))
    fact = left_lookup_join(fact, supp, fact.l_suppkey == supp.s_suppkey)
    part = t["part"].select("p_partkey", F.col("p_name").alias("part_name"),
                            F.col("p_brand").alias("part_brand"))
    fact = left_lookup_join(fact, part, fact.l_partkey == part.p_partkey)

    # --- scalar normalization block (F1–F6)
    # F5 round-trip: epoch-ms → UTC-floored date (:290-292).
    fact = fact.withColumn("task_creation_ms", F.unix_millis("o_orderdate"))
    fact = fact.withColumn("task_creation_date",
                           epoch_ms_to_date("task_creation_ms"))
    # F2+F3+F4: 'dd.MM.yyyy[-dd.MM.yyyy]' range string → two parsed dates
    # (:283-289). The range string itself is derived so the whole block is
    # deterministic from inputs.
    rng = F.concat(
        F.date_format("o_orderdate", "dd.MM.yyyy"),
        F.when(
            F.col("l_shipdate").isNotNull(),
            F.concat(F.lit(" - "), F.date_format("l_shipdate", "dd.MM.yyyy")),
        ).otherwise(F.lit("")),
    )
    fact = fact.withColumn("loading_dates", strip_spaces(rng))
    start_s, end_s = split_range("loading_dates")
    fact = fact.withColumn("loading_start_date", parse_ddmmyyyy(start_s))
    fact = fact.withColumn("loading_end_date", parse_ddmmyyyy(end_s))
    # F6: ''→NULL→double (:294-295) over a derived string quantity.
    qty_str = F.when(F.col("l_quantity").isNull(), F.lit("")) \
               .otherwise(F.col("l_quantity").cast("string"))
    fact = fact.withColumn("quantity_plan", clean_numeric(qty_str.alias("q")))
    # F1: first-non-null (:230,233).
    fact = fact.withColumn("place",
                           coalesce_cols(F.col("part_name"),
                                         F.col("o_orderpriority")))

    # --- final projection (P2, :298-319) + A1 dedup (:319) + P9 stamp (:280)
    # Dates rendered ISO at the boundary: Spark and DuckDB hand DATE to
    # pandas differently (date objects vs midnight datetime64), which would
    # break the driver's value hash even when the dates are equal.
    iso = lambda c: F.date_format(c, "yyyy-MM-dd")  # noqa: E731
    out = fact.select(
        F.col("o_orderkey").alias("task_id"),
        F.col("l_linenumber").alias("subtask_line"),
        F.col("o_orderstatus").alias("task_status"),
        "customer_name", "nation_name", "region_name",
        "supplier_name", "part_brand",
        iso("task_creation_date").alias("task_creation_date"),
        "loading_dates",
        iso("loading_start_date").alias("loading_start_date"),
        iso("loading_end_date").alias("loading_end_date"),
        "quantity_plan", "place",
        F.col("o_totalprice").alias("total_price"),
    )
    return stamp(dedup_full(out), "loaded_ts",
                 F.lit(loaded_ts).cast("timestamp"))


# DuckDB mirror for the driver's differential check. Column aliases match
# build_mart exactly (driver hashes sort columns by name).
MART_ORACLE_SQL = """
WITH cust_dim AS (
  SELECT c_custkey,
         c_name AS customer_name,
         n_name AS nation_name,
         r_name AS region_name
  FROM customer
  LEFT JOIN nation ON c_nationkey = n_nationkey
  LEFT JOIN region ON n_regionkey = r_regionkey
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
), fact AS (
  SELECT *,
         CASE WHEN l_returnflag IS NOT NULL THEN l_returnflag = 'R' END AS deleted
  FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
), flt AS (
  SELECT * FROM fact WHERE deleted IS DISTINCT FROM TRUE
), enr AS (
  SELECT flt.*,
         cd.customer_name, cd.nation_name, cd.region_name,
         s.s_name AS supplier_name,
         p.p_name AS part_name, p.p_brand AS part_brand,
         epoch_ms(o_orderdate) AS task_creation_ms,
         replace(
           strftime(o_orderdate, '%d.%m.%Y') ||
           CASE WHEN l_shipdate IS NOT NULL
                THEN ' - ' || strftime(l_shipdate, '%d.%m.%Y') ELSE '' END,
           ' ', '') AS loading_dates
  FROM flt
  LEFT JOIN cust_dim cd ON flt.o_custkey = cd.c_custkey
  LEFT JOIN supplier s ON flt.l_suppkey = s.s_suppkey
  LEFT JOIN part p ON flt.l_partkey = p.p_partkey
)
SELECT DISTINCT
  o_orderkey AS task_id,
  l_linenumber AS subtask_line,
  o_orderstatus AS task_status,
  customer_name, nation_name, region_name, supplier_name, part_brand,
  strftime(make_timestamp(task_creation_ms * 1000), '%Y-%m-%d')
    AS task_creation_date,
  loading_dates,
  strftime(strptime(string_split(loading_dates, '-')[1], '%d.%m.%Y'),
           '%Y-%m-%d') AS loading_start_date,
  strftime(strptime(string_split(loading_dates, '-')[2], '%d.%m.%Y'),
           '%Y-%m-%d') AS loading_end_date,
  CAST(nullif(CASE WHEN l_quantity IS NULL THEN ''
                   ELSE CAST(l_quantity AS VARCHAR) END, '') AS DOUBLE)
    AS quantity_plan,
  coalesce(part_name, o_orderpriority) AS place,
  o_totalprice AS total_price,
  TIMESTAMP '2026-01-01 00:00:00' AS loaded_ts
FROM enr
"""
