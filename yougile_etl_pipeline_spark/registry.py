"""Query/oracle registry — the engine's declared operator surface.

Every operator from SURVEY.md §2 (plus the analytics + LLM-pipeline
extensions) is declared here twice:

* ``QUERIES[name]``: a PySpark program ``(spark, sf_dir) -> DataFrame``
  built from the engine's operator modules;
* ``ORACLES[name]``: the equivalent ANSI SQL DuckDB runs on the same
  parquet — the driver hash-compares both at sf0.01.

Determinism rules applied throughout (so the order-insensitive value hash
matches bit-for-bit):

* Aggregates over money/quantity doubles go through DECIMAL: the testdata
  doubles are exact 2-decimal values, so ``CAST(x AS DECIMAL)`` is exact,
  decimal summation is associative (order-independent), and the final
  ``CAST(... AS DOUBLE)`` yields identical bits in Spark and DuckDB.
  Plain ``SUM(double)`` would depend on partition/accumulation order.
* Derived doubles (products like ``price*(1-disc)``) are IEEE-identical
  per row in both engines; rounding them into a DECIMAL is tie-free
  (a binary double is never exactly a decimal half-way point for scale≥1).
* Every LIMIT/top-k carries a total-order tie-break key.
* Window aggregates use DECIMAL inputs and total-order frames.
* Computed columns are aliased identically on both sides (the driver
  sorts columns by name before hashing).
"""

from __future__ import annotations

import importlib

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from yougile_etl_pipeline_spark.functions.scalar import (
    clean_numeric,
    coalesce_cols,
    epoch_ms_to_date,
    parse_ddmmyyyy,
    split_range,
    strip_spaces,
)
from yougile_etl_pipeline_spark.operators.relational import (
    dedup_by_key,
    dedup_by_key_agg,
    dedup_full,
    member_filter,
    null_safe_neq,
    orphan_audit,
    union_by_name,
)
from yougile_etl_pipeline_spark.operators.reshape import (
    explode_keep_empty,
    posexplode_keep_empty,
)
from yougile_etl_pipeline_spark.plans.mart import MART_ORACLE_SQL, build_mart
from yougile_etl_pipeline_spark.registry_base import (
    ORACLES,
    QUERIES,
    _dec,
    register,
)
from yougile_etl_pipeline_spark.schemas import conform
from yougile_etl_pipeline_spark.sources.tables import load_table, load_tables

# ---------------------------------------------------------------------------
# Flagship: the full mart pipeline (SURVEY.md §7 minimum slice)
# ---------------------------------------------------------------------------

register("mart_flagship", MART_ORACLE_SQL)(
    lambda spark, sf: build_mart(spark, sf)
)


# ---------------------------------------------------------------------------
# §2.2 Projections / filters / predicates
# ---------------------------------------------------------------------------

@register("p2_projection", """
SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
""")
def p2_projection(spark, sf):
    return load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


@register("p3_rename", """
SELECT o_orderkey AS task_id, o_orderpriority AS task_priority,
       o_orderstatus AS task_status
FROM orders
""")
def p3_rename(spark, sf):
    # P3 — dict-driven rename (dags/yougile_etl_dag.py:171-195 mapping dicts).
    return load_table(spark, sf, "orders").withColumnsRenamed({
        "o_orderkey": "task_id",
        "o_orderpriority": "task_priority",
        "o_orderstatus": "task_status",
    }).select("task_id", "task_priority", "task_status")


@register("p4_conform", """
SELECT p_partkey, p_name, CAST(NULL AS VARCHAR) AS p_missing_attr,
       p_size, p_retailprice
FROM part
""")
def p4_conform(spark, sf):
    # P4 — add-missing-as-null + reorder (dags/yougile_etl_dag.py:90-94).
    target = T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_missing_attr", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ])
    return conform(load_table(spark, sf, "part"), target)


@register("p5_member_filter", """
SELECT * FROM customer
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
""")
def p5_member_filter(spark, sf):
    return member_filter(load_table(spark, sf, "customer"),
                         "c_mktsegment", ["BUILDING", "MACHINERY"])


@register("p6_nullsafe_neq", """
SELECT o_orderkey, l_linenumber, deleted FROM (
  SELECT o_orderkey, l_linenumber,
         CASE WHEN l_returnflag IS NOT NULL THEN l_returnflag = 'R' END
           AS deleted
  FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
) WHERE deleted IS DISTINCT FROM TRUE
""")
def p6_nullsafe_neq(spark, sf):
    # P6 — pandas `!= True` keeps nulls (dags/yougile_etl_dag.py:239).
    t = load_tables(spark, sf, ("orders", "lineitem"))
    j = t["orders"].join(t["lineitem"],
                         t["orders"].o_orderkey == t["lineitem"].l_orderkey,
                         "left")
    j = j.withColumn("deleted", F.when(F.col("l_returnflag").isNotNull(),
                                       F.col("l_returnflag") == "R"))
    return j.filter(null_safe_neq(F.col("deleted"), True)) \
            .select("o_orderkey", "l_linenumber", "deleted")


@register("p7_null_predicates", """
SELECT o_orderkey, o_custkey
FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 0) c
  ON o_custkey = c_custkey
WHERE o_custkey IS NOT NULL AND c_name IS NULL
""")
def p7_null_predicates(spark, sf):
    # P7 — isna/notna probe = left-join-miss detector
    # (dags/yougile_etl_dag.py:243).
    t = load_tables(spark, sf, ("orders", "customer"))
    pos = t["customer"].filter(F.col("c_acctbal") > 0)
    j = t["orders"].join(pos, t["orders"].o_custkey == pos.c_custkey, "left")
    return j.filter(F.col("o_custkey").isNotNull() & F.col("c_name").isNull()) \
            .select("o_orderkey", "o_custkey")


@register("p8_drop_cols", """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus,
       l_shipdate
FROM lineitem
""")
def p8_drop_cols(spark, sf):
    # P8 — drop (dags/yougile_etl_dag.py:159,231,234); remaining column
    # order is preserved.
    return load_table(spark, sf, "lineitem").drop(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount", "l_tax")


@register("p9_literal_append", """
SELECT o_orderkey, TIMESTAMP '2026-01-01 00:00:00' AS loaded_ts,
       'yougile' AS source_system
FROM orders
""")
def p9_literal_append(spark, sf):
    # P9 — run-stamp literal (dags/yougile_etl_dag.py:280).
    return load_table(spark, sf, "orders").select(
        "o_orderkey",
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("loaded_ts"),
        F.lit("yougile").alias("source_system"))


# ---------------------------------------------------------------------------
# §2.3 Joins (left/inner/semi/anti; dims broadcast)
# ---------------------------------------------------------------------------

@register("j1_left_broadcast_dim", """
SELECT n_nationkey, n_name, r_name
FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
""")
def j1_left_broadcast_dim(spark, sf):
    t = load_tables(spark, sf, ("nation", "region"))
    return t["nation"].join(F.broadcast(t["region"]),
                            t["nation"].n_regionkey == t["region"].r_regionkey,
                            "left").select("n_nationkey", "n_name", "r_name")


@register("j2_left_fact_child", """
SELECT o_orderkey, o_orderdate, l_linenumber, l_extendedprice
FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
""")
def j2_left_fact_child(spark, sf):
    t = load_tables(spark, sf, ("orders", "lineitem"))
    return t["orders"].join(
        t["lineitem"], t["orders"].o_orderkey == t["lineitem"].l_orderkey,
        "left",
    ).select("o_orderkey", "o_orderdate", "l_linenumber", "l_extendedprice")


@register("j_inner", """
SELECT l_orderkey, l_linenumber, p_name, p_brand
FROM lineitem JOIN part ON l_partkey = p_partkey
""")
def j_inner(spark, sf):
    t = load_tables(spark, sf, ("lineitem", "part"))
    return t["lineitem"].join(
        F.broadcast(t["part"]),
        t["lineitem"].l_partkey == t["part"].p_partkey,
    ).select("l_orderkey", "l_linenumber", "p_name", "p_brand")


@register("j_semi", """
SELECT o_orderkey, o_totalprice FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
""")
def j_semi(spark, sf):
    t = load_tables(spark, sf, ("orders", "lineitem"))
    big = t["lineitem"].filter(F.col("l_quantity") >= 45)
    return t["orders"].join(
        big, t["orders"].o_orderkey == big.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


@register("j_anti", """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""")
def j_anti(spark, sf):
    t = load_tables(spark, sf, ("customer", "orders"))
    return t["customer"].join(
        t["orders"], t["customer"].c_custkey == t["orders"].o_custkey,
        "left_anti",
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# §2.5 Reshape (explode/unnest, pandas keep-empty parity)
# ---------------------------------------------------------------------------

@register("r1_explode_tokens_pos", """
SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS INTEGER) AS pos,
       unnest(toks) AS token
FROM (SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id < 50)
""")
def r1_explode_tokens_pos(spark, sf):
    # R1+R3 — explode with ordinal + element extraction
    # (dags/yougile_etl_dag.py:153,156-157).
    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 50)
    arr = docs.select("doc_id", F.split("text", " ").alias("toks"))
    return posexplode_keep_empty(arr, "toks", "pos", "token")


@register("r2_explode_keep_empty", """
SELECT d.doc_id, d.lang, t.token
FROM (SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN string_split(text, ' ') END AS toks
      FROM documents WHERE doc_id < 100) d
LEFT JOIN LATERAL (SELECT unnest(d.toks) AS token) t ON true
""")
def r2_explode_keep_empty(spark, sf):
    # R2 — pandas explode keeps NaN-list rows (dags/yougile_etl_dag.py:222):
    # non-'en' docs survive with token NULL.
    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 100)
    arr = docs.select(
        "doc_id", "lang",
        F.when(F.col("lang") == "en", F.split("text", " ")).alias("toks"))
    return explode_keep_empty(arr, "toks", "token")


# ---------------------------------------------------------------------------
# §2.6 Set operations
# ---------------------------------------------------------------------------

@register("u1_union_by_name", """
SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind FROM customer
UNION ALL BY NAME
SELECT 'supplier' AS kind, s_acctbal AS acctbal, s_name AS name FROM supplier
""")
def u1_union_by_name(spark, sf):
    # U1 — by-name union-all across differing column orders
    # (dags/yougile_etl_dag.py:217).
    t = load_tables(spark, sf, ("customer", "supplier"))
    a = t["customer"].select(F.col("c_name").alias("name"),
                             F.col("c_acctbal").alias("acctbal"),
                             F.lit("customer").alias("kind"))
    b = t["supplier"].select(F.lit("supplier").alias("kind"),
                             F.col("s_acctbal").alias("acctbal"),
                             F.col("s_name").alias("name"))
    return union_by_name(a, b)


@register("set_intersect", """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
""")
def set_intersect(spark, sf):
    t = load_tables(spark, sf, ("customer", "supplier"))
    return t["customer"].select(F.col("c_nationkey").alias("nationkey")) \
        .intersect(t["supplier"].select(F.col("s_nationkey").alias("nationkey")))


@register("set_except", """
SELECT n_nationkey AS nationkey FROM nation
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
""")
def set_except(spark, sf):
    # SQL EXCEPT: a value on the right removes ALL its left occurrences.
    # (exceptAll().distinct() would keep a value whose left multiplicity
    # exceeds its right multiplicity — wrong for duplicate left sides.)
    t = load_tables(spark, sf, ("nation", "supplier"))
    return t["nation"].select(F.col("n_nationkey").alias("nationkey")) \
        .subtract(t["supplier"].select(F.col("s_nationkey").alias("nationkey")))


# ---------------------------------------------------------------------------
# §2.7 Scalar functions F1–F7
# ---------------------------------------------------------------------------

@register("f1_coalesce", """
SELECT o_orderkey, l_linenumber,
       coalesce(l_shipdate, o_orderdate) AS effective_ts
FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
""")
def f1_coalesce(spark, sf):
    t = load_tables(spark, sf, ("orders", "lineitem"))
    j = t["orders"].join(t["lineitem"],
                         t["orders"].o_orderkey == t["lineitem"].l_orderkey,
                         "left")
    return j.select("o_orderkey", "l_linenumber",
                    coalesce_cols("l_shipdate", "o_orderdate")
                    .alias("effective_ts"))


@register("f2_f3_strip_split", """
SELECT p_partkey, replace(p_type, ' ', '') AS type_code,
       string_split(p_type, ' ')[1] AS type_head,
       string_split(p_type, ' ')[2] AS type_mid
FROM part
""")
def f2_f3_strip_split(spark, sf):
    part = load_table(spark, sf, "part")
    head, mid = split_range("p_type", " ")
    return part.select(
        "p_partkey", strip_spaces("p_type").alias("type_code"),
        head.alias("type_head"), mid.alias("type_mid"))


@register("f4_parse_ddmmyyyy", """
SELECT o_orderkey, d_str,
       strftime(strptime(d_str, '%d.%m.%Y'), '%Y-%m-%d') AS parsed_date,
       strftime(try_strptime('31.02.2025', '%d.%m.%Y'), '%Y-%m-%d')
         AS malformed_date
FROM (SELECT o_orderkey, strftime(o_orderdate, '%d.%m.%Y') AS d_str
      FROM orders)
""")
def f4_parse_ddmmyyyy(spark, sf):
    # F4 — permissive parse: malformed → NULL (SURVEY.md §2.7 gotcha).
    # DATE outputs are rendered ISO on both sides: engines hand dates to
    # pandas differently (date objects vs midnight datetime64), which would
    # fail the value hash even though the dates are equal.
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", F.date_format("o_orderdate", "dd.MM.yyyy").alias("d_str"))
    return o.select(
        "o_orderkey", "d_str",
        F.date_format(parse_ddmmyyyy("d_str"), "yyyy-MM-dd")
         .alias("parsed_date"),
        F.date_format(parse_ddmmyyyy(F.lit("31.02.2025")), "yyyy-MM-dd")
         .alias("malformed_date"))


@register("f5_epoch_ms_roundtrip", """
SELECT o_orderkey, epoch_ms(o_orderdate) AS creation_ms,
       strftime(make_timestamp(epoch_ms(o_orderdate) * 1000), '%Y-%m-%d')
         AS creation_date
FROM orders
""")
def f5_epoch_ms_roundtrip(spark, sf):
    # F5 — epoch-ms → UTC-floored date (dags/yougile_etl_dag.py:290-292).
    o = load_table(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.unix_millis("o_orderdate").alias("creation_ms"),
        F.date_format(epoch_ms_to_date(F.unix_millis("o_orderdate")),
                      "yyyy-MM-dd").alias("creation_date"))


@register("f6_empty_to_null_cast", """
SELECT l_orderkey, l_linenumber,
       CAST(nullif(CASE WHEN l_quantity < 5 THEN ''
                        ELSE CAST(l_quantity AS VARCHAR) END, '') AS DOUBLE)
         AS quantity_clean
FROM lineitem
""")
def f6_empty_to_null_cast(spark, sf):
    li = load_table(spark, sf, "lineitem")
    qty_str = F.when(F.col("l_quantity") < 5, F.lit("")) \
               .otherwise(F.col("l_quantity").cast("string"))
    return li.select("l_orderkey", "l_linenumber",
                     clean_numeric(qty_str).alias("quantity_clean"))


# ---------------------------------------------------------------------------
# §2.4 Aggregation surface + D1 audit
# ---------------------------------------------------------------------------

@register("a1_dedup_full", """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
""")
def a1_dedup_full(spark, sf):
    return dedup_full(load_table(spark, sf, "orders")
                      .select("o_orderstatus", "o_orderpriority"))


@register("a1_dedup_by_key", """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
QUALIFY row_number() OVER (PARTITION BY l_orderkey
                           ORDER BY l_linenumber, l_quantity) = 1
""")
def a1_dedup_by_key(spark, sf):
    # A1 at 100 TB: key-only shuffle + deterministic survivor
    # (SURVEY.md §2.4). The survivor order must be TOTAL over the projected
    # columns — (l_orderkey, l_linenumber) alone is not unique in the data.
    # r16: projected columns are exactly key + ascending order cols, so
    # the min(struct) aggregation form applies — map-side partial min,
    # no input sort; bit-identical to the row_number()==1 window (see
    # dedup_by_key_agg; equivalence pinned in
    # tests/test_r16_optimizations.py).
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity")
    return dedup_by_key_agg(li, ["l_orderkey"],
                            ["l_linenumber", "l_quantity"])


@register("a2_counts", """
SELECT count(*) AS total_orders,
       CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS open_orders
FROM orders
""")
def a2_counts(spark, sf):
    o = load_table(spark, sf, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.count_if(F.col("o_orderstatus") == "O").alias("open_orders"))


@register("d1_orphan_audit", """
SELECT CAST(count_if(o_custkey IS NOT NULL AND c_name IS NULL) AS BIGINT)
  AS orphan_count
FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 0) c
  ON o_custkey = c_custkey
""")
def d1_orphan_audit(spark, sf):
    # D1 — lost-data invariant (dags/yougile_etl_dag.py:241-244).
    t = load_tables(spark, sf, ("orders", "customer"))
    pos = t["customer"].filter(F.col("c_acctbal") > 0)
    j = t["orders"].join(pos, t["orders"].o_custkey == pos.c_custkey, "left")
    return orphan_audit(j, "o_custkey", "c_name")


# ---------------------------------------------------------------------------
# Standard analytics surface (SURVEY.md §2.4 note + §7 step 4)
# ---------------------------------------------------------------------------

@register("agg_pricing_summary", """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE)
    AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
       AS DECIMAL(20,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) / count(*)
    AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def agg_pricing_summary(spark, sf):
    # TPC-H Q1 shape — the mart's headline BI aggregation.
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    cnt = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(_dec(disc_price)).cast("double").alias("sum_disc_price"),
        F.sum(_dec(charge)).cast("double").alias("sum_charge"),
        (F.sum(_dec("l_quantity")).cast("double") / cnt).alias("avg_qty"),
        (F.sum(_dec("l_extendedprice")).cast("double") / cnt).alias("avg_price"),
        (F.sum(_dec("l_discount")).cast("double") / cnt).alias("avg_disc"),
        cnt.alias("count_order"))


@register("agg_topk_revenue", """
SELECT o_orderkey, o_orderdate,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE)
    AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""")
def agg_topk_revenue(spark, sf):
    # TPC-H Q3 shape: selective dim filter → fact join → agg → top-k.
    t = load_tables(spark, sf, ("customer", "orders", "lineitem"))
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    j = t["orders"].join(F.broadcast(cust),
                         t["orders"].o_custkey == cust.c_custkey)
    j = j.join(t["lineitem"], j.o_orderkey == t["lineitem"].l_orderkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (j.groupBy("o_orderkey", "o_orderdate")
             .agg(F.sum(_dec(rev)).cast("double").alias("revenue"))
             .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
             .limit(10))


@register("agg_rollup", """
SELECT r_name AS region_name, n_name AS nation_name,
       count(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
""")
def agg_rollup(spark, sf):
    t = load_tables(spark, sf, ("customer", "nation", "region"))
    j = t["customer"] \
        .join(F.broadcast(t["nation"]),
              t["customer"].c_nationkey == t["nation"].n_nationkey) \
        .join(F.broadcast(t["region"]),
              t["nation"].n_regionkey == t["region"].r_regionkey)
    return j.select(F.col("r_name").alias("region_name"),
                    F.col("n_name").alias("nation_name"),
                    "c_acctbal") \
        .rollup("region_name", "nation_name") \
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"))


@register("win_rank_topn", """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
WHERE rn <= 3
""")
def win_rank_topn(spark, sf):
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (o.withColumn("rn", F.row_number().over(w).cast("long"))
             .filter(F.col("rn") <= 3)
             .select("o_custkey", "o_orderkey", "o_totalprice", "rn"))


@register("win_running_total", """
SELECT o_custkey, o_orderkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       AS DOUBLE) AS running_spend
FROM orders
""")
def win_running_total(spark, sf):
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double")
         .alias("running_spend"))


@register("sort_limit_topk", """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 5
""")
def sort_limit_topk(spark, sf):
    # Total-order tie-break keeps top-k deterministic; Spark executes this
    # as TakeOrderedAndProject (no full sort materialization).
    return load_table(spark, sf, "orders") \
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")) \
        .limit(5).select("o_orderkey", "o_totalprice")


@register("set_except_all", """
SELECT l_suppkey AS suppkey FROM lineitem WHERE l_orderkey < 500
EXCEPT ALL
SELECT s_suppkey AS suppkey FROM supplier
""")
def set_except_all(spark, sf):
    # Multiset difference — duplicates preserved (vs set_except's DISTINCT).
    t = load_tables(spark, sf, ("lineitem", "supplier"))
    a = t["lineitem"].filter(F.col("l_orderkey") < 500) \
        .select(F.col("l_suppkey").alias("suppkey"))
    b = t["supplier"].select(F.col("s_suppkey").alias("suppkey"))
    return a.exceptAll(b)


@register("set_except_dup_left", """
SELECT l_suppkey AS suppkey FROM lineitem WHERE l_orderkey < 500
EXCEPT
SELECT s_suppkey AS suppkey FROM supplier WHERE s_suppkey % 3 = 0
""")
def set_except_dup_left(spark, sf):
    # EXCEPT with a left side full of duplicates: a suppkey on the right
    # must remove ALL its left occurrences (the case exceptAll().distinct()
    # gets wrong — see set_except).
    t = load_tables(spark, sf, ("lineitem", "supplier"))
    a = t["lineitem"].filter(F.col("l_orderkey") < 500) \
        .select(F.col("l_suppkey").alias("suppkey"))
    b = t["supplier"].filter(F.col("s_suppkey") % 3 == 0) \
        .select(F.col("s_suppkey").alias("suppkey"))
    return a.subtract(b)


@register("set_intersect_all", """
SELECT l_suppkey AS suppkey FROM lineitem WHERE l_orderkey < 200
INTERSECT ALL
SELECT l_suppkey AS suppkey FROM lineitem WHERE l_orderkey >= 200 AND l_orderkey < 400
""")
def set_intersect_all(spark, sf):
    li = load_table(spark, sf, "lineitem")
    a = li.filter(F.col("l_orderkey") < 200) \
        .select(F.col("l_suppkey").alias("suppkey"))
    b = li.filter((F.col("l_orderkey") >= 200) & (F.col("l_orderkey") < 400)) \
        .select(F.col("l_suppkey").alias("suppkey"))
    return a.intersectAll(b)


@register("f_regexp_extract", """
SELECT p_partkey,
  regexp_extract(p_type, '([A-Z]+)', 1) AS first_word,
  regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS second_word,
  regexp_matches(p_type, 'BRUSHED|POLISHED') AS is_finished,
  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INTEGER) AS n_vowels
FROM part
""")
def f_regexp_extract(spark, sf):
    # Regex family (RE2/Java-compatible patterns only — both engines agree)
    p = load_table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", "([A-Z]+)", 1).alias("first_word"),
        F.regexp_extract("p_name", "([a-z]+) ([a-z]+)", 2).alias("second_word"),
        F.col("p_type").rlike("BRUSHED|POLISHED").alias("is_finished"),
        F.size(F.regexp_extract_all("p_name", F.lit("[aeiou]"), 0))
         .alias("n_vowels"))


@register("j_full_outer", """
SELECT o_orderkey, c_custkey, c_name FROM
  (SELECT * FROM orders WHERE o_orderkey < 300) o
FULL JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
  ON o.o_custkey = c.c_custkey
""")
def j_full_outer(spark, sf):
    t = load_tables(spark, sf, ("orders", "customer"))
    o = t["orders"].filter(F.col("o_orderkey") < 300)
    c = t["customer"].filter(F.col("c_acctbal") > 5000)
    return o.join(c, o.o_custkey == c.c_custkey, "full") \
            .select("o_orderkey", "c_custkey", "c_name")


@register("j_cross", """
SELECT r_name, s_name FROM region CROSS JOIN supplier
""")
def j_cross(spark, sf):
    t = load_tables(spark, sf, ("region", "supplier"))
    return t["region"].crossJoin(t["supplier"]).select("r_name", "s_name")


@register("set_union_distinct", """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
""")
def set_union_distinct(spark, sf):
    t = load_tables(spark, sf, ("customer", "supplier"))
    return t["customer"].select(F.col("c_nationkey").alias("nationkey")) \
        .union(t["supplier"].select(F.col("s_nationkey").alias("nationkey"))) \
        .distinct()


@register("f_case_bands", """
SELECT o_orderkey,
  CASE WHEN o_totalprice < 50000 THEN 'small'
       WHEN o_totalprice < 150000 THEN 'medium'
       ELSE 'large' END AS price_band,
  CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'filled'
       ELSE 'other' END AS status_label
FROM orders
""")
def f_case_bands(spark, sf):
    o = load_table(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < 50000, "small")
         .when(F.col("o_totalprice") < 150000, "medium")
         .otherwise("large").alias("price_band"),
        F.when(F.col("o_orderstatus") == "O", "open")
         .when(F.col("o_orderstatus") == "F", "filled")
         .otherwise("other").alias("status_label"))


# ---------------------------------------------------------------------------
# The query banks, and the one fixed order
# ---------------------------------------------------------------------------
# Each bank registers into QUERIES/ORACLES on import, in this order. The
# banks import registry_base (and earlier banks' oracle fragments), never
# this module.
BANKS = tuple(importlib.import_module(f"{__package__}.{m}") for m in (
    "registry_ext", "registry_analytics", "registry_tpch", "registry_r05",
    "registry_r06", "registry_r07", "registry_r09", "registry_r10",
    "registry_r11", "registry_r12", "registry_r13", "registry_r14",
    "registry_r15", "registry_r16"))

# The driver certifies list(QUERIES)[:50]. These are the 50 it certifies,
# in order; every other query follows them.
WINDOW = (
    "text_oov_rate", "text_lm_quality", "events_mad_outliers",
    "dedup_shingle_containment", "dedup_semantic", "graph_label_propagation",
    "emb_gram_matrix", "dedup_simhash_recall_eval", "corpus_shard_manifest",
    "dedup_blocking_profile", "agg_exact_median_global", "events_theil_sen",
    "agg_price_histogram", "agg_weighted_median", "events_cusum_alarms",
    "events_rolling_slope", "freq_copurchase_lift", "events_mode_type",
    "graph_link_jaccard", "agg_exact_quantiles", "events_seasonal_baseline",
    "events_top_paths", "events_dwell_time", "mart_abc_parts",
    "sim_lsh_recall_sweep", "text_mean_docfreq_gate",
    "quality_rule_attribution", "train_curriculum_bands",
    "quality_dedup_threshold_curve", "dedup_pair_degree_hist",
    "text_skipgram_cooccurrence", "text_dup_span_source_pairs",
    "dedup_minhash_band_sweep", "sim_rrf_fusion", "decontam_minhash",
    "dedup_quality_canonical", "dedup_neardup_source_crosstab",
    "dedup_boundary_chain", "corpus_lang_concentration",
    "train_token_apportionment", "events_peak_to_mean",
    "events_session_gap_sweep", "corpus_survivor_token_share",
    "win_dist_functions", "sql_scalar_subquery", "sql_in_subquery",
    "sql_having_total", "sql_lateral_topk", "sql_recursive_spine",
    "sql_market_share",
)


def _fix_order() -> None:
    """WINDOW first; then the rest by module (this one, then BANKS, then
    any other) and by registration order within a module. The order thus
    does not depend on which module a process imported first. A WINDOW
    name that is not registered fails the import with KeyError."""
    rank = {m: i for i, m in enumerate(
        (__name__,) + tuple(b.__name__ for b in BANKS))}
    seq = {n: i for i, n in enumerate(QUERIES)}
    rest = sorted(QUERIES.keys() - set(WINDOW), key=lambda n: (
        rank.get(QUERIES[n].__module__, len(rank)), seq[n]))
    order = WINDOW + tuple(rest)
    queries = {n: QUERIES.pop(n) for n in order}
    oracles = {n: ORACLES.pop(n) for n in order if n in ORACLES}
    QUERIES.update(queries)
    ORACLES.update(oracles)


_fix_order()
