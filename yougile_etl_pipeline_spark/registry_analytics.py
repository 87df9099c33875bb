"""Analytics surface, batch 2: pivot, cube, distinct counts, percentiles,
string/math/date scalar families, lead/lag/ntile windows.

All Catalyst built-ins ("same query capabilities" for a mart engine —
SURVEY.md §2.4 note); every entry oracle-paired. Cross-engine traps
avoided by construction:

* no ``round()`` on raw doubles (Spark rounds the shortest decimal repr,
  DuckDB rounds the true binary value → 12.45 diverges); decimal casts
  handle precision instead;
* no libm-dependent transcendentals (ln/exp differ in the last ulp across
  runtimes); sqrt IS IEEE-exact, kept;
* day-of-week excluded (Spark Sunday=1 vs DuckDB Sunday=0); year/month/
  day/datediff/date_add are unambiguous;
* percentile: Spark ``percentile`` and DuckDB ``quantile_cont`` verified
  bit-identical on this data (same interpolation) before inclusion.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from yougile_etl_pipeline_spark.registry_base import _dec, register
from yougile_etl_pipeline_spark.sources.tables import load_table, load_tables


@register("agg_pivot_status", """
SELECT o_orderpriority,
  CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS n_O,
  CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_F,
  CAST(count_if(o_orderstatus = 'P') AS BIGINT) AS n_P
FROM orders
GROUP BY o_orderpriority
""")
def agg_pivot_status(spark, sf):
    # Spark-native pivot with pinned category values (never let pivot
    # discover values at scale — that's an extra job over the full fact).
    o = load_table(spark, sf, "orders")
    p = (o.groupBy("o_orderpriority")
          .pivot("o_orderstatus", ["O", "F", "P"])
          .agg(F.count(F.lit(1))))
    return p.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s}")
          for s in ("O", "F", "P")])


@register("agg_cube", """
SELECT l_returnflag, l_linestatus, count(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
""")
def agg_cube(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"))


@register("agg_count_distinct", """
SELECT l_returnflag,
  count(DISTINCT l_partkey) AS n_parts,
  count(DISTINCT l_suppkey) AS n_supps,
  count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""")
def agg_count_distinct(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"))


@register("agg_percentiles", """
SELECT l_returnflag,
  quantile_cont(l_extendedprice, 0.5) AS p50_price,
  quantile_cont(l_extendedprice, 0.95) AS p95_price,
  quantile_cont(l_quantity, 0.25) AS p25_qty,
  min(l_extendedprice) AS min_price,
  max(l_extendedprice) AS max_price
FROM lineitem
GROUP BY l_returnflag
""")
def agg_percentiles(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("p50_price"),
        F.percentile("l_extendedprice", 0.95).alias("p95_price"),
        F.percentile("l_quantity", 0.25).alias("p25_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"))


@register("f_string_functions", """
SELECT p_partkey,
  upper(p_name) AS name_upper,
  lower(p_brand) AS brand_lower,
  substring(p_type, 1, 5) AS type_head5,
  lpad(CAST(p_size AS VARCHAR), 5, '0') AS size_padded,
  concat_ws('|', p_brand, p_type) AS brand_type,
  reverse(p_brand) AS brand_rev,
  strpos(p_type, 'ED') AS ed_pos,
  trim(' ' || p_name || ' ') AS name_trimmed
FROM part
""")
def f_string_functions(spark, sf):
    p = load_table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_type", 1, 5).alias("type_head5"),
        F.lpad(F.col("p_size").cast("string"), 5, "0").alias("size_padded"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.reverse("p_brand").alias("brand_rev"),
        F.instr("p_type", "ED").alias("ed_pos"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" ")))
         .alias("name_trimmed"))


@register("f_math_functions", """
SELECT l_orderkey, l_linenumber,
  abs(l_discount - 0.05) AS disc_dev,
  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
  sqrt(l_quantity) AS qty_sqrt,
  l_extendedprice % 7 AS price_mod7,
  greatest(l_discount, l_tax) AS max_rate,
  least(l_discount, l_tax) AS min_rate,
  CAST(sign(l_discount - l_tax) AS INTEGER) AS rate_sign
FROM lineitem
""")
def f_math_functions(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_extendedprice") % 7).alias("price_mod7"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
        F.signum(F.col("l_discount") - F.col("l_tax")).cast("int")
         .alias("rate_sign"))


@register("f_date_arithmetic", """
SELECT o_orderkey,
  CAST(year(o_orderdate) AS INTEGER) AS order_year,
  CAST(month(o_orderdate) AS INTEGER) AS order_month,
  CAST(day(o_orderdate) AS INTEGER) AS order_day,
  CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter,
  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
  datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
    AS days_since_95
FROM orders
""")
def f_date_arithmetic(spark, sf):
    o = load_table(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_format(F.date_add(F.to_date("o_orderdate"), 30), "yyyy-MM-dd")
         .alias("due_date"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
         .alias("days_since_95"))


@register("win_lead_lag_ntile", """
SELECT o_custkey, o_orderkey, o_totalprice,
  lag(o_totalprice) OVER w AS prev_price,
  lead(o_totalprice) OVER w AS next_price,
  CAST(ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT)
    AS price_quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""")
def win_lead_lag_ntile(spark, sf):
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return o.select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(g).cast("long").alias("price_quartile"))


@register("win_range_frame", """
SELECT o_custkey, o_orderkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
       AS DOUBLE) AS spend_30d
FROM orders
""")
def win_range_frame(spark, sf):
    # Event-time RANGE frame (30-day trailing spend) — the moving-window
    # aggregation pattern; decimal-internal so frame evaluation order
    # can't perturb the double.
    o = load_table(spark, sf, "orders")
    day = 86400
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.unix_timestamp("o_orderdate"))
         .rangeBetween(-30 * day, 0))
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("spend_30d"))


# ---------------------------------------------------------------------------
# Batch 3: arrays, deterministic sampling, quality profiling, SQL API
# ---------------------------------------------------------------------------

@register("f_array_functions", """
SELECT doc_id,
  CAST(len(toks) AS INTEGER) AS n_toks,
  list_contains(toks, 'the') AS has_the,
  list_sort(toks)[1] AS first_sorted,
  array_to_string(toks[1:3], ' ') AS head3
FROM (SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id < 200)
""")
def f_array_functions(spark, sf):
    from pyspark.sql import functions as F

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 200)
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.array_contains(toks, "the").alias("has_the"),
        F.sort_array(toks).getItem(0).alias("first_sorted"),
        F.concat_ws(" ", F.slice(toks, 1, 3)).alias("head3"))


@register("sample_deterministic", """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE CAST(concat('0x', substr(md5(l_orderkey || ':' || l_linenumber), 1, 8))
           AS BIGINT) % 16 < 1
""")
def sample_deterministic(spark, sf):
    # Reproducible 1/16 sample: same rows at any scale, partitioning, or
    # engine — rand()/TABLESAMPLE can't give that, and auditable sampling
    # of training data requires it. Cheap per-row predicate, no shuffle.
    from pyspark.sql import functions as F

    from yougile_etl_pipeline_spark.operators.quality import (
        deterministic_sample,
    )

    li = load_table(spark, sf, "lineitem")
    key = F.concat(F.col("l_orderkey").cast("string"), F.lit(":"),
                   F.col("l_linenumber").cast("string"))
    return deterministic_sample(li.withColumn("__k", key), "__k") \
        .select("l_orderkey", "l_linenumber", "l_quantity")


@register("quality_profile", """
SELECT 'o_custkey' AS column_name, count(*) AS n_rows,
       count(*) - count(o_custkey) AS n_nulls,
       count(DISTINCT o_custkey) AS n_distinct FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
       count(DISTINCT o_orderstatus) FROM orders
UNION ALL
SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
       count(DISTINCT o_totalprice) FROM orders
""")
def quality_profile(spark, sf):
    # Per-column null/distinct profile in ONE pass (no per-column jobs —
    # at 100 TB a loop of df.agg per column scans the table N times).
    from yougile_etl_pipeline_spark.operators.quality import column_profile

    o = load_table(spark, sf, "orders")
    return column_profile(o, ["o_custkey", "o_orderstatus", "o_totalprice"])


@register("sql_api_top_nations", """
SELECT n_name AS nation_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6)))
       AS DOUBLE) AS revenue,
  count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY revenue DESC, nation_name
LIMIT 10
""")
def sql_api_top_nations(spark, sf):
    # The engine's SQL entry point: identical logical plan to the
    # DataFrame API (same Catalyst), declared over registered temp views.
    from yougile_etl_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf)
    return spark.sql("""
        SELECT n_name AS nation_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
               count(*) AS n_lineitems
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY revenue DESC, nation_name
        LIMIT 10
    """)


@register("sketch_approx_distinct", """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS within_tol
FROM lineitem
GROUP BY l_returnflag
""")
def sketch_approx_distinct(spark, sf):
    # approx_count_distinct (HyperLogLog++): register merges are max()s —
    # commutative, so the estimate is partition-order independent. No SQL
    # oracle can reproduce Spark's exact sketch, so the checkable output is
    # the error bound: |approx-exact|/exact within 3x the default rsd
    # (0.05). The oracle asserts within_tol literally TRUE — an estimate
    # drifting out of tolerance hash-mismatches and goes red.
    from pyspark.sql import functions as F

    li = load_table(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag")
              .agg(F.approx_count_distinct("l_partkey").alias("approx_parts"),
                   F.count_distinct("l_partkey").alias("exact_parts"))
              .select(
                  "l_returnflag", "exact_parts",
                  (F.abs(F.col("approx_parts") - F.col("exact_parts"))
                   <= 0.15 * F.col("exact_parts")).alias("within_tol")))


@register("sketch_approx_quantiles", """
SELECT l_returnflag, count(*) AS n_rows,
       TRUE AS p50_in_bounds, TRUE AS p90_in_bounds
FROM lineitem GROUP BY l_returnflag
""")
def sketch_approx_quantiles(spark, sf):
    # approx_percentile (GK sketch, accuracy a => rank error <= n/a): the
    # sketch value itself is engine-specific, so the checkable output is
    # the GUARANTEE — the exact rank of the approximate quantile must lie
    # within q +/- 2/a of the true rank. Spark computes the rank check
    # against its own estimate; the oracle asserts the booleans literally
    # TRUE, so a sketch drifting out of its error bound goes red.
    from pyspark.sql import functions as F

    acc = 100
    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag", "l_extendedprice")
    est = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.9], acc).alias("qs"))
    ranks = (li.join(F.broadcast(est), "l_returnflag")
               .groupBy("l_returnflag")
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    F.count_if(F.col("l_extendedprice") <= F.col("qs")[0])
                     .alias("r50"),
                    F.count_if(F.col("l_extendedprice") <= F.col("qs")[1])
                     .alias("r90")))
    eps = 2.0 / acc
    in_b = lambda r, q: (  # noqa: E731
        (F.col(r) >= (q - eps) * F.col("n_rows"))
        & (F.col(r) <= (q + eps) * F.col("n_rows") + 1))
    return ranks.select("l_returnflag", "n_rows",
                        in_b("r50", 0.5).alias("p50_in_bounds"),
                        in_b("r90", 0.9).alias("p90_in_bounds"))


@register("events_interval_join", """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND epoch_ms(p.ts) > epoch_ms(c.ts)
 AND epoch_ms(p.ts) <= epoch_ms(c.ts) + 300000
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
""")
def events_interval_join(spark, sf):
    # Range/interval join (click→purchase attribution within 5 min) via
    # the banded rewrite: equi-join on (user, 5-min bucket) probing two
    # buckets — candidates bounded per bucket instead of per user
    # (operators/relational.py::interval_join). The oracle states the
    # naive inequality join; results are identical.
    from pyspark.sql import functions as F

    from yougile_etl_pipeline_spark.operators.relational import interval_join

    ev = load_table(spark, sf, "events").withColumn(
        "ms", F.unix_millis("ts"))
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("user_id", F.col("event_id").alias("click_id"), "ms")
    buys = ev.filter(F.col("event_type") == "purchase") \
        .select("user_id", F.col("event_id").alias("purchase_id"), "ms")
    j = interval_join(clicks, buys, keys=["user_id"],
                      left_ts="ms", right_ts="ms", max_gap_ms=300000)
    return j.select("user_id", "click_id",
                    F.col("purchase_id_r").alias("purchase_id"),
                    (F.col("ms_r") - F.col("ms")).alias("gap_ms"))


@register("agg_regional_volume", """
SELECT n_name AS nation_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6)))
       AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
GROUP BY n_name
""")
def agg_regional_volume(spark, sf):
    # TPC-H Q5 shape: six-table star join with a local-supplier predicate
    # (customer and supplier in the same nation). Region/nation/supplier/
    # customer broadcast; only the fact tables shuffle.
    t = load_tables(spark, sf, ("customer", "orders", "lineitem",
                                "supplier", "nation", "region"))
    r = t["region"].filter(F.col("r_name") == "EUROPE")
    j = (t["customer"]
         .join(t["orders"], t["customer"].c_custkey == t["orders"].o_custkey)
         .join(t["lineitem"],
               F.col("o_orderkey") == t["lineitem"].l_orderkey)
         .join(F.broadcast(t["supplier"]),
               (F.col("l_suppkey") == t["supplier"].s_suppkey)
               & (F.col("c_nationkey") == t["supplier"].s_nationkey))
         .join(F.broadcast(t["nation"]),
               F.col("c_nationkey") == t["nation"].n_nationkey)
         .join(F.broadcast(r),
               F.col("n_regionkey") == r.r_regionkey))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (j.groupBy(F.col("n_name").alias("nation_name"))
             .agg(F.sum(_dec(rev)).cast("double").alias("revenue")))


@register("r_unpivot_metrics", """
SELECT l_orderkey, l_linenumber, metric, val
FROM (
  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
  FROM lineitem WHERE l_orderkey % 50 = 0
) UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount))
""")
def r_unpivot_metrics(spark, sf):
    # Wide->long reshape (melt): one output row per (row, metric). The
    # relational inverse of agg_pivot_status; map-only (no shuffle), so
    # at 100 TB it's a scan-shaped transform feeding metric-keyed sinks.
    li = (load_table(spark, sf, "lineitem")
          .filter(F.col("l_orderkey") % 50 == 0))
    return li.melt(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric", valueColumnName="val")


@register("agg_grouping_sets", """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS cnt,
       CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority))
""")
def agg_grouping_sets(spark, sf):
    # Explicit GROUPING SETS (the general form rollup/cube specialize):
    # three groupings in ONE pass over the facts — Spark expands then
    # partially aggregates map-side, so the shuffle carries one row per
    # (grouping, key), never three scans.
    load_table(spark, sf, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE)
                 AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))""")


@register("win_dist_functions", """
SELECT o_orderkey, o_orderstatus,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd,
       ntile(4) OVER w AS quartile
FROM orders WHERE o_orderkey % 20 = 0
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
""")
def win_dist_functions(spark, sf):
    # Distribution window functions: percent_rank/cume_dist are ratios
    # of exact ints (rank-1)/(n-1), rows<=x/n -> bit-identical doubles.
    # Total order (price, key) keeps ntile deterministic.
    from pyspark.sql.window import Window
    w = (Window.partitionBy("o_orderstatus")
         .orderBy("o_totalprice", "o_orderkey"))
    return (load_table(spark, sf, "orders")
            .filter(F.col("o_orderkey") % 20 == 0)
            .select("o_orderkey", "o_orderstatus",
                    F.percent_rank().over(w).alias("pr"),
                    F.cume_dist().over(w).alias("cd"),
                    F.ntile(4).over(w).alias("quartile")))


@register("p_na_fill_drop", """
WITH flagged AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_totalprice END AS px,
         CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_orderstatus END AS st
  FROM orders
)
SELECT o_orderkey, coalesce(px, -1.0) AS px, st
FROM flagged WHERE st IS NOT NULL
""")
def p_na_fill_drop(spark, sf):
    # DataFrameNaFunctions surface: na.fill for the numeric column,
    # na.drop on the string column — the missing-data API a pandas
    # migrator reaches for first (reference handles NaN via sink-side
    # psycopg2 adapters; Spark handles it relationally, SURVEY §2.6).
    o = load_table(spark, sf, "orders")
    flagged = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 11 == 0, None)
         .otherwise(F.col("o_totalprice")).alias("px"),
        F.when(F.col("o_orderkey") % 13 == 0, None)
         .otherwise(F.col("o_orderstatus")).alias("st"))
    return flagged.na.fill({"px": -1.0}).na.drop(subset=["st"])


@register("sketch_incremental_merge", """
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS exact_customers,
       TRUE AS within_tol
FROM orders
GROUP BY o_orderstatus
""")
def sketch_incremental_merge(spark, sf):
    # The approximate complement of agg_incremental_merge: distinct
    # counts are NOT mergeable as plain state (union != sum), but their
    # DataSketches HLL sketches ARE — each batch stores one binary
    # sketch per key, and hll_union_agg folds batch-into-history with
    # no fact rescans and no re-shuffle of raw keys. Estimates are
    # engine-specific, so the checkable output is the error bound
    # (|est - exact| within 3x the ~1.6%/sqrt-ish HLL rsd at default
    # lgConfigK=12): the oracle asserts within_tol literally TRUE.
    orders = load_table(spark, sf, "orders")
    third = F.col("o_orderkey") % 3
    batches = [
        orders.filter(third == i)
              .groupBy("o_orderstatus")
              .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
        for i in range(3)
    ]
    hist = batches[0].unionByName(batches[1]).unionByName(batches[2])
    merged = (hist.groupBy("o_orderstatus")
              .agg(F.hll_union_agg("sk").alias("sk")))
    exact = (orders.groupBy("o_orderstatus")
             .agg(F.count_distinct("o_custkey").alias("exact_customers")))
    return (merged
            .withColumn("est", F.hll_sketch_estimate("sk"))
            .join(exact, "o_orderstatus")
            .select(
                "o_orderstatus", "exact_customers",
                (F.abs(F.col("est") - F.col("exact_customers"))
                 <= 0.05 * F.col("exact_customers")).alias("within_tol")))


@register("sql_scalar_subquery", """
SELECT p_partkey, p_size FROM part
WHERE p_size > (SELECT avg(p_size) FROM part)
""")
def sql_scalar_subquery(spark, sf):
    # Scalar subquery through the SQL entry point: Catalyst rewrites it
    # to a one-row broadcast (ReusedSubquery/Subquery node), so the fact
    # scan happens once and the threshold never touches the driver. Avg
    # over INTs is an exact integer sum / count in both engines -> the
    # comparison is bit-deterministic (avg over doubles would not be:
    # summation order differs across partitionings).
    from yougile_etl_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf)
    return spark.sql("""
        SELECT p_partkey, p_size FROM part
        WHERE p_size > (SELECT avg(p_size) FROM part)
    """)


@register("sql_exists_agg", """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
GROUP BY o_orderpriority
""")
def sql_exists_agg(spark, sf):
    # TPC-H Q4 shape: correlated EXISTS over the fact child, then
    # aggregate. Catalyst plans the EXISTS as a LEFT SEMI hash join
    # (each order emitted at most once regardless of matching line
    # count), and the groupBy's partial aggregation collapses the 5
    # priority groups map-side — the final shuffle carries 5 rows per
    # partition at any scale.
    from yougile_etl_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf)
    return spark.sql("""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
        GROUP BY o_orderpriority
    """)


@register("sql_in_subquery", """
SELECT c_custkey, c_nationkey FROM customer
WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
""")
def sql_in_subquery(spark, sf):
    # Uncorrelated IN-subquery -> broadcast left-semi join against the
    # tiny dim. The null-semantics trap (NOT IN with nulls) is the
    # reason the engine surfaces IN via the planner instead of
    # hand-rolled isin() collects: Catalyst gets 3-valued logic right.
    from yougile_etl_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf)
    return spark.sql("""
        SELECT c_custkey, c_nationkey FROM customer
        WHERE c_nationkey IN (SELECT n_nationkey FROM nation
                              WHERE n_regionkey = 2)
    """)


@register("agg_having", """
SELECT o_custkey, count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS spend
FROM orders
WHERE o_custkey IS NOT NULL
GROUP BY o_custkey
HAVING count(*) >= 10
""")
def agg_having(spark, sf):
    # HAVING = post-aggregation filter. The decimal-cast sum keeps the
    # double total bit-identical across engines/partitionings (same
    # device as agg_pricing_summary).
    o = load_table(spark, sf, "orders")
    return (o.filter(F.col("o_custkey").isNotNull())
             .groupBy("o_custkey")
             .agg(F.count("*").alias("n_orders"),
                  F.sum(_dec("o_totalprice")).cast("double").alias("spend"))
             .filter(F.col("n_orders") >= 10))


@register("freq_heavy_hitters", """
SELECT l_suppkey, count(*) AS cnt FROM lineitem
GROUP BY l_suppkey
HAVING count(*) * 200 > (SELECT count(*) FROM lineitem)
""")
def freq_heavy_hitters(spark, sf):
    # Misra-Gries two-pass heavy hitters (operators/frequency.py): the
    # oracle states the SEMANTICS (plain HAVING over a full groupBy);
    # the implementation reaches the same exact rows while shuffling
    # only per-partition sketch survivors + candidate-key rows — the
    # difference between "shuffle every distinct URL" and "shuffle 200
    # keys" at 100 TB.
    from yougile_etl_pipeline_spark.operators.frequency import heavy_hitters

    li = load_table(spark, sf, "lineitem")
    return heavy_hitters(li, "l_suppkey", 200)


@register("sql_correlated_scalar", """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
         AS small_qty_revenue,
       count(*) AS n_lines
FROM lineitem l1
WHERE l_quantity < 0.5 * (SELECT avg(l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = l1.l_partkey)
""")
def sql_correlated_scalar(spark, sf):
    # TPC-H Q17 shape: a correlated scalar aggregate per outer row.
    # Catalyst decorrelates it into one per-partkey aggregate + an
    # equi-join — the fact is scanned twice but never nested-looped.
    # Determinism note: l_quantity values are small integral doubles, so
    # per-part sums are exact in fp64 and avg = exact_sum/count is
    # bit-identical across engines/partitionings.
    from yougile_etl_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf)
    return spark.sql("""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
                 AS small_qty_revenue,
               count(*) AS n_lines
        FROM lineitem l1
        WHERE l_quantity < 0.5 * (SELECT avg(l_quantity) FROM lineitem l2
                                  WHERE l2.l_partkey = l1.l_partkey)
    """)


@register("sql_having_total", """
WITH s AS (
  SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS rev
  FROM lineitem GROUP BY l_suppkey
), t AS (SELECT SUM(rev) AS total FROM s)
SELECT l_suppkey, CAST(rev AS DOUBLE) AS revenue
FROM s, t WHERE rev * 1000 > total * 11
""")
def sql_having_total(spark, sf):
    # TPC-H Q11 shape: keep groups whose share of the GLOBAL total
    # exceeds a threshold. The total re-aggregates the per-group sums
    # (tiny — never rescans the fact) and broadcasts as a one-row cross
    # join. The share test is decimal-exact integer arithmetic
    # (rev*1000 > total*11), so the cut line is identical across
    # engines — a float `rev > 0.011*total` would wobble at the
    # boundary.
    li = load_table(spark, sf, "lineitem")
    s = (li.groupBy("l_suppkey")
           .agg(F.sum(_dec("l_extendedprice")).alias("rev")))
    total = s.agg(F.sum("rev").alias("total"))
    return (s.crossJoin(F.broadcast(total))
             .filter(F.col("rev") * 1000 > F.col("total") * 11)
             .select("l_suppkey", F.col("rev").cast("double")
                     .alias("revenue")))


@register("events_session_native", """
WITH x AS (
  SELECT user_id, ts, value, event_id,
         lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_ms
  FROM events
), y AS (
  SELECT *, CASE WHEN prev_ms IS NULL
                   OR epoch_ms(ts) - prev_ms > 1800000
                 THEN 1 ELSE 0 END AS brk
  FROM x
), z AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM y
)
SELECT user_id,
       epoch_ms(MIN(ts)) AS session_start_ms,
       epoch_ms(MAX(ts)) + 1800000 AS session_end_ms,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS session_value
FROM z GROUP BY user_id, sid
""")
def events_session_native(spark, sf):
    # Spark-native session windows (F.session_window): the engine's
    # built-in gap sessionization — one shuffle on user_id, sessions
    # merged inside the aggregate (no window-function pre-pass), and the
    # SAME groupBy works under Structured Streaming with a watermark.
    # Boundary semantics (probed, locked by the oracle): an event at
    # exactly prev_ts + gap MERGES; a new session needs gap strictly
    # exceeded. Oracle = classic gaps-and-islands SQL.
    ev = load_table(spark, sf, "events")
    return (ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(F.col("value").cast("decimal(20,6)"))
                    .cast("double").alias("session_value"))
              .select("user_id",
                      F.unix_millis("session_window.start")
                       .alias("session_start_ms"),
                      F.unix_millis("session_window.end")
                       .alias("session_end_ms"),
                      "n_events", "session_value"))


@register("events_time_rollup", """
SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour'
            WHEN GROUPING(d) = 0 THEN 'day' ELSE 'month' END AS granularity,
       epoch_ms(COALESCE(h, d, m)) AS bucket_ms,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
FROM (SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
             date_trunc('month', ts) AS m, value FROM events)
GROUP BY GROUPING SETS ((h), (d), (m))
""")
def events_time_rollup(spark, sf):
    # Hypertable-style multi-granularity rollup: hourly + daily + monthly
    # aggregates of the event stream in ONE pass via the native
    # DataFrame groupingSets API (the SQL twin is agg_grouping_sets).
    # Spark expands the sets then partially aggregates map-side, so the
    # shuffle carries one row per (granularity, bucket) — vs three
    # full scans if each granularity ran as its own job. At 100 TB the
    # scan dominates: 3x fewer scans is the whole win.
    ev = load_table(spark, sf, "events")
    b = ev.select(F.date_trunc("hour", "ts").alias("h"),
                  F.date_trunc("day", "ts").alias("d"),
                  F.date_trunc("month", "ts").alias("m"), "value")
    g = (b.groupingSets([["h"], ["d"], ["m"]], "h", "d", "m")
          .agg(F.count(F.lit(1)).alias("n_events"),
               F.sum(F.col("value").cast("decimal(20,6)")).cast("double")
                .alias("total_value"),
               F.grouping("h").alias("__gh"),
               F.grouping("d").alias("__gd")))
    return g.select(
        F.when(F.col("__gh") == 0, "hour")
         .when(F.col("__gd") == 0, "day")
         .otherwise("month").alias("granularity"),
        F.unix_millis(F.coalesce("h", "d", "m")).alias("bucket_ms"),
        "n_events", "total_value")


@register("sql_lateral_topk", """
SELECT n_name, l.c_custkey, l.c_acctbal
FROM nation, LATERAL (
  SELECT c_custkey, c_acctbal FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) l
""")
def sql_lateral_topk(spark, sf):
    # Correlated LATERAL subquery with ORDER BY + LIMIT: per-dim-row
    # top-k without a window function. Catalyst decorrelates to a
    # ranked join (the subquery never executes once per nation row);
    # the (acctbal, custkey) total order makes the k rows deterministic.
    from yougile_etl_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf)
    return spark.sql("""
        SELECT n_name, l.c_custkey, l.c_acctbal
        FROM nation, LATERAL (
          SELECT c_custkey, c_acctbal FROM customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) l
    """)


@register("sql_recursive_spine", """
WITH RECURSIVE d(day) AS (
  SELECT DATE '1995-01-01'
  UNION ALL SELECT day + 1 FROM d WHERE day < DATE '1995-01-31')
SELECT strftime(d.day, '%Y-%m-%d') AS day_iso,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
FROM d LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = d.day
GROUP BY d.day
""")
def sql_recursive_spine(spark, sf):
    # Recursive CTE (new SQL surface in Spark 4): generate a calendar
    # spine without a calendar table, then left-join per-day order
    # counts — gap days survive with 0, which a plain GROUP BY over
    # orders can never produce. The recursion is driver-tiny (31 rows);
    # the fact-side count partially aggregates before the join.
    from yougile_etl_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf)
    return spark.sql("""
        WITH RECURSIVE d(day) AS (
          SELECT DATE '1995-01-01'
          UNION ALL SELECT date_add(day, 1) FROM d
          WHERE day < DATE '1995-01-31')
        SELECT date_format(d.day, 'yyyy-MM-dd') AS day_iso,
               count(o.o_orderkey) AS n_orders
        FROM d LEFT JOIN orders o ON to_date(o.o_orderdate) = d.day
        GROUP BY d.day
    """)


@register("j_salted_skew", """
SELECT l_orderkey, l_linenumber, l_suppkey AS suppkey, s_name
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
""")
def j_salted_skew(spark, sf):
    # Skew-resistant salted join, oracle-proven identical to the plain
    # equi-join it replaces (salting is an execution strategy, not a
    # semantics change): the big side gets a row-hash salt in [0,8), the
    # dim side replicates x8, and the (key, salt) join spreads any hot
    # key over 8 reducers. For hot keys AQE's skew splitting can't fix.
    from yougile_etl_pipeline_spark.operators.relational import salted_join

    t = load_tables(spark, sf, ("lineitem", "supplier"))
    li = t["lineitem"].select("l_orderkey", "l_linenumber",
                              F.col("l_suppkey").alias("suppkey"))
    supp = t["supplier"].select(F.col("s_suppkey").alias("suppkey"),
                                "s_name")
    return salted_join(li, supp, "suppkey", salt=8)


@register("sql_disjunctive_join", """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
       AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
       AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30
       AND p_size BETWEEN 1 AND 15)
""")
def sql_disjunctive_join(spark, sf):
    # TPC-H Q19 shape: OR-of-conjunctions mixing both join sides.
    # Catalyst factors the single-sided conjuncts out of the
    # disjunction (p_brand IN (...), l_quantity <= 30, p_size <= 15)
    # and pushes them below the join into each scan, so the join probes
    # a pre-filtered fraction of both tables; the residual disjunction
    # evaluates post-join in codegen. The decimal-cast revenue keeps
    # the sum bit-identical across engines.
    t = load_tables(spark, sf, ("lineitem", "part"))
    li, p = t["lineitem"], t["part"]
    joined = li.join(p, li.l_partkey == p.p_partkey)
    band = (
        ((F.col("p_brand") == "Brand#12")
         & F.col("l_quantity").between(1, 11)
         & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23")
           & F.col("l_quantity").between(10, 20)
           & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#34")
           & F.col("l_quantity").between(20, 30)
           & F.col("p_size").between(1, 15)))
    return joined.filter(band).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
              .cast("decimal(20,6)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"))


@register("sql_market_share", """
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(CAST(SUM(CASE WHEN n_regionkey = 2
                          THEN CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(20,6))
                          ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE)
            / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(20,6))) AS DOUBLE)
            AS DOUBLE) AS region2_share,
       count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY year(o_orderdate)
""")
def sql_market_share(spark, sf):
    # TPC-H Q8 shape: a conditional-aggregate ratio (one region's share
    # of total revenue per year) — numerator and denominator from the
    # SAME pass via CASE inside SUM, never two scans. Both sums are
    # decimal-exact; the single IEEE division of two identical doubles
    # is then bit-deterministic across engines.
    t = load_tables(spark, sf,
                    ("lineitem", "orders", "customer", "nation"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(20,6)")
    joined = (t["lineitem"]
              .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
              .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(t["nation"]),
                    F.col("c_nationkey") == F.col("n_nationkey")))
    zero = F.lit(0).cast("decimal(20,6)")
    return (joined
            .groupBy(F.year("o_orderdate").alias("order_year"))
            .agg((F.sum(F.when(F.col("n_regionkey") == 2, rev)
                        .otherwise(zero)).cast("double")
                  / F.sum(rev).cast("double")).alias("region2_share"),
                 F.count(F.lit(1)).alias("n_lines")))


@register("agg_collect_sorted", """
SELECT o_orderpriority,
       array_to_string(list_sort(list(o_orderkey)), ' ') AS order_keys,
       count(*) AS n
FROM orders WHERE o_orderkey % 500 = 0
GROUP BY o_orderpriority
""")
def agg_collect_sorted(spark, sf):
    # Nested-result aggregation: collect_list is the one Spark aggregate
    # whose raw output is partition-order-DEPENDENT — array_sort
    # restores determinism, which is exactly why the engine exposes the
    # sorted form as the blessed surface (an unsorted collect_list can
    # never be oracle-paired or reproducibly diffed). The sorted array is
    # serialized to a space-joined string at the query boundary — the
    # certification driver hashes scalar cells only (CORRECTNESS_r03).
    o = load_table(spark, sf, "orders")
    return (o.filter(F.col("o_orderkey") % 500 == 0)
             .groupBy("o_orderpriority")
             .agg(F.array_join(F.array_sort(F.collect_list("o_orderkey"))
                                .cast("array<string>"), " ")
                   .alias("order_keys"),
                  F.count(F.lit(1)).alias("n")))


@register("f_null_functions", """
SELECT o_orderkey,
       nullif(o_orderstatus, 'O') AS status_or_null,
       ifnull(o_custkey, -1) AS custkey_filled,
       CASE WHEN o_custkey IS NOT NULL THEN 'known' ELSE 'unknown' END
         AS custkey_label,
       coalesce(CAST(o_custkey AS VARCHAR), o_orderstatus, 'none')
         AS first_present
FROM orders
""")
def f_null_functions(spark, sf):
    # The null-handling scalar family beyond F1's two-arg coalesce:
    # nullif (sentinel -> NULL), nvl (NULL -> sentinel), nvl2
    # (three-valued dispatch), multi-arg coalesce with mixed types
    # pinned to string explicitly (implicit cross-type coercion differs
    # between engines; explicit casts don't).
    o = load_table(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.nullif("o_orderstatus", F.lit("O")).alias("status_or_null"),
        F.nvl(F.col("o_custkey"), F.lit(-1)).alias("custkey_filled"),
        F.nvl2(F.col("o_custkey"), F.lit("known"), F.lit("unknown"))
         .alias("custkey_label"),
        F.coalesce(F.col("o_custkey").cast("string"),
                   F.col("o_orderstatus"), F.lit("none"))
         .alias("first_present"))


@register("sql_q3_shipping_priority", """
SELECT o_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""")
def sql_q3_shipping_priority(spark, sf):
    # TPC-H Q3: segment filter pushed to the customer scan, both date
    # filters pushed to their scans, 3-way join, top-10 by revenue via
    # TakeOrdered (never a global sort). (o_orderkey tie-break makes
    # the LIMIT deterministic.)
    t = load_tables(spark, sf, ("customer", "orders", "lineitem"))
    cut = F.lit("1995-03-15 00:00:00").cast("timestamp")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(20,6)")
    return (t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
            .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
            .filter(F.col("o_orderdate") < cut)
            .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
            .filter(F.col("l_shipdate") > cut)
            .groupBy("o_orderkey", "o_orderdate")
            .agg(F.sum(rev).cast("double").alias("revenue"))
            .select("o_orderkey", "revenue",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                     .alias("order_date"))
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
            .limit(10))


@register("sql_q14_promo_share", """
SELECT CAST(CAST(SUM(CASE WHEN p_type LIKE '%BRUSHED%'
                          THEN CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(20,6))
                          ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE)
            / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(20,6))) AS DOUBLE) AS DOUBLE)
         AS brushed_share,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1995-02-01 00:00:00'
""")
def sql_q14_promo_share(spark, sf):
    # TPC-H Q14 shape: one category's revenue share in a date window —
    # CASE-in-SUM single pass, decimal-exact sums, one IEEE division.
    t = load_tables(spark, sf, ("lineitem", "part"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(20,6)")
    zero = F.lit(0).cast("decimal(20,6)")
    lo = F.lit("1995-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1995-02-01 00:00:00").cast("timestamp")
    return (t["lineitem"]
            .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
            .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
            .agg((F.sum(F.when(F.col("p_type").like("%BRUSHED%"), rev)
                        .otherwise(zero)).cast("double")
                  / F.sum(rev).cast("double")).alias("brushed_share"),
                 F.count(F.lit(1)).alias("n_lines")))


@register("sql_q16_supplier_cnt", """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_size IN (9, 14, 23)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_suppkey % 13 = 0)
GROUP BY p_brand, p_size
""")
def sql_q16_supplier_cnt(spark, sf):
    # TPC-H Q16 shape: NOT IN subquery -> Catalyst's null-aware anti
    # join (the plan that gets 3-valued NOT IN right — a hand-rolled
    # left-anti would silently differ if the subquery ever produced a
    # NULL), then distinct-count per group.
    from yougile_etl_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf)
    return spark.sql("""
        SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM part JOIN lineitem ON p_partkey = l_partkey
        WHERE p_size IN (9, 14, 23)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_suppkey % 13 = 0)
        GROUP BY p_brand, p_size
    """)


@register("sql_q22_dormant_rich", """
SELECT substr(c_name, 10, 2) AS name_code,
       count(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE) AS total_bal
FROM customer c
WHERE CAST(c_acctbal AS DECIMAL(20,6))
      * (SELECT count(*) FROM customer WHERE c_acctbal > 0)
      > (SELECT SUM(CAST(c_acctbal AS DECIMAL(20,6))) FROM customer
         WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY substr(c_name, 10, 2)
""")
def sql_q22_dormant_rich(spark, sf):
    # TPC-H Q22 shape: scalar-subquery threshold + NOT EXISTS anti join
    # + grouped aggregate in one statement — the composite the planner
    # must decorrelate twice. Determinism: "bal > avg" is rewritten as
    # "bal*count > sum" in exact DECIMAL arithmetic — a float avg is
    # summation-order-dependent in the last ulp, and a customer sitting
    # exactly on the boundary would flip between engines.
    from yougile_etl_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf)
    return spark.sql("""
        SELECT substr(c_name, 10, 2) AS name_code,
               count(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE)
                 AS total_bal
        FROM customer c
        WHERE CAST(c_acctbal AS DECIMAL(20,6))
              * (SELECT count(*) FROM customer WHERE c_acctbal > 0)
              > (SELECT SUM(CAST(c_acctbal AS DECIMAL(20,6)))
                 FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY substr(c_name, 10, 2)
    """)


@register("sql_parameterized", """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS total
FROM orders
WHERE o_totalprice > 100000.0 AND o_orderstatus = 'O'
GROUP BY o_orderpriority
""")
def sql_parameterized(spark, sf):
    # Named-parameter SQL (spark.sql(..., args={...})): the
    # injection-safe templating surface — parameters bind as typed
    # literals in the plan (constant-folded, pushdown-eligible), never
    # string-spliced. The oracle states the bound form.
    from yougile_etl_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf)
    return spark.sql("""
        SELECT o_orderpriority, count(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE)
                 AS total
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
    """, args={"min_price": 100000.0, "status": "O"})


@register("f_try_arithmetic", """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_discount = 0 THEN NULL
            ELSE l_extendedprice / l_discount END AS price_per_discount,
       TRY_CAST(l_returnflag AS INTEGER) AS flag_as_int,
       CASE WHEN l_quantity = 0 THEN NULL
            ELSE l_extendedprice / l_quantity END AS unit_price
FROM lineitem WHERE l_orderkey < 300
""")
def f_try_arithmetic(spark, sf):
    # Error-safe arithmetic: try_divide / try_cast return NULL where
    # strict (ANSI) evaluation would raise — the semantics a pipeline
    # wants for dirty data (quarantine the NULLs downstream rather than
    # kill the job). Oracle mirrors with CASE guards / TRY_CAST. Both
    # divisions stay double/double: ONE IEEE division of identical
    # operands is bit-deterministic, whereas a decimal/decimal quotient
    # is rounded to an engine-specific result scale (Spark and DuckDB
    # pick different scales) and diverges after the double cast —
    # caught by the oracle on first registration.
    li = load_table(spark, sf, "lineitem").filter(F.col("l_orderkey") < 300)
    return li.select(
        "l_orderkey", "l_linenumber",
        F.try_divide("l_extendedprice", "l_discount")
         .alias("price_per_discount"),
        F.try_to_number("l_returnflag", F.lit("99")).cast("int")
         .alias("flag_as_int"),
        F.try_divide("l_extendedprice", "l_quantity")
         .alias("unit_price"))


@register("win_first_last_ignorenulls", """
SELECT o_orderkey, o_custkey,
       first_value(o_custkey IGNORE NULLS) OVER w AS first_known_cust,
       last_value(o_custkey IGNORE NULLS) OVER w AS last_known_cust,
       count(o_custkey) OVER w AS known_so_far
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")
def win_first_last_ignorenulls(spark, sf):
    # IGNORE NULLS window navigation — the gap-tolerant "carry the last
    # known value" primitive (same family resample_ffill builds on).
    # The growing ROWS frame makes first/last deterministic given the
    # (status, orderkey) total order.
    from pyspark.sql.window import Window

    o = load_table(spark, sf, "orders")
    w = (Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return o.select(
        "o_orderkey", "o_custkey",
        F.first("o_custkey", ignorenulls=True).over(w)
         .alias("first_known_cust"),
        F.last("o_custkey", ignorenulls=True).over(w)
         .alias("last_known_cust"),
        F.count("o_custkey").over(w).alias("known_so_far"))


@register("agg_median_split", """
WITH med AS (
  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS p50
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderkey, o.o_orderpriority,
       o.o_totalprice > m.p50 AS above_median
FROM orders o JOIN med m ON o.o_orderpriority = m.o_orderpriority
""")
def agg_median_split(spark, sf):
    # Quantile bucketing: label every row against its GROUP's median —
    # one tiny aggregate (5 rows) broadcast-joined back to the facts,
    # the aggregate-then-rejoin shape every feature-engineering
    # pipeline uses (a windowed percentile over the whole fact would
    # sort each group instead). Spark percentile and DuckDB
    # quantile_cont share the same interpolation (verified bit-identical
    # on this data — see module docstring), so the > comparison is
    # deterministic.
    o = load_table(spark, sf, "orders")
    med = (o.groupBy("o_orderpriority")
            .agg(F.percentile("o_totalprice", 0.5).alias("p50")))
    return (o.join(F.broadcast(med), "o_orderpriority")
             .select("o_orderkey", "o_orderpriority",
                     (F.col("o_totalprice") > F.col("p50"))
                     .alias("above_median")))


@register("win_time_range_frame", """
SELECT o_custkey, o_orderkey,
       count(*) OVER w AS n_trailing_30d,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) OVER w AS DOUBLE)
         AS spend_trailing_30d
FROM orders WHERE o_custkey IS NOT NULL
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
""")
def win_time_range_frame(spark, sf):
    # Time-INTERVAL RANGE frame: the trailing-30-days rolling metric
    # WITHOUT resampling to a grid first (win_range_frame covers
    # numeric ranges; this is the event-time variant). RANGE frames are
    # value-based, so same-date peers share one frame — deterministic
    # under any tie order, which is what makes it oracle-pairable.
    o = load_table(spark, sf, "orders") \
        .filter(F.col("o_custkey").isNotNull())
    # expressed via SQL exprs: the DataFrame Window.rangeBetween API
    # takes only numeric offsets, the INTERVAL frame needs the SQL form
    return o.selectExpr(
        "o_custkey", "o_orderkey",
        """count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
           RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
           AS n_trailing_30d""",
        """CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6)))
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate
           RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS spend_trailing_30d""")


@register("f_array_set_ops", """
SELECT d1.doc_id,
       array_to_string(
         list_sort(list_intersect(string_split(d1.text, ' '),
                                  string_split(d2.text, ' '))), ' ')
         AS shared_tokens,
       CAST(len(list_distinct(string_split(d1.text, ' '))) AS INTEGER)
         AS n_distinct_tokens
FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
WHERE d1.doc_id % 50 = 0
""")
def f_array_set_ops(spark, sf):
    # Array set algebra (intersect/distinct) on tokenized text — result
    # arrays are SORTED before comparison because each engine's
    # set-operation output order is an implementation detail (Spark
    # preserves left-operand order, DuckDB doesn't guarantee one), then
    # serialized to a space-joined string at the query boundary — the
    # certification driver hashes scalar cells only (CORRECTNESS_r03).
    docs = load_table(spark, sf, "documents")
    d1 = docs.filter(F.col("doc_id") % 50 == 0) \
        .select(F.col("doc_id"), F.split("text", " ").alias("t1"))
    d2 = docs.select((F.col("doc_id") - 1).alias("doc_id"),
                     F.split("text", " ").alias("t2"))
    return (d1.join(d2, "doc_id")
            .select("doc_id",
                    F.array_join(
                        F.array_sort(F.array_intersect("t1", "t2")), " ")
                     .alias("shared_tokens"),
                    F.size(F.array_distinct("t1"))
                     .alias("n_distinct_tokens")))


@register("sql_q10_returned_items", """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(20,6))) AS DOUBLE) AS lost_revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
""")
def sql_q10_returned_items(spark, sf):
    # TPC-H Q10: revenue lost to returns per customer — the return-flag
    # filter pushes to the lineitem scan, nation broadcasts, and the
    # top-20 is TakeOrdered over the grouped result (c_custkey
    # tie-break pins the LIMIT).
    t = load_tables(spark, sf,
                    ("customer", "orders", "lineitem", "nation"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(20,6)")
    return (t["customer"]
            .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
            .join(t["lineitem"].filter(F.col("l_returnflag") == "R"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(t["nation"]),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.sum(rev).cast("double").alias("lost_revenue"))
            .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey"))
            .limit(20))


@register("agg_sufficient_stats", """
WITH scaled AS (
  SELECT CAST(CAST(l_quantity AS DECIMAL(19,3)) * 1000 AS BIGINT) AS qm,
         CAST(CAST(l_extendedprice AS DECIMAL(19,2)) * 100 AS BIGINT) AS pc
  FROM lineitem
), s AS (
  SELECT count(*) AS n,
         CAST(SUM(qm) AS DOUBLE) / 1000.0 AS sx,
         CAST(SUM(pc) AS DOUBLE) / 100.0 AS sy,
         CAST(SUM(qm * pc) AS DOUBLE) / 100000.0 AS sxy,
         CAST(SUM(qm * qm) AS DOUBLE) / 1000000.0 AS sxx
  FROM scaled
)
SELECT n, sx, sy, sxy, sxx,
       (sxy - sx * sy / n) / (n - 1) AS covar_qty_price
FROM s
""")
def agg_sufficient_stats(spark, sf):
    # Covariance from SUFFICIENT STATISTICS (n, Σx, Σy, Σxy, Σxx) —
    # the mergeable form: per-partition stats sum exactly (scaled
    # integers), so the same numbers fall out at any partitioning or as
    # incremental batch merges, then a handful of IEEE ops on identical
    # doubles is bit-deterministic. The built-in F.covar_samp/F.corr accumulate in
    # floats with engine-specific update order — statistically equal,
    # bit-different, never oracle-pairable. Caveat discovered on first
    # registration: even identical formulas can diverge when one engine
    # contracts a*b - c into FMA (DuckDB did, for the correlation
    # denominator sxx - sx*sx/n) — keep cross-engine float expressions
    # to one rounding-ambiguity-free layer.
    # Scaled-INTEGER moments: decimal-x-decimal products are a
    # cross-engine minefield (DuckDB float-falls-back above precision
    # 38 and int64-overflows below 19 — both caught by the oracle on
    # registration), so quantities scale to exact bigint millis and
    # prices to cents, every product and sum stays in exact int64 range
    # (max |Sqm*pc| ~ 1.8e17 < 2^63), and ONE final division per moment
    # returns to real units. This is also the mergeable form: integer
    # partial sums combine exactly across partitions or batches.
    li = load_table(spark, sf, "lineitem")
    qm = (F.col("l_quantity").cast("decimal(19,3)") * 1000) \
        .cast("bigint")
    pc = (F.col("l_extendedprice").cast("decimal(19,2)") * 100) \
        .cast("bigint")
    scaled = li.select(qm.alias("qm"), pc.alias("pc"))
    s = scaled.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("qm").cast("double") / 1000.0).alias("sx"),
        (F.sum("pc").cast("double") / 100.0).alias("sy"),
        (F.sum(F.col("qm") * F.col("pc")).cast("double") / 100000.0)
        .alias("sxy"),
        (F.sum(F.col("qm") * F.col("qm")).cast("double") / 1000000.0)
        .alias("sxx"))
    return s.select(
        "n", "sx", "sy", "sxy", "sxx",
        ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
         / (F.col("n") - 1)).alias("covar_qty_price"))


@register("agg_listagg", """
SELECT c_nationkey,
       string_agg(c_name, ',' ORDER BY c_acctbal DESC, c_name) AS top_names,
       count(*) AS n
FROM customer
WHERE c_acctbal > 9900 AND c_nationkey IS NOT NULL
GROUP BY c_nationkey
""")
def agg_listagg(spark, sf):
    # String aggregation (listagg, new in Spark 4) — the classic
    # report-building aggregate. WITHIN GROUP (ORDER BY balance DESC,
    # name) makes the concatenation order total, so the string is
    # deterministic and oracle-pairable (an unordered listagg is
    # partition-order-dependent, same trap as raw collect_list).
    from yougile_etl_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf)
    return spark.sql("""
        SELECT c_nationkey,
               listagg(c_name, ',')
                 WITHIN GROUP (ORDER BY c_acctbal DESC, c_name)
                 AS top_names,
               count(*) AS n
        FROM customer
        WHERE c_acctbal > 9900 AND c_nationkey IS NOT NULL
        GROUP BY c_nationkey
    """)


@register("agg_mode_per_group", """
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
  FROM orders GROUP BY o_orderstatus, o_orderpriority
), r AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                               ORDER BY cnt DESC, o_orderpriority) AS rn
  FROM c
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_count
FROM r WHERE rn = 1
""")
def agg_mode_per_group(spark, sf):
    # Per-group MODE with a deterministic tie-break (count DESC, then
    # value) — the built-in mode() aggregate resolves ties in
    # engine-/partition-dependent order, so the certified surface is
    # the count + row_number formulation: two shuffles, both on small
    # grouped data, and every tie broken by a total order.
    from pyspark.sql.window import Window

    o = load_table(spark, sf, "orders")
    c = (o.groupBy("o_orderstatus", "o_orderpriority")
          .agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.partitionBy("o_orderstatus") \
        .orderBy(F.col("cnt").desc(), F.col("o_orderpriority"))
    return (c.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1)
             .select("o_orderstatus",
                     F.col("o_orderpriority").alias("mode_priority"),
                     F.col("cnt").alias("mode_count")))
