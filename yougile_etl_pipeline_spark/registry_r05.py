"""Round-5 query registrations — function-surface completions plus
time-series / graph / corpus ops.

Same determinism contract as registry.py's module docstring:
exact-integer or DECIMAL aggregation wherever partition order could
touch a float, fixed-order IEEE expressions for derived doubles
(identical shape on both engines ⇒ identical bits), total-order
tie-breaks on every top-k, identical aliases both sides.

Portability notes specific to this module:

* Timestamps here carry sub-second precision (testdata events.ts is
  microsecond-grained), so second-level gap math would diverge between
  Spark's `unix_timestamp` (truncates) and DuckDB's `date_diff`
  (boundary counts) — gap/epoch math uses `unix_micros`/`epoch_us`,
  exact BIGINTs on both engines.
* DuckDB `regexp_replace` is first-match by default — every oracle
  regex replace passes the `'g'` flag to match Spark's replace-all.
* Moments/correlation are computed from exact DECIMAL/BIGINT
  sufficient statistics cast to double at the end, then combined by
  the same IEEE +,×,÷,sqrt expression tree on both engines — never by
  a float aggregate whose accumulation order differs.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from yougile_etl_pipeline_spark.operators.graph import triangle_count
from yougile_etl_pipeline_spark.operators.text import tokens
from yougile_etl_pipeline_spark.registry_base import register
from yougile_etl_pipeline_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Function surface: bitwise / hash / string / datetime
# ---------------------------------------------------------------------------

@register("f_bitwise_functions", """
SELECT o_orderkey,
  o_orderkey & 255 AS k_and,
  o_orderkey | 4096 AS k_or,
  xor(o_orderkey, 255) AS k_xor,
  (o_orderkey & 1023) << 3 AS k_shl,
  o_orderkey >> 2 AS k_shr,
  CAST(bit_count(o_orderkey) AS INTEGER) AS k_bits
FROM orders
""")
def f_bitwise_functions(spark, sf):
    # Bit manipulation surface (flag fields, hash mixing, bucket
    # masks): AND/OR/XOR/shifts/popcount — all exact int64 ops, fully
    # codegen'd JVM expressions, map-only.
    o = load_table(spark, sf, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("k_and"),
        k.bitwiseOR(F.lit(4096)).alias("k_or"),
        k.bitwiseXOR(F.lit(255)).alias("k_xor"),
        F.shiftleft(k.bitwiseAND(F.lit(1023)), 3).alias("k_shl"),
        F.shiftright(k, 2).alias("k_shr"),
        F.bit_count(k).alias("k_bits"))


@register("f_hash_functions", """
SELECT doc_id,
  md5(text) AS text_md5,
  sha256(text) AS text_sha256,
  md5(source || '|' || text) AS keyed_md5
FROM documents
""")
def f_hash_functions(spark, sf):
    # Cryptographic digest surface — the fingerprint primitives every
    # dedup/caching layer keys on (cf. dedup_exact's md5 fingerprints).
    # Both engines emit lowercase hex; map-only.
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
        F.md5(F.concat(F.col("source"), F.lit("|"), F.col("text")))
         .alias("keyed_md5"))


@register("f_string_pad_translate", """
SELECT p_partkey,
  translate(p_name, 'aeiou', '12345') AS name_translated,
  rpad(p_brand, 12, '.') AS brand_rpad,
  split_part(p_type, ' ', 1) AS type_first_word,
  repeat(substring(p_name, 1, 4), 3) AS name_head_x3,
  CAST(starts_with(p_name, 'a') AS INTEGER) AS starts_a
FROM part
""")
def f_string_pad_translate(spark, sf):
    # String-manipulation surface beyond f_string_functions:
    # translate / rpad / split_part / repeat / prefix test. All
    # map-only codegen expressions.
    p = load_table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.translate(F.col("p_name"), "aeiou", "12345")
         .alias("name_translated"),
        F.rpad(F.col("p_brand"), 12, ".").alias("brand_rpad"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1))
         .alias("type_first_word"),
        F.repeat(F.substring(F.col("p_name"), 1, 4), 3)
         .alias("name_head_x3"),
        F.startswith(F.col("p_name"), F.lit("a")).cast("int")
         .alias("starts_a"))


@register("f_datetime_truncs", """
SELECT event_id,
  strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
  strftime(date_trunc('month', ts), '%Y-%m-%d') AS month_start,
  strftime(date_trunc('quarter', ts), '%Y-%m-%d') AS quarter_start,
  strftime(last_day(ts), '%Y-%m-%d') AS month_end,
  CAST(isodow(ts) AS INTEGER) AS weekday_iso,
  CAST(hour(ts) AS INTEGER) AS event_hour
FROM events
""")
def f_datetime_truncs(spark, sf):
    # Calendar-boundary surface: week/month/quarter truncation (both
    # engines start weeks on Monday), last_day, ISO weekday
    # (Monday=1: Spark's weekday() is Monday=0, so +1 = DuckDB's
    # isodow), hour extraction. Session TZ is pinned UTC (session.py)
    # so truncation is tz-stable. Map-only.
    ev = load_table(spark, sf, "events")
    ts = F.col("ts")
    return ev.select(
        "event_id",
        F.date_format(F.date_trunc("week", ts), "yyyy-MM-dd")
         .alias("week_start"),
        F.date_format(F.date_trunc("month", ts), "yyyy-MM-dd")
         .alias("month_start"),
        F.date_format(F.date_trunc("quarter", ts), "yyyy-MM-dd")
         .alias("quarter_start"),
        F.date_format(F.last_day(ts), "yyyy-MM-dd").alias("month_end"),
        (F.weekday(ts) + F.lit(1)).cast("int").alias("weekday_iso"),
        F.hour(ts).cast("int").alias("event_hour"))


# ---------------------------------------------------------------------------
# Aggregate surface: min_by/max_by, exact moments, weighted average
# ---------------------------------------------------------------------------

# Unique total-order key for argmin/argmax determinism: exact cents
# (DECIMAL(20,2)*100 → BIGINT) shifted left of the key space, orderkey
# as tie-break. max ~6e7 cents · 1e10 + 6e5 ≪ int64.
_ARG_KEY = ("CAST(CAST(o_totalprice AS DECIMAL(20,2)) * 100 AS BIGINT)"
            " * 10000000000 + o_orderkey")


@register("agg_minby_maxby", f"""
SELECT o_orderstatus,
  max_by(o_orderkey, {_ARG_KEY}) AS best_order,
  min_by(o_orderkey, {_ARG_KEY}) AS worst_order,
  CAST(MAX(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS max_price,
  CAST(MIN(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS min_price
FROM orders
GROUP BY o_orderstatus
""")
def agg_minby_maxby(spark, sf):
    # Argmin/argmax aggregates — "which row holds the extreme", without
    # a join-back or a window. Ties on price are broken by orderkey
    # baked into the ordering key, so the chosen row is deterministic
    # at any partitioning (a bare max_by on a tied key is
    # engine-dependent). Map-side partial max_by applies: state is one
    # (key, value) pair per group per partition.
    o = load_table(spark, sf, "orders")
    key = (F.col("o_totalprice").cast("decimal(20,2)") * 100) \
        .cast("bigint") * F.lit(10000000000) + F.col("o_orderkey")
    dec = F.col("o_totalprice").cast("decimal(20,2)")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", key).alias("best_order"),
        F.min_by("o_orderkey", key).alias("worst_order"),
        F.max(dec).cast("double").alias("max_price"),
        F.min(dec).cast("double").alias("min_price"))


@register("agg_corr_exact", """
WITH s AS (
  SELECT event_type,
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
    CAST(SUM(user_id) AS DOUBLE) AS sy,
    CAST(SUM(CAST(value AS DECIMAL(18,4))
             * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
    CAST(SUM(user_id * user_id) AS DOUBLE) AS syy,
    CAST(SUM(CAST(value AS DECIMAL(18,4)) * user_id) AS DOUBLE) AS sxy
  FROM events GROUP BY event_type)
SELECT event_type,
  (n * sxy - sx * sy)
    / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_value_user,
  sqrt((n * sxx - sx * sx) / (n * (n - 1.0))) AS stddev_value
FROM s
""")
def agg_corr_exact(spark, sf):
    # Distributed Pearson correlation + sample stddev via EXACT
    # mergeable sufficient statistics (companion to
    # agg_sufficient_stats): the five sums are DECIMAL/BIGINT — exact,
    # associative, partition-order-free — and only the FINAL combine
    # is IEEE arithmetic, in an identical expression tree on both
    # engines, so the doubles match to the last bit (a float corr()
    # aggregate would drift with accumulation order). One shuffle of
    # 6-number states per group; map-side partial aggregation applies.
    ev = load_table(spark, sf, "events")
    v = F.col("value").cast("decimal(18,4)")
    u = F.col("user_id")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(v).cast("double").alias("sx"),
        F.sum(u).cast("double").alias("sy"),
        F.sum(v * v).cast("double").alias("sxx"),
        F.sum(u * u).cast("double").alias("syy"),
        F.sum(v * u).cast("double").alias("sxy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "event_type",
        ((n * sxy - sx * sy)
         / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
        .alias("corr_value_user"),
        F.sqrt((n * sxx - sx * sx) / (n * (n - F.lit(1.0))))
         .alias("stddev_value"))


@register("agg_weighted_avg", """
SELECT l_returnflag,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
    / CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
    AS qty_weighted_price,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM lineitem
GROUP BY l_returnflag
""")
def agg_weighted_avg(spark, sf):
    # Weighted mean with exact DECIMAL numerator/denominator sums
    # (DECIMAL(12,2)² → DECIMAL(25,4), no precision overflow) and one
    # final IEEE division — partition-order-free. One shuffle into 3
    # groups, map-side partials.
    li = load_table(spark, sf, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    return li.groupBy("l_returnflag").agg(
        (F.sum(price * qty).cast("double")
         / F.sum(qty).cast("double")).alias("qty_weighted_price"),
        F.sum(qty).cast("double").alias("total_qty"))


# ---------------------------------------------------------------------------
# Window / time-series surface
# ---------------------------------------------------------------------------

@register("win_moving_avg", """
SELECT event_id, user_id,
  CAST(SUM(CAST(value AS DECIMAL(20,2))) OVER w AS DOUBLE)
    / CAST(COUNT(*) OVER w AS DOUBLE) AS mov_avg3
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""")
def win_moving_avg(spark, sf):
    # Rolling mean over the trailing 3-row frame per user — the
    # smoothing primitive for per-entity telemetry. DECIMAL frame sum
    # + one IEEE division (an AVG(double) frame would accumulate in
    # engine order). (ts, event_id) is a total order, so frames are
    # identical everywhere. One shuffle on user_id.
    ev = load_table(spark, sf, "events")
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "event_id").rowsBetween(-2, 0))
    return ev.select(
        "event_id", "user_id",
        (F.sum(F.col("value").cast("decimal(20,2)")).over(w)
          .cast("double")
         / F.count(F.lit(1)).over(w).cast("double")).alias("mov_avg3"))


@register("win_event_gaps", """
WITH g AS (
  SELECT user_id,
    epoch_us(ts) - lag(epoch_us(ts))
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events)
SELECT user_id,
  COUNT(*) AS n_events,
  COUNT(gap_us) AS n_gaps,
  MAX(gap_us) AS max_gap_us,
  CAST(SUM(gap_us) AS DOUBLE) / CAST(COUNT(gap_us) AS DOUBLE)
    AS avg_gap_us
FROM g GROUP BY user_id
""")
def win_event_gaps(spark, sf):
    # Inter-arrival statistics per user — session/engagement cadence.
    # Gaps are exact BIGINT microsecond differences (events.ts is
    # sub-second-grained, so second-truncating APIs would disagree
    # across engines — see module docstring); the mean is one IEEE
    # division over exact sums. lag + groupBy share the user_id
    # shuffle (window partitioning satisfies the aggregation's
    # clustering, so Catalyst plans ONE exchange).
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    g = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us"))
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("gap_us").alias("n_gaps"),
        F.max("gap_us").alias("max_gap_us"),
        (F.sum("gap_us").cast("double")
         / F.count("gap_us").cast("double")).alias("avg_gap_us"))


@register("win_pct_change_daily", """
WITH d AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
    CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS total
  FROM events GROUP BY event_type, date_trunc('day', ts))
SELECT event_type, day, total,
  (total - lag(total) OVER w) / lag(total) OVER w AS pct_change
FROM d
WINDOW w AS (PARTITION BY event_type ORDER BY day)
""")
def win_pct_change_daily(spark, sf):
    # Day-over-day percent change per series — the metrics-dashboard
    # primitive. Daily totals are exact DECIMAL sums cast once; the
    # pct is the same IEEE subtract/divide both sides (first day is
    # NULL, kept). Two small shuffles (group to days, then window per
    # series over ~days rows).
    ev = load_table(spark, sf, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    d = (ev.groupBy("event_type", day.alias("day"))
           .agg(F.sum(F.col("value").cast("decimal(20,2)"))
                 .cast("double").alias("total")))
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("total").over(w)
    return d.select(
        "event_type", "day", "total",
        ((F.col("total") - prev) / prev).alias("pct_change"))


@register("events_bigram_transitions", """
WITH nxt AS (
  SELECT event_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS next_type
  FROM events)
SELECT event_type, next_type, COUNT(*) AS n
FROM nxt WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
ORDER BY n DESC, event_type, next_type
LIMIT 20
""")
def events_bigram_transitions(spark, sf):
    # Behavioral bigrams: which event follows which, per user stream —
    # the transition matrix behind funnel/markov analyses. lead() over
    # the (ts, event_id) total order, then a count over at most
    # |event_type|² keys; top-20 with full tie-break is
    # TakeOrderedAndProject (no global sort).
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type"))
    return (nxt.filter(F.col("next_type").isNotNull())
            .groupBy("event_type", "next_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "event_type", "next_type")
            .limit(20))


# ---------------------------------------------------------------------------
# Corpus ops: n-gram top-k, normalized exact dedup
# ---------------------------------------------------------------------------

@register("text_ngram_topk", """
WITH b AS (
  SELECT unnest(list_transform(
           range(1, len(string_split(text, ' '))),
           i -> string_split(text, ' ')[i] || ' '
                || string_split(text, ' ')[i+1])) AS bigram
  FROM documents)
SELECT bigram, COUNT(*) AS n
FROM b GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 25
""")
def text_ngram_topk(spark, sf):
    # Corpus-wide top-k word bigrams — the n-gram frequency pass
    # behind contamination checks, boilerplate discovery, and LM
    # eval-set overlap audits. Bigram construction is a map-only
    # array transform (no self-join); the count shuffles (gram) keys
    # with map-side partials, and top-25 (total-order tie-break) is
    # TakeOrderedAndProject. At 100 TB add a frequency-threshold
    # pre-prune (count > f_min) before collecting the tail.
    d = load_table(spark, sf, "documents")
    toks = tokens("text")
    # sequence(0, size-2) would run DESCENDING for size<2 — guard to
    # an empty int array so explode just drops those docs.
    idx = F.when(F.size(toks) >= 2,
                 F.sequence(F.lit(0), F.size(toks) - 2)) \
        .otherwise(F.array().cast("array<int>"))
    bigrams = F.transform(
        idx, lambda i: F.concat(F.get(toks, i), F.lit(" "),
                                F.get(toks, i + 1)))
    return (d.select(F.explode(bigrams).alias("bigram"))
            .groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "bigram")
            .limit(25))


@register("dedup_normalized_exact", """
WITH n AS (
  SELECT doc_id,
    md5(trim(regexp_replace(regexp_replace(lower(text),
          '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
  FROM documents)
SELECT fp, MIN(doc_id) AS keep_doc, COUNT(*) AS group_size
FROM n GROUP BY fp
""")
def dedup_normalized_exact(spark, sf):
    # Normalization-hardened exact dedup: lowercase, strip
    # punctuation, collapse whitespace, THEN fingerprint — catches the
    # near-exact copies (casing/punct drift) raw md5 dedup misses,
    # at exact-dedup cost: one shuffle of 16-byte fingerprints, never
    # text bodies. Canonical survivor = min doc_id (deterministic).
    # Regex subset is Java∩RE2-safe; DuckDB side passes 'g' (its
    # replace is first-match by default, Spark's is replace-all).
    d = load_table(spark, sf, "documents")
    norm = F.trim(F.regexp_replace(F.regexp_replace(
        F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "))
    return (d.select("doc_id", F.md5(norm).alias("fp"))
            .groupBy("fp")
            .agg(F.min("doc_id").alias("keep_doc"),
                 F.count(F.lit(1)).alias("group_size")))


# ---------------------------------------------------------------------------
# Graph: exact triangle counting
# ---------------------------------------------------------------------------

@register("graph_triangle_count", """
WITH e AS (
  SELECT DISTINCT least(doc_id % 40, (doc_id * 7 + 3) % 40) AS lo,
                  greatest(doc_id % 40, (doc_id * 7 + 3) % 40) AS hi
  FROM documents
  WHERE doc_id % 40 <> (doc_id * 7 + 3) % 40),
w AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM e e1 JOIN e e2 ON e1.hi = e2.lo)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM w JOIN e e3 ON w.a = e3.lo AND w.c = e3.hi
""")
def graph_triangle_count(spark, sf):
    # Exact triangle count via ordered wedge closure (two equi-joins,
    # each triangle generated exactly once — operators/graph.py
    # docstring has the 100 TB degree-orientation refinement). The
    # certified graph is a deterministic modular adjacency derived
    # from doc_id (the operator takes ANY (src, dst) edge DataFrame —
    # e.g. the near-dup candidate graphs from operators/dedup.py).
    d = load_table(spark, sf, "documents")
    edges = d.select((F.col("doc_id") % 40).alias("src"),
                     ((F.col("doc_id") * 7 + 3) % 40).alias("dst"))
    return triangle_count(edges)
