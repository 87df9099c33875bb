"""Round-13 query registrations.

Every entry landed with its DuckDB oracle proven bit-identical at
sf0.001 AND sf0.01 and a recorded sf0.1 wall time + plan fingerprint
(bench.py's r13 block). Same determinism contract as registry.py's
module docstring.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yougile_etl_pipeline_spark.registry_base import register
from yougile_etl_pipeline_spark.registry_ext import _toks
from yougile_etl_pipeline_spark.registry_r06 import _DUP_N
from yougile_etl_pipeline_spark.sources.tables import load_table


@register("stream_error_rate_daily", """
WITH mx AS (SELECT epoch_ms(max(ts)) AS m FROM events),
d AS (
  SELECT epoch_ms(ts) // 86400000 AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count_if(event_type = 'error') AS BIGINT) AS n_errors
  FROM events GROUP BY 1)
SELECT day, n_events, n_errors,
       n_errors * 1000000 // n_events AS error_ppm,
       n_errors * 1000000 // n_events >= 450000 AS breach
FROM d, mx WHERE (day + 1) * 86400000 <= m - 7200000
""")
def stream_error_rate_daily(spark, sf):
    # Streaming twin of events_error_rate_daily (the r12 SLO-burn
    # entry): daily tumbling windows under a 2h watermark
    # (streaming/snapshot.py::error_rate_daily_stream — one open
    # window of state per in-horizon day), drained with availableNow,
    # then the ppm/breach math in batch. Deterministic-projection
    # oracle (the stream_tumbling_counts pattern): exactly the days
    # with window end <= max(ts) - 2h flush, with counts over ALL
    # their events. Day ids are integer epoch-days of the UTC-aligned
    # window start — no calendar/TZ surface.
    from yougile_etl_pipeline_spark.streaming.snapshot import (
        run_error_rate_available_now,
    )

    d = run_error_rate_available_now(
        spark, sf, table_name="stream_error_rate_r13").select(
        F.expr("unix_millis(window_start) div 86400000").alias("day"),
        "n_events", "n_errors")
    return d.select(
        "day", "n_events", "n_errors",
        F.expr("n_errors * 1000000 div n_events").alias("error_ppm"),
        F.expr("n_errors * 1000000 div n_events >= 450000")
        .alias("breach"))


@register("events_error_burst_runs", """
WITH d AS (
  SELECT epoch_ms(ts) // 86400000 AS day,
         count_if(event_type = 'error') * 1000000 // count(*)
           >= 450000 AS breach
  FROM events GROUP BY 1),
b AS (SELECT day, day - row_number() OVER (ORDER BY day) AS grp
      FROM d WHERE breach),
runs AS (SELECT grp, CAST(count(*) AS BIGINT) AS run_len
         FROM b GROUP BY 1)
SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_days,
       CAST((SELECT count(*) FROM d WHERE breach) AS BIGINT)
         AS n_breach_days,
       CAST(COALESCE(count(*), 0) AS BIGINT) AS n_runs,
       CAST(COALESCE(MAX(run_len), 0) AS BIGINT) AS max_run_len
FROM runs
""")
def events_error_burst_runs(spark, sf):
    # SLO burn persistence: the longest CONSECUTIVE run of
    # breach days (gaps-islands on the daily SLO view — day minus its
    # breach-only row_number is constant within a run). One day-keyed
    # aggregate; every window rides the DAY-level relation (tens of
    # rows), never the events.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events").select(
        F.expr("unix_millis(ts) div 86400000").alias("day"),
        "event_type")
    d = ev.groupBy("day").agg(
        F.expr("count_if(event_type = 'error') * 1000000 div count(1) "
               ">= 450000").alias("breach"))
    b = (d.filter("breach")
         .withColumn("grp", F.col("day")
                     - F.row_number().over(Window.orderBy("day"))))
    runs = b.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len"))
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.count_if(F.col("breach")).cast("bigint").alias("n_breach_days"))
    agg = runs.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("bigint")
        .alias("n_runs"),
        F.coalesce(F.max("run_len"), F.lit(0)).cast("bigint")
        .alias("max_run_len"))
    return tot.crossJoin(F.broadcast(agg)).select(
        "n_days", "n_breach_days", "n_runs", "max_run_len")


@register("train_packing_curve", f"""
WITH chunks AS (
  SELECT d.source,
    CAST(least(32, len({_toks()}) - s + 1) AS BIGINT) AS chunk_tokens
  FROM documents d, unnest(range(1, greatest(len({_toks()}), 1) + 1, 24))
       AS t(s)
), agg AS (
  SELECT source, CAST(SUM(chunk_tokens) AS BIGINT) AS total_tokens
  FROM chunks GROUP BY 1)
SELECT source, CAST(v.seq AS BIGINT) AS seq_tokens, total_tokens,
       (total_tokens + v.seq - 1) // v.seq AS n_sequences,
       total_tokens * 1000000
         // ((total_tokens + v.seq - 1) // v.seq * v.seq)
         AS utilization_ppm
FROM agg CROSS JOIN (VALUES (128), (256), (512)) v(seq)
""")
def train_packing_curve(spark, sf):
    # The packing-efficiency lens swept across sequence lengths (the
    # sim_ivf_recall_sweep device applied to train_packing_efficiency):
    # one hash-exact query showing utilization_ppm at seq_tokens ∈
    # {128, 256, 512} per source — the curve that prices a context-
    # length decision in wasted tokens. The chunk aggregate is
    # computed ONCE and fanned out with an explode; ceiling division
    # throughout (the ADVICE r11 fix).
    from yougile_etl_pipeline_spark.operators import text as TX

    docs = load_table(spark, sf, "documents")
    chunks = (TX.chunk_documents(docs, chunk_size=32, stride=24)
              .join(docs.select("doc_id", "source"), "doc_id")
              .select("source", F.col("chunk_tokens").cast("bigint")
                      .alias("chunk_tokens")))
    agg = chunks.groupBy("source").agg(
        F.sum("chunk_tokens").cast("bigint").alias("total_tokens"))
    fanned = (agg.select(
        "source", "total_tokens",
        F.explode(F.array(F.lit(128), F.lit(256), F.lit(512)))
        .alias("sq")).select(
        "source", F.col("sq").cast("bigint").alias("seq_tokens"),
        "total_tokens"))
    return fanned.select(
        "source", "seq_tokens", "total_tokens",
        F.expr("(total_tokens + seq_tokens - 1) div seq_tokens")
        .alias("n_sequences"),
        F.expr("total_tokens * 1000000 div "
               "((total_tokens + seq_tokens - 1) div seq_tokens "
               "* seq_tokens)").alias("utilization_ppm"))


@register("quality_approx_percentile_gate", """
WITH o AS (SELECT o_orderpriority,
                  CAST(CAST(o_totalprice AS DECIMAL(20,2)) * 100
                       AS BIGINT) AS cents
           FROM orders)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       quantile_cont(cents, 0.5) AS exact_p50_cents,
       TRUE AS within_rank_bound
FROM o GROUP BY 1
""")
def quality_approx_percentile_gate(spark, sf):
    # Error-bound gate for the sketch tier (VERDICT r11 #7 seam): per
    # priority, Spark's approx_percentile(0.5, accuracy=100) must land
    # within its CONTRACTUAL rank window [0.49n, 0.51n] — verified by
    # counting the approx value's true rank interval against the
    # exact data, so the boolean is deterministic even though the
    # sketch's internal value is engine-specific (the value itself
    # never crosses the oracle boundary; the exact interpolated median
    # does). A failure here means the GK summary implementation broke
    # its guarantee — the gate a production team wants before trusting
    # approx quantiles at 100 TB.
    o = load_table(spark, sf, "orders").select(
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(20,2)") * 100)
        .cast("bigint").alias("cents"))
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("percentile(cents, 0.5D)").alias("exact_p50_cents"),
        F.expr("approx_percentile(cents, 0.5D, 100)").alias("ap"))
    ranks = (o.join(F.broadcast(g), "o_orderpriority")
             .groupBy("o_orderpriority")
             .agg(F.count_if(F.col("cents") < F.col("ap"))
                  .alias("rank_lo"),
                  F.count_if(F.col("cents") <= F.col("ap"))
                  .alias("rank_hi")))
    j = g.join(ranks, "o_orderpriority")
    gate = ((F.col("rank_hi") * 100 >= F.col("n") * 49)
            & (F.col("rank_lo") * 100 <= F.col("n") * 51))
    return j.select("o_orderpriority", "n", "exact_p50_cents",
                    gate.alias("within_rank_bound"))


@register("sketch_hll_error_gate", """
SELECT l_returnflag,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
       TRUE AS within_20pct
FROM lineitem GROUP BY 1
""")
def sketch_hll_error_gate(spark, sf):
    # The HLL++ twin of the approx-percentile gate: per return flag,
    # approx_count_distinct(rsd=0.05) must land within 20% (4×rsd) of
    # the exact distinct count. The sketch value is deterministic for
    # fixed data (HLL merge is commutative) but engine-specific, so
    # only the exact count and the PASS/FAIL decision cross the oracle
    # boundary — the assertable form of sketch_approx_distinct's
    # accuracy claim.
    #
    # Why 4×rsd and not 2×: rsd is a STANDARD DEVIATION, not a
    # contractual bound — a group can legitimately land outside ~2σ
    # (P ≈ 4.6% per group under the normal approximation, so a 2σ gate
    # over 3 flags flakes on ~13% of regenerated test corpora — ADVICE
    # r12). At 4σ the per-group tail is ~6e-5; across 3 flags the
    # accepted flake probability is ~2e-4 per testdata regeneration,
    # below every other stochastic tolerance in the suite.
    li = load_table(spark, sf, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").cast("bigint")
        .alias("exact_distinct"),
        F.expr("approx_count_distinct(l_orderkey, 0.05)").alias("ap"))
    gate = (F.abs(F.col("ap") - F.col("exact_distinct")) * 5
            <= F.col("exact_distinct"))
    return g.select("l_returnflag", "exact_distinct",
                    gate.alias("within_20pct"))


@register("mm_gif_resize_nearest", """
WITH p AS (SELECT event_id AS id,
                  10 + event_id % 6 AS w, 3 + event_id % 4 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, 28), k ->
    (id + 7 * ((k // 7) * h // 4)
        + 3 * (((k % 7) * w // 7) // 5)) % 256) AS px
  FROM p)
SELECT id AS media_id,
       CAST(7 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(list_sum(px) AS BIGINT) AS px_sum,
       CAST(list_min(px) AS INTEGER) AS px_min,
       CAST(list_max(px) AS INTEGER) AS px_max
FROM v
""")
def mm_gif_resize_nearest(spark, sf):
    # GIF thumbnails: the REAL LZW decode feeding the floor-index
    # nearest resize to a fixed 4×7 grid — output cell (r, c) takes
    # source cell ((r·h) div 4, (c·w) div 7), which the closed-form
    # oracle states directly on the synthetic signal. Map-only.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        gif_resize_stats,
        synth_gif_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return gif_resize_stats(synth_gif_payloads(ev, "event_id"),
                            dst_h=4, dst_w=7)


@register("mm_gif_flip_crop", """
WITH p AS (SELECT event_id AS id,
                  10 + event_id % 6 AS w, 3 + event_id % 4 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, 8), k ->
    (id + 7 * ((h - 2) // 2 + k // 4)
        + 3 * ((w - 1 - ((w - 4) // 2 + k % 4)) // 5)) % 256) AS px
  FROM p)
SELECT id AS media_id,
       CAST(4 AS INTEGER) AS width, CAST(2 AS INTEGER) AS height,
       CAST(list_sum(px) AS BIGINT) AS px_sum,
       CAST(list_min(px) AS INTEGER) AS px_min,
       CAST(list_max(px) AS INTEGER) AS px_max
FROM v
""")
def mm_gif_flip_crop(spark, sf):
    # GIF augmentation pair (the mm_png_flip_crop device on the LZW
    # path): horizontal mirror then centered 2×4 crop — output pixel
    # (r, c) is source (r0 + r, w − 1 − (c0 + c)), pure index
    # arithmetic the oracle states in closed form. Map-only.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        gif_flip_crop_stats,
        synth_gif_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return gif_flip_crop_stats(synth_gif_payloads(ev, "event_id"),
                               crop_h=2, crop_w=4)


@register("text_dup_span_cap_audit", f"""
WITH t AS (SELECT doc_id, {_toks()} AS toks FROM documents),
ex AS (
  SELECT doc_id, s,
         md5(array_to_string(toks[s:s+{_DUP_N - 1}], ' ')) AS fp
  FROM t, LATERAL (SELECT unnest(range(1,
           greatest(len(toks) - {_DUP_N} + 1, 0) + 1)) AS s) ls),
cnt AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM ex GROUP BY fp
        HAVING count(DISTINCT doc_id) >= 2),
cov AS (
  SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS n_covered
  FROM ex JOIN (SELECT fp FROM cnt) c USING (fp),
       LATERAL (SELECT unnest(range(s, s + {_DUP_N})) AS p) lp
  GROUP BY doc_id),
hot AS (SELECT DISTINCT doc_id
        FROM ex JOIN (SELECT fp FROM cnt WHERE nd > 3) h USING (fp)),
per AS (
  SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         CAST(COALESCE(cov.n_covered, 0) AS BIGINT) AS exact_cov,
         CAST(CASE WHEN hot.doc_id IS NOT NULL THEN len(t.toks)
              ELSE COALESCE(cov.n_covered, 0) END AS BIGINT)
           AS capped_cov
  FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id
         LEFT JOIN hot ON t.doc_id = hot.doc_id)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count_if(capped_cov > exact_cov) AS BIGINT) AS n_inflated,
       CAST(SUM(capped_cov - exact_cov) AS BIGINT) AS inflation_tokens
FROM per
""")
def text_dup_span_cap_audit(spark, sf):
    # Quality gate for the r12 max_gram_df escape hatch: run
    # dup_span_coverage exact AND capped (cap=3) over the same corpus
    # and measure exactly what the cap's upper-bound semantics cost —
    # how many docs inflate to fully-covered and by how many tokens.
    # The recall-eval pattern applied to the cap: a tuner reads this
    # before turning the knob at 100 TB. Both paths certified against
    # a single SQL twin that states the cap semantics independently.
    from yougile_etl_pipeline_spark.operators.text import (
        dup_span_coverage,
    )

    docs = load_table(spark, sf, "documents")
    exact = dup_span_coverage(docs, n=_DUP_N) \
        .select("doc_id", F.col("n_covered").alias("exact_cov"))
    capped = dup_span_coverage(docs, n=_DUP_N, max_gram_df=3) \
        .select("doc_id", F.col("n_covered").alias("capped_cov"))
    j = exact.join(capped, "doc_id")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_if(F.col("capped_cov") > F.col("exact_cov"))
        .cast("bigint").alias("n_inflated"),
        F.sum(F.col("capped_cov") - F.col("exact_cov"))
        .cast("bigint").alias("inflation_tokens"))


@register("mart_nation_trade_balance", """
WITH sup AS (
  SELECT s.s_nationkey AS nationkey,
         CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(20,6)) * 10000) AS BIGINT)
           AS supply_revenue_x10000,
         CAST(count(*) AS BIGINT) AS n_supply_lines
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1),
cust AS (
  SELECT c.c_nationkey AS nationkey,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(20,2)) * 100)
              AS BIGINT) AS customer_spend_cents,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1)
SELECT n.n_name AS nation,
       COALESCE(sup.supply_revenue_x10000, 0) AS supply_revenue_x10000,
       COALESCE(sup.n_supply_lines, 0) AS n_supply_lines,
       COALESCE(cust.customer_spend_cents, 0) AS customer_spend_cents,
       COALESCE(cust.n_orders, 0) AS n_orders
FROM nation n
LEFT JOIN sup ON n.n_nationkey = sup.nationkey
LEFT JOIN cust ON n.n_nationkey = cust.nationkey
""")
def mart_nation_trade_balance(spark, sf):
    # Two-sided nation mart: exact supply-side discounted revenue
    # (x10000-integral before the BIGINT cast — the supplier-scorecard
    # device) vs customer-side spend cents, per nation. Each side is
    # one fact aggregate keyed by a BROADCAST dim join; the final
    # assembly joins two 25-row aggregates onto the nation dim.
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier").select("s_suppkey",
                                                 "s_nationkey")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer").select("c_custkey",
                                                 "c_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    sup = (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
           .groupBy(F.col("s_nationkey").alias("nationkey"))
           .agg(F.sum(F.expr(
                "CAST(l_extendedprice * (1 - l_discount) "
                "AS DECIMAL(20,6)) * 10000")).cast("bigint")
                .alias("supply_revenue_x10000"),
                F.count(F.lit(1)).cast("bigint")
                .alias("n_supply_lines")))
    cust = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg((F.sum(F.col("o_totalprice").cast("decimal(20,2)")
                        * 100)).cast("bigint")
                 .alias("customer_spend_cents"),
                 F.count(F.lit(1)).cast("bigint").alias("n_orders")))
    z = lambda col: F.coalesce(F.col(col), F.lit(0).cast("bigint")).alias(col)  # noqa: E731
    return (n.join(F.broadcast(sup),
                   n.n_nationkey == sup.nationkey, "left")
            .join(F.broadcast(cust),
                  n.n_nationkey == cust.nationkey, "left")
            .select(F.col("n_name").alias("nation"),
                    z("supply_revenue_x10000"), z("n_supply_lines"),
                    z("customer_spend_cents"), z("n_orders")))


@register("text_dedup_survivorship", """
WITH d AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
s AS (SELECT d.*, MIN(doc_id) OVER (PARTITION BY fp) AS surv_id FROM d),
sv AS (SELECT doc_id AS surv_id, source AS survivor_source FROM d)
SELECT sv.survivor_source, s.source AS dup_source,
       CAST(count(*) AS BIGINT) AS n_removed
FROM s JOIN sv USING (surv_id)
WHERE s.doc_id != s.surv_id
GROUP BY 1, 2
""")
def text_dedup_survivorship(spark, sf):
    # Who wins dedup: the (survivor source × removed source) matrix of
    # exact dedup under the keep-min-id policy — the provenance
    # question behind any cross-crawl dedup ("did crawl B lose all its
    # overlap to crawl A?"). Fingerprint-keyed window + one key join;
    # fingerprints shuffle, never bodies.
    from pyspark.sql.window import Window

    d = load_table(spark, sf, "documents").select(
        "doc_id", "source", F.md5("text").alias("fp"))
    w = Window.partitionBy("fp")
    surv = d.withColumn("surv_id", F.min("doc_id").over(w))
    sv_src = d.select(F.col("doc_id").alias("surv_id"),
                      F.col("source").alias("survivor_source"))
    return (surv.filter(F.col("doc_id") != F.col("surv_id"))
            .join(sv_src, "surv_id")
            .groupBy("survivor_source",
                     F.col("source").alias("dup_source"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_removed")))

@register("mm_png_gray_stats", """
WITH p AS (SELECT event_id AS id,
                  6 + event_id % 5 AS w, 3 + event_id % 3 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, CAST(w * h AS BIGINT)), k ->
    (id + 13 * (k // w) + 7 * (k % w)) % 256) AS px
  FROM p)
SELECT id AS media_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(list_sum(px) AS BIGINT) AS px_sum,
       CAST(list_min(px) AS INTEGER) AS px_min,
       CAST(list_max(px) AS INTEGER) AS px_max,
       CAST(LEAST(h, 5) AS INTEGER) AS n_filter_kinds
FROM v
""")
def mm_png_gray_stats(spark, sf):
    # PNG GRAYSCALE (color type 0) through the real decode path — the
    # r13 notch on the compressed-decode tier (the r11 truecolor / r12
    # GIF-LZW precedent): chunk walk with CRC32 verification, zlib
    # inflate, all five scanline filters reconstructed at bpp=1 (the
    # Sub/Paeth left-neighbor distance changes from 3 bytes to 1 —
    # the exact piece the truecolor certificate could not exercise).
    # Distinct dimension/signal constants from the truecolor corpus so
    # profile-dispatch bugs cannot alias into a hash match. Map-only
    # mapInPandas; closed-form signal oracle.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        png_stats,
        synth_png_gray_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return png_stats(synth_png_gray_payloads(ev, "event_id"))


@register("mm_png_rgba_stats", """
WITH p AS (SELECT event_id AS id,
                  4 + event_id % 3 AS w, 3 + event_id % 4 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, CAST(w * h * 4 AS BIGINT)), k ->
    (id + 11 * (k // (w * 4)) + 5 * ((k % (w * 4)) // 4)
        + 3 * (k % 4)) % 256) AS px
  FROM p)
SELECT id AS media_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(list_sum(px) AS BIGINT) AS px_sum,
       CAST(list_min(px) AS INTEGER) AS px_min,
       CAST(list_max(px) AS INTEGER) AS px_max,
       CAST(LEAST(h, 5) AS INTEGER) AS n_filter_kinds
FROM v
""")
def mm_png_rgba_stats(spark, sf):
    # PNG RGBA (color type 6): four bytes per pixel, the alpha plane
    # riding the same filter reconstruction as the color bytes
    # (bpp=4 left-neighbor distance). With grayscale above, the
    # decoder now covers every non-palette 8-bit PNG color type; the
    # honest NotImplementedError surface shrinks to palette/sub-byte/
    # interlaced profiles and the transform-coded formats. Map-only
    # mapInPandas; closed-form signal oracle (k in range(w*h*4):
    # r = k div (w*4), c = (k mod (w*4)) div 4, ch = k mod 4).
    from yougile_etl_pipeline_spark.operators.multimodal import (
        png_stats,
        synth_png_rgba_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return png_stats(synth_png_rgba_payloads(ev, "event_id"))
@register("events_survival_km", """
WITH RECURSIVE u AS (
  SELECT user_id, min(epoch_ms(ts)) AS first_ms,
         min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)
           AS fp
  FROM events GROUP BY 1),
d AS (SELECT (fp - first_ms) // 3600000 AS dur
      FROM u WHERE fp IS NOT NULL
        AND (fp - first_ms) // 3600000 <= 48),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM u),
per AS (SELECT dur, CAST(count(*) AS BIGINT) AS deaths
        FROM d GROUP BY 1),
risk AS (SELECT dur, deaths,
  (SELECT n_users FROM n)
   - CAST(COALESCE(SUM(deaths) OVER (ORDER BY dur
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
   AS at_risk
  FROM per),
r0 AS (SELECT dur, deaths, at_risk,
              row_number() OVER (ORDER BY dur) AS rn
       FROM risk),
km AS (
  SELECT rn, dur, deaths, at_risk,
         1000000000 * (at_risk - deaths) // at_risk AS s
  FROM r0 WHERE rn = 1
  UNION ALL
  SELECT nx.rn, nx.dur, nx.deaths, nx.at_risk,
         km.s * (nx.at_risk - nx.deaths) // nx.at_risk
  FROM km JOIN r0 nx ON nx.rn = km.rn + 1)
SELECT dur, deaths, at_risk, s AS survival_fp FROM km
""")
def events_survival_km(spark, sf):
    # Kaplan–Meier survival for conversion latency: duration = hours
    # from a user's first event to their FIRST PURCHASE, with
    # administrative censoring at the 48-hour horizon — users who
    # have not converted by then are censored (they leave the risk
    # set at 48h without counting as conversions; on this corpus
    # roughly half censor, so the estimator genuinely diverges from
    # the naive converters-only CDF, which overstates early
    # conversion by ignoring the censored mass in at_risk). With all
    # censoring at the fixed horizon, at_risk at death time t is
    # n_users minus conversions strictly before t. Survival is the
    # running product S(t) = Π (1 - d_i/r_i) over death hours in 1e9
    # fixed point, folded in duration order — s·r stays below int64
    # up to ~9e9 users, and Spark's slice+aggregate fold pairs
    # bit-exactly with the oracle's recursive CTE (both truncate via
    # integer div). Shape: one user-keyed aggregate (min/min combine
    # map-side), one duration-keyed aggregate, then the fold runs on
    # a DURATION-DOMAIN-sized array (≤ 49 hour buckets — bounded by
    # the horizon, never by data volume).
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events").select(
        "user_id", F.expr("unix_millis(ts)").alias("ms"), "event_type")
    u = ev.groupBy("user_id").agg(
        F.min("ms").alias("first_ms"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.col("ms"))).alias("fp"))
    d = (u.filter(F.col("fp").isNotNull())
         .select(F.expr("(fp - first_ms) div 3600000").alias("dur"))
         .filter(F.col("dur") <= 48))
    n = u.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    per = d.groupBy("dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("deaths"))
    w = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = per.join(F.broadcast(n)).select(
        "dur", "deaths",
        (F.col("n_users")
         - F.coalesce(F.sum("deaths").over(w), F.lit(0)).cast("bigint"))
        .alias("at_risk"))
    arr = risk.agg(F.sort_array(F.collect_list(
        F.struct("dur", "deaths", "at_risk"))).alias("a"))
    ex = (arr.select(F.posexplode("a").alias("pos", "x"), F.col("a"))
          .select(
              F.col("x.dur").alias("dur"),
              F.col("x.deaths").alias("deaths"),
              F.col("x.at_risk").alias("at_risk"),
              F.expr("aggregate(slice(a, 1, pos + 1), "
                     "CAST(1000000000 AS BIGINT), (acc, e) -> "
                     "acc * (e.at_risk - e.deaths) div e.at_risk)")
              .alias("survival_fp")))
    return ex


_MW_Z = """CASE WHEN n1 > 0 AND n2 > 0
  AND tie_t < n * n * n - n THEN
  CAST(u1_x2 - n1 * n2 AS DOUBLE)
  / (2.0 * sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
      * (CAST(n + 1 AS DOUBLE)
         - CAST(tie_t AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))))
  ELSE 0.0 END"""


@register("quality_mann_whitney_gate", f"""
WITH r AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(20,2)) * 100 AS BIGINT)
           AS cents,
         CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 AS arm
  FROM orders),
g AS (SELECT cents, CAST(count(*) AS BIGINT) AS t,
             CAST(count_if(arm = 1) AS BIGINT) AS t1
      FROM r GROUP BY 1),
c AS (SELECT cents, t, t1,
  1 + CAST(COALESCE(SUM(t) OVER (ORDER BY cents
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
  AS lo
  FROM g),
s AS (SELECT CAST(SUM(t1) AS BIGINT) AS n1,
             CAST(SUM(t) AS BIGINT) AS n,
             CAST(SUM(t1 * (2 * lo + t - 1)) AS BIGINT) AS r1_x2,
             CAST(SUM(t * t * t - t) AS BIGINT) AS tie_t
      FROM c),
f AS (SELECT n1, n - n1 AS n2, n, tie_t,
             r1_x2 - n1 * (n1 + 1) AS u1_x2
      FROM s)
SELECT n1, n2, u1_x2, tie_t, {_MW_Z} AS z,
       abs({_MW_Z}) > 1.96 AS significant
FROM f
""")
def quality_mann_whitney_gate(spark, sf):
    # Mann–Whitney U (Wilcoxon rank-sum) between the deterministic
    # md5-bucket arms of order values — the DISTRIBUTION-level A/B
    # null check that complements events_ab_lift_gate's proportion
    # test (rank-based, so one whale order can't move it the way it
    # moves a t-test). Sufficient statistics are exact int64 kept at
    # DOUBLED scale so tied ranks stay integral: per distinct value
    # the doubled average rank is 2·lo + t − 1, R1·2 sums those over
    # arm-1 members, U1·2 = R1·2 − n1(n1+1), and the tie correction
    # Σ(t³−t) rides the same single value-keyed aggregate. z is ONE
    # fixed-operand double expression (the ab_lift device) with the
    # normal approximation's tie-corrected variance; |z| > 1.96 is the
    # 5% decision. Null-experiment expectation: not significant — a
    # significant readout flags assignment leakage. Shape: one
    # value-keyed aggregate + a value-ordered running sum (the rank
    # window never sees per-row data, only the distinct-value
    # relation); no per-row ranking shuffle.
    from yougile_etl_pipeline_spark.operators.quality import hash_bucket

    r = load_table(spark, sf, "orders").select(
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(20,2)) * 100 "
               "AS BIGINT)").alias("cents"),
        hash_bucket(F.col("o_orderkey"), 2).alias("arm"))
    g = r.groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.count_if(F.col("arm") == 1).cast("bigint").alias("t1"))
    from pyspark.sql.window import Window
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "t", "t1",
        (F.lit(1) + F.coalesce(F.sum("t").over(w), F.lit(0))
         .cast("bigint")).alias("lo"))
    s = c.agg(
        F.sum("t1").cast("bigint").alias("n1"),
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("t1") * (2 * F.col("lo") + F.col("t") - 1))
        .cast("bigint").alias("r1_x2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint").alias("tie_t"))
    f = s.select(
        "n1", (F.col("n") - F.col("n1")).alias("n2"), "n", "tie_t",
        (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1))
        .alias("u1_x2"))
    z = F.expr(_MW_Z.replace("0.0 END", "0.0D END"))
    return f.select("n1", "n2", "u1_x2", "tie_t", z.alias("z"),
                    (F.abs(z) > 1.96).alias("significant"))
@register("text_zipf_rank_ratio", f"""
WITH tok AS (SELECT unnest({_toks()}) AS token FROM documents),
tfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
          FROM tok GROUP BY token),
ranked AS (SELECT token, freq,
                  CAST(row_number() OVER (ORDER BY freq DESC, token)
                       AS BIGINT) AS rank
           FROM tfreq),
top1 AS (SELECT freq AS f1 FROM ranked WHERE rank = 1)
SELECT rank, token, freq,
       (SELECT f1 FROM top1) * 1000000 // (freq * rank)
         AS zipf_ratio_ppm
FROM ranked WHERE rank IN (1, 2, 4, 8, 16, 32, 64)
""")
def text_zipf_rank_ratio(spark, sf):
    # Zipf's-law calibration at octave ranks, transcendental-free (the
    # house rule: no ln/log in a hash-paired value — libm last-ulp
    # drift across engines): under perfect Zipf, freq(1) = r·freq(r),
    # so zipf_ratio_ppm = f1·1e6 div (freq_r · r) reads 1e6 at every
    # probed rank; the deviation profile across octaves 1..64 is the
    # rank-frequency curve's shape in exact integers (> 1e6 = steeper
    # than Zipf at that depth, < 1e6 = flatter). Reuses build_vocab's
    # certified shape: map-side-combined token counts + TakeOrdered
    # top-V, never a global sort; the octave filter and the broadcast
    # f1 run on the ≤64-row survivor relation.
    from yougile_etl_pipeline_spark.operators import text as TX

    docs = load_table(spark, sf, "documents")
    vocab = TX.build_vocab(docs, top_v=64)
    f1 = vocab.filter(F.col("rank") == 1).select(
        F.col("freq").alias("f1"))
    return (vocab.filter(F.col("rank").isin(1, 2, 4, 8, 16, 32, 64))
            .join(F.broadcast(f1))
            .select("rank", "token", "freq",
                    F.expr("f1 * 1000000 div (freq * rank)")
                    .alias("zipf_ratio_ppm")))


@register("quality_tv_drift_gate", """
WITH e AS (SELECT epoch_ms(ts) // 86400000 AS day, event_type
           FROM events),
b AS (SELECT min(day) + (max(day) - min(day)) // 2 AS mid FROM e),
p AS (SELECT event_type,
        CAST(count_if(day <= (SELECT mid FROM b)) AS BIGINT) AS c1,
        CAST(count_if(day >  (SELECT mid FROM b)) AS BIGINT) AS c2
      FROM e GROUP BY 1),
t AS (SELECT GREATEST(CAST(SUM(c1) AS BIGINT), 1) AS n1,
             GREATEST(CAST(SUM(c2) AS BIGINT), 1) AS n2 FROM p),
terms AS (SELECT abs(c1 * 1000000 // t.n1 - c2 * 1000000 // t.n2)
            AS ad FROM p, t)
SELECT (SELECT n1 FROM t) AS n_first, (SELECT n2 FROM t) AS n_second,
       CAST(SUM(ad) // 2 AS BIGINT) AS tv_ppm,
       SUM(ad) // 2 >= 50000 AS drifted
FROM terms
""")
def quality_tv_drift_gate(spark, sf):
    # Total-variation drift between the event-type mixes of the first
    # and second corpus halves (split at the median day):
    # TV = ½ Σ_types |p_t − q_t| in exact integer ppm — the
    # CATEGORICAL-domain drift gate next to quality_ks_drift_gate's
    # banded-value KS, and transcendental-free where PSI/KL would not
    # be (ln is not bit-identical across engines; TV is the metric
    # PSI approximates anyway for small drifts). The 5% gate reads
    # not-drifted on the stationary synthetic mix. One type-keyed
    # aggregate with map-side-combined conditional counts; the TV sum
    # folds over the TYPE-DOMAIN-sized relation.
    ev = load_table(spark, sf, "events").select(
        F.expr("unix_millis(ts) div 86400000").alias("day"),
        "event_type")
    b = ev.agg(F.expr("min(day) + (max(day) - min(day)) div 2")
               .alias("mid"))
    p = ev.join(F.broadcast(b)).groupBy("event_type").agg(
        F.count_if(F.col("day") <= F.col("mid")).cast("bigint")
        .alias("c1"),
        F.count_if(F.col("day") > F.col("mid")).cast("bigint")
        .alias("c2"))
    t = p.agg(F.greatest(F.sum("c1").cast("bigint"), F.lit(1))
              .alias("n1"),
              F.greatest(F.sum("c2").cast("bigint"), F.lit(1))
              .alias("n2"))
    terms = p.join(F.broadcast(t)).select(
        "n1", "n2",
        F.abs(F.expr("c1 * 1000000 div n1 - c2 * 1000000 div n2"))
        .alias("ad"))
    return (terms.groupBy("n1", "n2")
            .agg(F.expr("SUM(ad) div 2").cast("bigint").alias("tv_ppm"))
            .select(F.col("n1").alias("n_first"),
                    F.col("n2").alias("n_second"), "tv_ppm",
                    (F.expr("tv_ppm >= 50000")).alias("drifted")))


@register("events_slo_burn_rates", """
WITH d AS (
  SELECT epoch_ms(ts) // 86400000 AS day,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count_if(event_type = 'error') AS BIGINT) AS errs
  FROM events GROUP BY 1),
w AS (SELECT day, n, errs,
        CAST(SUM(errs) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING
             AND CURRENT ROW) AS BIGINT) AS errs7,
        CAST(SUM(n) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING
             AND CURRENT ROW) AS BIGINT) AS n7
      FROM d)
SELECT day,
       errs * 1000000 // n AS fast_ppm,
       errs7 * 1000000 // n7 AS slow_ppm,
       (errs * 1000000 // n) * 100
         // GREATEST(errs7 * 1000000 // n7, 1) AS burn_x100,
       (errs * 1000000 // n) * 10 >= (errs7 * 1000000 // n7) * 12
         AND errs * 1000000 // n >= 450000 AS alert_fast,
       errs7 * 1000000 // n7 >= 450000 AS alert_slow
FROM w
""")
def events_slo_burn_rates(spark, sf):
    # Multi-window SLO burn-rate alerting (the SRE-workbook shape):
    # per day, the FAST signal is that day's error ppm, the SLOW
    # signal the trailing-7-day ppm over a RANGE frame on the integer
    # day key (calendar-correct across gaps, unlike a ROWS frame).
    # burn_x100 is fast/slow in integer percent; alert_fast pages when
    # the day runs ≥20% above its own trailing baseline AND above the
    # 45% SLO (both-sided on the ~40%-error synthetic corpus),
    # alert_slow tickets on the trailing window alone. Single
    # day-keyed aggregate + one window over the DAY-DOMAIN relation.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events").select(
        F.expr("unix_millis(ts) div 86400000").alias("day"),
        "event_type")
    d = ev.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("event_type") == "error").cast("bigint")
        .alias("errs"))
    w7 = Window.orderBy("day").rangeBetween(-6, 0)
    w = d.select(
        "day", "n", "errs",
        F.sum("errs").over(w7).cast("bigint").alias("errs7"),
        F.sum("n").over(w7).cast("bigint").alias("n7"))
    fast = F.expr("errs * 1000000 div n")
    slow = F.expr("errs7 * 1000000 div n7")
    return w.select(
        "day", fast.alias("fast_ppm"), slow.alias("slow_ppm"),
        F.expr("(errs * 1000000 div n) * 100 "
               "div GREATEST(errs7 * 1000000 div n7, 1)")
        .alias("burn_x100"),
        ((fast * 10 >= slow * 12) & (fast >= 450000))
        .alias("alert_fast"),
        (slow >= 450000).alias("alert_slow"))
@register("stream_bigram_transitions", """
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
def stream_bigram_transitions(spark, sf):
    # Streaming twin of events_bigram_transitions (shares its oracle
    # VERBATIM): the per-user transition counter runs as
    # applyInPandasWithState carrying ONE last-event row of state per
    # user — (ms, event_id, type), two int64s + a small string
    # (streaming/stateful.py::bigram_stateful) — so the unbounded
    # stream never stores per-pair state; each micro-batch emits
    # partial (from, to, n) counts with boundary transitions counted
    # exactly once by the batch seeing the LATER event. After the
    # availableNow drain the partials SUM to the batch lead() counts
    # at any micro-batch slicing; the top-20 total-order tie-break is
    # TakeOrderedAndProject on the |types|²-sized matrix.
    from yougile_etl_pipeline_spark.streaming.stateful import (
        run_bigram_available_now,
    )

    parts = run_bigram_available_now(
        spark, sf, table_name="stream_bigrams_r13")
    return (parts.groupBy("event_type", "next_type")
            .agg(F.sum("n").alias("n"))
            .orderBy(F.col("n").desc(), "event_type", "next_type")
            .limit(20))
@register("events_poisson_dispersion_gate", """
WITH d AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM d GROUP BY 1)
SELECT event_type, n_days, s1, s2,
       (n_days * s2 - s1 * s1) * 1000 // (s1 * (n_days - 1))
         AS fano_x1000,
       (n_days * s2 - s1 * s1) * 1000 // (s1 * (n_days - 1)) > 1500
         AS overdispersed
FROM s WHERE n_days > 1 AND s1 > 0
""")
def events_poisson_dispersion_gate(spark, sf):
    # Poisson dispersion (Fano factor) per event type over daily
    # counts: variance/mean in exact integer thousandths —
    # fano ≈ 1 is the Poisson arrival hypothesis, > 1.5 flags
    # burst/overdispersed traffic (retry storms, bots), < 1 flags
    # rate limiting. Sample variance and mean come from BIGINT
    # sufficient statistics (n·Σc² − (Σc)²) so the ratio is one
    # integer division — no doubles anywhere. Two tiny keyed
    # aggregates: (type, day) then type.
    ev = load_table(spark, sf, "events").select(
        "event_type",
        F.expr("unix_millis(ts) div 86400000").alias("day"))
    d = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.expr("c * c")).cast("bigint").alias("s2"))
    fano = F.expr(
        "(n_days * s2 - s1 * s1) * 1000 div (s1 * (n_days - 1))")
    return (s.filter((F.col("n_days") > 1) & (F.col("s1") > 0))
            .select("event_type", "n_days", "s1", "s2",
                    fano.alias("fano_x1000"),
                    (fano > 1500).alias("overdispersed")))


@register("events_max_drawdown", """
WITH v AS (
  SELECT user_id, epoch_ms(ts) AS ms, event_id,
         CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
c AS (SELECT user_id, ms, event_id,
        SUM(cents) OVER (PARTITION BY user_id ORDER BY ms, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM v),
p AS (SELECT user_id, cum,
        MAX(cum) OVER (PARTITION BY user_id ORDER BY ms, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM c)
SELECT user_id,
       CAST(MAX(peak - cum) AS BIGINT) AS max_drawdown_cents,
       CAST(MAX(cum) AS BIGINT) AS peak_cents
FROM p GROUP BY user_id
""")
def events_max_drawdown(spark, sf):
    # Per-user maximum drawdown of the cumulative value series (exact
    # cents): running peak minus running total, maximized over the
    # (ts, event_id)-ordered stream — the canonical
    # trajectory-roughness statistic (how far below its own best has
    # this account fallen?) that point aggregates cannot express. Two
    # stacked prefix windows on the SAME (user, ms, event_id) sort
    # order — one shuffle by user, both windows and the final
    # aggregate ride it with no extra exchange.
    from pyspark.sql.window import Window

    v = (load_table(spark, sf, "events")
         .filter(F.col("value").isNotNull())
         .select("user_id", F.unix_millis("ts").alias("ms"), "event_id",
                 F.expr("CAST(CAST(value AS DECIMAL(20,2)) * 100 "
                        "AS BIGINT)").alias("cents")))
    wo = (Window.partitionBy("user_id").orderBy("ms", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = v.select("user_id", "ms", "event_id",
                 F.sum("cents").over(wo).alias("cum"))
    p = c.select("user_id", "cum", F.max("cum").over(wo).alias("peak"))
    return (p.groupBy("user_id")
            .agg(F.max(F.col("peak") - F.col("cum")).cast("bigint")
                 .alias("max_drawdown_cents"),
                 F.max("cum").cast("bigint").alias("peak_cents")))
@register("stream_max_drawdown", """
WITH v AS (
  SELECT user_id, epoch_ms(ts) AS ms, event_id,
         CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
c AS (SELECT user_id, ms, event_id,
        SUM(cents) OVER (PARTITION BY user_id ORDER BY ms, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM v),
p AS (SELECT user_id, cum,
        MAX(cum) OVER (PARTITION BY user_id ORDER BY ms, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM c)
SELECT user_id,
       CAST(MAX(peak - cum) AS BIGINT) AS max_drawdown_cents,
       CAST(MAX(cum) AS BIGINT) AS peak_cents
FROM p GROUP BY user_id
""")
def stream_max_drawdown(spark, sf):
    # Streaming twin of events_max_drawdown (shares its oracle
    # VERBATIM): the per-user trajectory tracker runs as
    # applyInPandasWithState carrying THREE int64s of state —
    # running total, running peak, max drawdown so far
    # (streaming/stateful.py::drawdown_stateful). Each micro-batch
    # emits the refreshed (maxdd, peak); both are MONOTONE across
    # batches, so the MAX-per-user rollup below equals the batch
    # stacked-window computation at any micro-batch slicing (the
    # burst_flags determinism argument). The exact-cents DECIMAL cast
    # happens JVM-side before the pandas function.
    from yougile_etl_pipeline_spark.streaming.stateful import (
        run_drawdown_available_now,
    )

    parts = run_drawdown_available_now(
        spark, sf, table_name="stream_drawdown_r13")
    return (parts.groupBy("user_id")
            .agg(F.max("max_drawdown_cents").cast("bigint")
                 .alias("max_drawdown_cents"),
                 F.max("peak_cents").cast("bigint")
                 .alias("peak_cents")))
@register("mm_gif_interlaced_stats", """
WITH p AS (SELECT event_id AS id,
                  8 + event_id % 5 AS w, 5 + event_id % 6 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, CAST(w * h AS BIGINT)), k ->
    (id + 9 * (k // w) + 3 * ((k % w) // 4)) % 256) AS px,
  list_transform(range(0, CAST(w * h AS BIGINT)), k ->
    (k // w + 1) * ((id + 9 * (k // w) + 3 * ((k % w) // 4)) % 256))
    AS wpx
  FROM p)
SELECT id AS media_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(list_sum(px) AS BIGINT) AS px_sum,
       CAST(list_sum(wpx) AS BIGINT) AS row_weighted_sum,
       TRUE AS used_dict
FROM v
""")
def mm_gif_interlaced_stats(spark, sf):
    # INTERLACED GIF (Appendix-E four-pass row order, descriptor flag
    # 0x40) decoded for real: the LZW stream carries rows in pass
    # order 0,8,…,4,12,…,2,6,…,1,3,… and the decoder scatters them
    # back (media_codec.py::gif_interlace_order). The certified
    # statistic is ROW-WEIGHTED (Σ (r+1)·gray) — a plain px_sum is
    # row-permutation-invariant and could not tell a correct
    # deinterlace from reading storage order as-is; the weighting is
    # what makes the reorder hash-provable. h ≥ 5 keeps all four
    # passes populated on every payload. Map-only mapInPandas; the
    # honest not-supported surface shrinks to local-table/multi-frame
    # GIFs and the transform-coded formats.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        gif_rowsum_stats,
        synth_gif_interlaced_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return gif_rowsum_stats(synth_gif_interlaced_payloads(ev, "event_id"))
@register("mm_png_adam7_stats", """
WITH p AS (SELECT event_id AS id,
                  9 + event_id % 4 AS w, 6 + event_id % 5 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, CAST(w * h AS BIGINT)), k ->
    (id + 11 * (k // w) + 6 * (k % w)) % 256) AS px,
  list_transform(range(0, CAST(w * h AS BIGINT)), k ->
    (k // w + 1) * (k % w + 1)
      * ((id + 11 * (k // w) + 6 * (k % w)) % 256)) AS wpx
  FROM p)
SELECT id AS media_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(list_sum(px) AS BIGINT) AS px_sum,
       CAST(list_sum(wpx) AS BIGINT) AS rc_weighted_sum,
       CAST(5 AS INTEGER) AS n_filter_kinds
FROM v
""")
def mm_png_adam7_stats(spark, sf):
    # ADAM7-interlaced PNG decoded for REAL: seven pass groups, each
    # independently filtered over its (x0, y0, sx, sy) sub-grid
    # (media_codec.py::_ADAM7 + the shared _png_recon_row), scattered
    # back to the logical grid. The certified statistic is BILINEARLY
    # weighted (Σ (r+1)(c+1)·gray) — Adam7 permutes pixels in BOTH
    # dimensions, so plain or row-weighted sums cannot prove the
    # scatter; the (r, c) weighting can. w ≥ 9 / h ≥ 6 keep all seven
    # passes populated; ≥12 global scanlines cycle all five filters
    # (n_filter_kinds = 5 exactly). With this the PNG tier covers
    # gray/truecolor/RGBA × sequential/Adam7; the honest
    # NotImplementedError surface is down to palette and sub-byte
    # depths. Map-only mapInPandas pass.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        png_rcsum_stats,
        synth_png_adam7_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return png_rcsum_stats(synth_png_adam7_payloads(ev, "event_id"))
@register("mm_png_palette_stats", """
WITH p AS (SELECT event_id AS id,
                  6 + event_id % 5 AS w, 3 + event_id % 4 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, CAST(w * h * 3 AS BIGINT)), k ->
    (((id + 7 * (k // (w * 3)) + 5 * ((k % (w * 3)) // 3)) % 256)
     * (CASE k % 3 WHEN 0 THEN 3 WHEN 1 THEN 5 ELSE 7 END)) % 256)
    AS px
  FROM p)
SELECT id AS media_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(list_sum(px) AS BIGINT) AS px_sum,
       CAST(list_min(px) AS INTEGER) AS px_min,
       CAST(list_max(px) AS INTEGER) AS px_max,
       CAST(LEAST(h, 5) AS INTEGER) AS n_filter_kinds
FROM v
""")
def mm_png_palette_stats(spark, sf):
    # Palette-indexed PNG (color type 3) decoded for REAL: PLTE chunk
    # parse + 1-byte-per-pixel filter reconstruction + the palette
    # lookup mapping indices to RGB. The synth palette is NON-identity
    # (i → (3i, 5i, 7i) mod 256) so skipping the PLTE lookup cannot
    # alias into a hash match — the oracle states the MAPPED channel
    # values in closed form (k: row = k div 3w, col = (k mod 3w)
    # div 3, channel multiplier 3/5/7 by k mod 3). With this the PNG
    # tier covers ALL four 8-bit color types (0/2/3/6); the honest
    # raise surface is down to sub-byte/16-bit depths. Map-only
    # mapInPandas pass.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        png_stats,
        synth_png_pal8_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return png_stats(synth_png_pal8_payloads(ev, "event_id"))
