"""Round-11 query registrations.

Every entry landed with its DuckDB oracle proven bit-identical at
sf0.001 AND sf0.01 and a recorded sf0.1 wall time + plan fingerprint
(bench.py's r11 block). Same determinism contract as registry.py's
module docstring.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yougile_etl_pipeline_spark.registry_base import register
from yougile_etl_pipeline_spark.registry_ext import (
    _COS,
    _CSIM,
    _MH_BANDS,
    _MH_MINS,
    _ivf_assign_sql,
    _shingles_sql,
)
from yougile_etl_pipeline_spark.registry_r06 import _K, _L2SQ, _M, _W
from yougile_etl_pipeline_spark.registry_r10 import _D0_EDGES_SQL, _d0_edges
from yougile_etl_pipeline_spark.sources.tables import (
    load_table,
    table_row_count,
)


@register("mm_bmp_flip_crop", """
WITH p AS (SELECT event_id AS id,
                  4 + event_id % 5 AS w, 3 + event_id % 4 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, 18), k ->
    (id + 7 * ((h - 2) // 2 + k // 9)
        + 3 * (w - 1 - ((w - 3) // 2 + (k % 9) // 3))
        + (k % 3)) % 256) AS px
  FROM p)
SELECT id AS media_id,
       CAST(w AS INTEGER) AS src_w, CAST(h AS INTEGER) AS src_h,
       CAST(list_sum(px) AS BIGINT) AS out_sum,
       CAST(list_min(px) AS INTEGER) AS out_min,
       CAST(list_max(px) AS INTEGER) AS out_max
FROM v
""")
def mm_bmp_flip_crop(spark, sf):
    # Augmentation pair under bit-exact verification: horizontal
    # mirror (c' = w-1-c) + centered 2x3 crop (offsets (dim-crop) div
    # 2) over real-decoded 24-bpp BMPs — multimodal.bmp_flip_crop_
    # stats; the oracle states the transformed grid in closed form
    # (k in range(18): rr = k div 9, cc = (k mod 9) div 3, ch = k mod
    # 3). Map-only mapInPandas pass.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        bmp_flip_crop_stats,
        synth_bmp_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return bmp_flip_crop_stats(synth_bmp_payloads(ev, "event_id"),
                               crop_h=2, crop_w=3)


@register("graph_harmonic_r2", f"""
WITH d0 AS ({_D0_EDGES_SQL}),
nodes AS (SELECT DISTINCT n AS node FROM (
  SELECT src AS n FROM d0 UNION SELECT dst FROM d0)),
n1 AS (SELECT src, CAST(count(*) AS BIGINT) AS c1 FROM d0 GROUP BY src),
h2 AS (SELECT DISTINCT a.src AS src, b.dst AS dst
       FROM d0 a JOIN d0 b ON a.dst = b.src
       WHERE a.src <> b.dst),
h2o AS (SELECT src, dst FROM h2
        WHERE NOT EXISTS (SELECT 1 FROM d0
                          WHERE d0.src = h2.src AND d0.dst = h2.dst)),
n2 AS (SELECT src, CAST(count(*) AS BIGINT) AS c2 FROM h2o GROUP BY src)
SELECT nodes.node,
       CAST(COALESCE(n1.c1, 0) AS BIGINT) AS n_dist1,
       CAST(COALESCE(n2.c2, 0) AS BIGINT) AS n_dist2,
       CAST(COALESCE(n1.c1, 0) * 1000000
            + COALESCE(n2.c2, 0) * 500000 AS BIGINT) AS harmonic_ppm
FROM nodes LEFT JOIN n1 ON nodes.node = n1.src
           LEFT JOIN n2 ON nodes.node = n2.src
""")
def graph_harmonic_r2(spark, sf):
    # Harmonic centrality truncated at radius 2 (directed): sum of
    # 1/d(u, v) over v within two hops = |d=1| + |d=2|/2, in integer
    # ppm (x1e6 and x5e5). Exact set logic — distinct 1-hop targets,
    # distinct 2-hop targets anti-joined against the 1-hop set — so a
    # distance-based centrality stays hash-exact. Two equi-joins and
    # two keyed counts; the 2-hop set is bounded by sum of
    # deg_in*deg_out like every wedge op.
    e = _d0_edges(spark, sf)
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node"))).distinct())
    n1 = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("c1"))
    h2 = (e.alias("a").join(e.alias("b"),
                            F.col("a.dst") == F.col("b.src"))
          .select(F.col("a.src").alias("src"),
                  F.col("b.dst").alias("dst"))
          .filter(F.col("src") != F.col("dst"))
          .distinct())
    h2o = h2.join(e, ["src", "dst"], "left_anti")
    n2 = h2o.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2"))
    out = (nodes
           .join(n1.withColumnRenamed("src", "node"), "node", "left")
           .join(n2.withColumnRenamed("src", "node"), "node", "left")
           .select("node",
                   F.coalesce("c1", F.lit(0)).cast("bigint")
                   .alias("n_dist1"),
                   F.coalesce("c2", F.lit(0)).cast("bigint")
                   .alias("n_dist2")))
    return out.withColumn(
        "harmonic_ppm",
        (F.col("n_dist1") * 1000000
         + F.col("n_dist2") * 500000).cast("bigint"))


@register("text_term_burstiness", """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
dc AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS x
       FROM toks WHERE term <> '' GROUP BY 1, 2),
tot AS (SELECT term, CAST(SUM(x) AS BIGINT) AS tot FROM dc GROUP BY term),
top AS (SELECT term, tot FROM tot ORDER BY tot DESC, term LIMIT 20),
s AS (SELECT dc.term, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM dc JOIN top USING (term) GROUP BY dc.term)
SELECT term, n AS n_docs, sx AS occurrences,
       CAST(((n * sxx - sx * sx) * 1000000) // (n * sx) AS BIGINT)
         AS fano_ppm
FROM s
""")
def text_term_burstiness(spark, sf):
    # Term burstiness (Fano factor, variance/mean in integer ppm) of
    # the top-20 corpus terms over their per-document counts — the
    # classic content-vs-function-word discriminator (bursty terms
    # cluster in few docs; function words spread evenly). Exact BIGINT
    # sufficient stats per term; one (term, doc) shuffle + a
    # TakeOrdered top-20 broadcast back.
    docs = load_table(spark, sf, "documents")
    toks = (docs.select("doc_id",
                        F.explode(F.split("text", " ")).alias("term"))
            .filter(F.col("term") != ""))
    dc = toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"))
    tot = dc.groupBy("term").agg(
        F.sum("x").cast("bigint").alias("tot"))
    top = tot.orderBy(F.col("tot").desc(), "term").limit(20)
    s = (dc.join(F.broadcast(top.select("term")), "term")
         .groupBy("term")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.sum("x").cast("bigint").alias("sx"),
              F.sum(F.col("x") * F.col("x")).cast("bigint")
              .alias("sxx")))
    return s.select(
        "term", F.col("n").alias("n_docs"),
        F.col("sx").alias("occurrences"),
        F.expr("((n * sxx - sx * sx) * 1000000) div (n * sx)")
        .cast("bigint").alias("fano_ppm"))


@register("agg_weekend_revenue_share", """
WITH o AS (SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
                  dayofweek(CAST(o_orderdate AS DATE)) AS dw,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT) AS cents
           FROM orders WHERE o_orderdate IS NOT NULL)
SELECT CAST(m AS BIGINT) AS month_idx,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(SUM(CASE WHEN dw IN (0, 6) THEN cents ELSE 0 END)
            AS BIGINT) AS weekend_cents,
       CAST((SUM(CASE WHEN dw IN (0, 6) THEN cents ELSE 0 END)
             * 1000000) // SUM(cents) AS BIGINT) AS weekend_share_ppm
FROM o GROUP BY m
""")
def agg_weekend_revenue_share(spark, sf):
    # Weekend share of monthly revenue in integer ppm: money becomes
    # exact integer CENTS at the scan (DECIMAL(18,2) * 100 — never a
    # raw double sum), then pure BIGINT aggregation. Cross-engine
    # calendar gotcha pinned: Spark dayofweek is 1=Sun..7=Sat while
    # DuckDB's is 0=Sun..6=Sat, so weekend is IN (1,7) here and
    # IN (0,6) in the oracle.
    o = (load_table(spark, sf, "orders")
         .filter(F.col("o_orderdate").isNotNull())
         .select((F.year("o_orderdate") * 12
                  + F.month("o_orderdate")).alias("m"),
                 F.dayofweek(F.col("o_orderdate").cast("date"))
                 .alias("dw"),
                 (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                 .cast("bigint").alias("cents")))
    wknd = F.when(F.col("dw").isin(1, 7), F.col("cents")).otherwise(0)
    return (o.groupBy(F.col("m").cast("bigint").alias("month_idx"))
            .agg(F.sum("cents").cast("bigint").alias("total_cents"),
                 F.sum(wknd).cast("bigint").alias("weekend_cents"))
            .withColumn("weekend_share_ppm",
                        F.expr("(weekend_cents * 1000000) "
                               "div total_cents").cast("bigint")))


@register("events_interarrival_bands", """
WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id
           FROM events),
l AS (SELECT event_type,
        ms - lag(ms) OVER (PARTITION BY user_id, event_type
                           ORDER BY ms, event_id) AS gap
      FROM e)
SELECT event_type,
  CASE WHEN gap < 60000 THEN 'lt_1m' WHEN gap < 600000 THEN 'lt_10m'
       WHEN gap < 3600000 THEN 'lt_1h' ELSE 'ge_1h' END AS band,
  CAST(count(*) AS BIGINT) AS n
FROM l WHERE gap IS NOT NULL GROUP BY 1, 2
""")
def events_interarrival_bands(spark, sf):
    # Inter-arrival-time banding per event type (the rate fingerprint
    # behind bot detection and session-gap tuning): per (user, type)
    # stream, the gap to the previous occurrence, banded into
    # <1m/<10m/<1h/≥1h. Integer epoch-ms lag over a user-partitioned
    # window — one key shuffle, no global sort.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("ms"),
        "event_id")
    w = (Window.partitionBy("user_id", "event_type")
         .orderBy("ms", "event_id"))
    gaps = (ev.withColumn("gap", F.col("ms") - F.lag("ms").over(w))
            .filter(F.col("gap").isNotNull()))
    band = (F.when(F.col("gap") < 60000, "lt_1m")
            .when(F.col("gap") < 600000, "lt_10m")
            .when(F.col("gap") < 3600000, "lt_1h")
            .otherwise("ge_1h"))
    return (gaps.select("event_type", band.alias("band"))
            .groupBy("event_type", "band")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")))


@register("train_split_leakage_audit", """
WITH s AS (
  SELECT md5(text) AS fp,
    CASE WHEN b < 9000 THEN 'train'
         WHEN b < 9500 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT text,
          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 10000 AS b
        FROM documents)),
f AS (SELECT fp, CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM s GROUP BY fp)
SELECT n_splits, CAST(count(*) AS BIGINT) AS n_fingerprints,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs
FROM f GROUP BY n_splits
""")
def train_split_leakage_audit(spark, sf):
    # Split-leakage audit — the eval-integrity check a training
    # pipeline runs after quality_train_split: exact-duplicate
    # documents (md5 fingerprints) that land in MORE THAN ONE split
    # leak evaluation data into training. Reports the histogram of
    # fingerprints by how many splits they touch (n_splits >= 2 rows
    # are the leaks). Only 16-byte fingerprints shuffle.
    from yougile_etl_pipeline_spark.operators.quality import (
        train_val_test_split,
    )

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    s = train_val_test_split(docs, "doc_id").select(
        F.md5("text").alias("fp"), "split")
    f = (s.groupBy("fp")
         .agg(F.countDistinct("split").cast("bigint").alias("n_splits"),
              F.count(F.lit(1)).cast("bigint").alias("n_docs")))
    return (f.groupBy("n_splits")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
                 F.sum("n_docs").cast("bigint").alias("n_docs")))


@register("stream_interarrival_bands", """
WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id
           FROM events),
l AS (SELECT event_type,
        ms - lag(ms) OVER (PARTITION BY user_id, event_type
                           ORDER BY ms, event_id) AS gap
      FROM e)
SELECT event_type,
  CASE WHEN gap < 60000 THEN 'lt_1m' WHEN gap < 600000 THEN 'lt_10m'
       WHEN gap < 3600000 THEN 'lt_1h' ELSE 'ge_1h' END AS band,
  CAST(count(*) AS BIGINT) AS n
FROM l WHERE gap IS NOT NULL GROUP BY 1, 2
""")
def stream_interarrival_bands(spark, sf):
    # Streaming twin of events_interarrival_bands: per-(user, type)
    # gaps emitted by applyInPandasWithState carrying ONE int64 of
    # state per key (stateful.interarrival_stateful), drained with
    # availableNow, then banded in batch. Shares the batch entry's
    # oracle VERBATIM — the sorted single-batch drain makes the
    # emitted gaps bit-identical to the batch window's lag, so even a
    # stateful streaming op stays hash-exact.
    from yougile_etl_pipeline_spark.streaming.stateful import (
        run_interarrival_available_now,
    )

    gaps = run_interarrival_available_now(
        spark, sf, table_name="stream_gaps_r11")
    band = (F.when(F.col("gap") < 60000, "lt_1m")
            .when(F.col("gap") < 600000, "lt_10m")
            .when(F.col("gap") < 3600000, "lt_1h")
            .otherwise("ge_1h"))
    return (gaps.select("event_type", band.alias("band"))
            .groupBy("event_type", "band")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")))


@register("mm_wav_peak_normalize", """
WITH p AS (SELECT event_id AS id, 50 + event_id % 100 AS n FROM events),
s AS (SELECT id, n,
  list_transform(range(0, CAST(n AS BIGINT)),
    i -> abs((id * 31 + i * 17) % 65536 - 32768)) AS a FROM p),
m AS (SELECT id, n, a, list_max(a) AS peak FROM s),
o AS (SELECT id, n, peak,
  list_transform(a, x -> (x * 32767) // peak) AS norm FROM m
  WHERE peak > 0)
SELECT id AS media_id, CAST(n AS BIGINT) AS n_samples,
       CAST(peak AS BIGINT) AS peak,
       CAST(list_sum(norm) AS BIGINT) AS norm_sum,
       CAST(list_max(norm) AS BIGINT) AS norm_max
FROM o
""")
def mm_wav_peak_normalize(spark, sf):
    # Gain-staging audit: real WAV decode then per-sample magnitude
    # rescale |s|*32767 div peak — exact non-negative int64 (floor
    # division on non-negative operands is engine-identical; SIGNED
    # integer division is not, which is why the op normalizes
    # magnitudes by design — multimodal.wav_peak_normalize_stats).
    # Closed-form oracle over the synth signal; every non-silent
    # payload reports norm_max = 32767.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        synth_wav_payloads,
        wav_peak_normalize_stats,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return wav_peak_normalize_stats(synth_wav_payloads(ev, "event_id"))


@register("events_burst_flag_audit", """
WITH m AS (
  SELECT user_id, epoch_ms(ts) // 60000 AS minute,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
u AS (SELECT user_id, CAST(MAX(n) AS BIGINT) AS burst FROM m GROUP BY 1)
SELECT CASE WHEN burst >= 10 THEN 'ge_10'
            WHEN burst >= 5 THEN '5_9' ELSE 'lt_5' END AS burst_band,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(MAX(burst) AS BIGINT) AS max_burst
FROM u GROUP BY 1
""")
def events_burst_flag_audit(spark, sf):
    # Bot/burst screening: each user's peak events-per-minute, banded
    # (lt_5 / 5_9 / ge_10) — the rate-limit audit that feeds abuse
    # review queues. Two keyed aggregates over integer epoch-minutes;
    # the (user, minute) count map-side-combines to near-distinct
    # cardinality.
    ev = load_table(spark, sf, "events").select(
        "user_id", F.expr("unix_millis(ts) div 60000").alias("minute"))
    m = (ev.groupBy("user_id", "minute")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    u = m.groupBy("user_id").agg(
        F.max("n").cast("bigint").alias("burst"))
    band = (F.when(F.col("burst") >= 10, "ge_10")
            .when(F.col("burst") >= 5, "5_9").otherwise("lt_5"))
    return (u.select(band.alias("burst_band"), "burst")
            .groupBy("burst_band")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"),
                 F.max("burst").cast("bigint").alias("max_burst")))


@register("sample_temperature_mixture", """
WITH w AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_before
           FROM documents GROUP BY lang),
mn AS (SELECT MIN(n_before) AS w_min FROM w),
r AS (SELECT lang, n_before,
        CAST(floor(10000 * sqrt(CAST(w_min AS DOUBLE)
                                / CAST(n_before AS DOUBLE)))
             AS BIGINT) AS rate_q
      FROM w CROSS JOIN mn),
k AS (SELECT d.lang, CAST(count(*) AS BIGINT) AS n_after
      FROM documents d JOIN r USING (lang)
      WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 10000 < r.rate_q
      GROUP BY d.lang)
SELECT r.lang, r.n_before, r.rate_q,
       CAST(COALESCE(k.n_after, 0) AS BIGINT) AS n_after
FROM r LEFT JOIN k USING (lang)
""")
def sample_temperature_mixture(spark, sf):
    # Temperature-smoothed mixture sampling (T=2): per-language keep
    # rate ∝ sqrt(w_min/w_g), so post-sample weights ∝ sqrt(w_g·w_min)
    # — big languages stay bigger but dampened, the standard
    # multilingual-LLM mix rule between equal-mix (mixture_rebalance)
    # and raw proportions. Deterministic despite the float: ONE
    # fixed-operand-order sqrt (IEEE-correctly-rounded) and a floor
    # quantization to basis points; selection is the engine-portable
    # md5 bucket, so re-runs never flip a document's fate. Rate table
    # broadcasts; the corpus never shuffles.
    from yougile_etl_pipeline_spark.operators.quality import hash_bucket

    docs = load_table(spark, sf, "documents").select("lang", "doc_id")
    w = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before"))
    mn = w.agg(F.min("n_before").alias("w_min"))
    r = (w.crossJoin(F.broadcast(mn))
         .select("lang", "n_before",
                 F.floor(10000 * F.sqrt(
                     F.col("w_min").cast("double")
                     / F.col("n_before").cast("double")))
                 .cast("bigint").alias("rate_q")))
    kept = (docs.join(F.broadcast(r), "lang")
            .filter(hash_bucket("doc_id", 10000) < F.col("rate_q"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_after")))
    return (r.join(kept, "lang", "left")
            .select("lang", "n_before", "rate_q",
                    F.coalesce("n_after", F.lit(0)).cast("bigint")
                    .alias("n_after")))


@register("mm_png_stats", """
WITH p AS (SELECT event_id AS id,
                  5 + event_id % 4 AS w, 3 + event_id % 4 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, CAST(w * h * 3 AS BIGINT)), k ->
    (id + 11 * (k // (w * 3)) + 5 * ((k % (w * 3)) // 3)
        + 3 * (k % 3)) % 256) AS px
  FROM p)
SELECT id AS media_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(list_sum(px) AS BIGINT) AS px_sum,
       CAST(list_min(px) AS INTEGER) AS px_min,
       CAST(list_max(px) AS INTEGER) AS px_max,
       CAST(LEAST(h, 5) AS INTEGER) AS n_filter_kinds
FROM v
""")
def mm_png_stats(spark, sf):
    # The engine's first DEFLATE-compressed image decode (VERDICT r10
    # #6): real PNG payloads — chunk walk with CRC32 verification,
    # stdlib-zlib inflate, all five scanline-filter reconstructions
    # (None/Sub/Up/Average/Paeth, id-seeded so every filter appears
    # across the corpus) — decoded back to exact integer statistics
    # the oracle states in closed form from the synthetic signal
    # (k in range(w*h*3): r = k div (w*3), c = (k mod (w*3)) div 3,
    # ch = k mod 3). n_filter_kinds = LEAST(h, 5) hash-proves the
    # filter machinery actually ran. Map-only mapInPandas pass;
    # JPEG/H.264 (transform-coded) still raise honestly.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        png_stats,
        synth_png_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return png_stats(synth_png_payloads(ev, "event_id"))


@register("events_holt_linear", """
WITH RECURSIVE seq AS (
  SELECT user_id, event_id,
         CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
h AS (
  SELECT user_id, event_id, rn, v * 1000000 AS l, CAST(0 AS BIGINT) AS b
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT n.user_id, n.event_id, n.rn,
         (1 * n.v * 1000000 + 3 * (h.l + h.b)) // 4,
         (1 * ((1 * n.v * 1000000 + 3 * (h.l + h.b)) // 4 - h.l)
            + 4 * h.b) // 5
  FROM h JOIN seq n ON n.user_id = h.user_id AND n.rn = h.rn + 1)
SELECT user_id, event_id,
       CAST(l AS DOUBLE) / 100000000.0 AS level,
       CAST(b AS DOUBLE) / 100000000.0 AS trend
FROM h
""")
def events_holt_linear(spark, sf):
    # Holt double-exponential smoothing (level + linear trend, α=1/4,
    # β=1/5) per user — the trended upgrade of events_ewma for
    # rate-forecasting pipelines. Same cross-engine device: the
    # sequential recurrence runs as an exact int64 fold over the
    # per-key sorted array (one key shuffle, no iteration over data),
    # the oracle as a recursive CTE; trends go NEGATIVE on declining
    # series, and both engines truncate integer division toward zero,
    # so signed state stays bit-identical
    # (operators/timeseries.py::holt_linear_fixed_point).
    from yougile_etl_pipeline_spark.operators.timeseries import (
        holt_linear_fixed_point,
    )

    ev = load_table(spark, sf, "events") \
        .select("user_id", "ts", "event_id", "value")
    return (holt_linear_fixed_point(ev, "user_id", ["ts", "event_id"],
                                    "value")
            .select("user_id", "event_id", "level", "trend"))


@register("freq_association_rules", """
WITH items AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
pairs AS (
  SELECT a.i AS item_a, b.i AS item_b, count(*) AS c_ab
  FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
  GROUP BY 1, 2
  HAVING count(*) >= 2),
support AS (SELECT i, count(*) AS c FROM items GROUP BY 1),
totals AS (SELECT count(DISTINCT b) AS n_baskets FROM items),
scored AS (
  SELECT p.item_a, p.item_b, p.c_ab,
         sa.c AS c_a, sb.c AS c_b, t.n_baskets,
         CAST(p.c_ab AS DOUBLE) * CAST(t.n_baskets AS DOUBLE)
           / (CAST(sa.c AS DOUBLE) * CAST(sb.c AS DOUBLE)) AS lift
  FROM pairs p
  JOIN support sa ON sa.i = p.item_a
  JOIN support sb ON sb.i = p.item_b
  CROSS JOIN totals t)
SELECT item_a AS antecedent, item_b AS consequent, c_ab,
       c_a AS c_ante, c_b AS c_cons, n_baskets,
       c_ab * 1000000 // n_baskets AS support_ppm,
       c_ab * 1000000 // c_a AS confidence_ppm, lift
FROM scored
UNION ALL
SELECT item_b, item_a, c_ab, c_b, c_a, n_baskets,
       c_ab * 1000000 // n_baskets,
       c_ab * 1000000 // c_b, lift
FROM scored
""")
def freq_association_rules(spark, sf):
    # Directional market-basket rules a→b with exact integer-ppm
    # support/confidence and the certified symmetric lift — the score
    # set a recommender actually thresholds on. Rides copurchase_
    # lift's no-self-join plan; the two orientations union the
    # already-aggregated pair relation map-side
    # (operators/frequency.py::association_rules).
    from yougile_etl_pipeline_spark.operators.frequency import (
        association_rules,
    )

    li = load_table(spark, sf, "lineitem")
    return association_rules(li, "l_orderkey", "l_partkey",
                             min_pair_count=2)


@register("quality_lorenz_deciles", """
WITH rev AS (
  SELECT o_custkey AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2)) * 100) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
tot AS (SELECT count(*) AS n, CAST(SUM(cents) AS BIGINT) AS total
        FROM rev),
ranked AS (
  SELECT k, cents,
         row_number() OVER (ORDER BY cents, k) AS rn
  FROM rev)
SELECT ((rn - 1) * 10) // n AS band,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(SUM(cents) AS BIGINT) AS band_total,
       CAST(SUM(cents) AS BIGINT) * 1000000 // MAX(total) AS share_ppm
FROM ranked CROSS JOIN tot
GROUP BY 1
""")
def quality_lorenz_deciles(spark, sf):
    # Customer-revenue concentration as a Lorenz decile table — the
    # drill-down of quality_gini's single number: rank customers by
    # exact-cents spend, cut into 10 equal-population bands by pure
    # integer rank math (no ntile — its remainder placement is
    # engine-specific), report exact counts/totals + truncating-ppm
    # shares. The window runs over the AGGREGATED customer relation
    # (dimension-sized), never the order facts
    # (operators/quality.py::lorenz_deciles).
    from yougile_etl_pipeline_spark.operators.quality import lorenz_deciles

    o = load_table(spark, sf, "orders")
    rev = o.groupBy(F.col("o_custkey").alias("k")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(20,2)") * 100))
        .cast("bigint").alias("cents"))
    return lorenz_deciles(rev, "k", "cents", n_bands=10)


@register("stream_burst_flags", """
WITH m AS (
  SELECT user_id, epoch_ms(ts) // 60000 AS minute,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
u AS (SELECT user_id, CAST(MAX(n) AS BIGINT) AS burst FROM m GROUP BY 1)
SELECT CASE WHEN burst >= 10 THEN 'ge_10'
            WHEN burst >= 5 THEN '5_9' ELSE 'lt_5' END AS burst_band,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(MAX(burst) AS BIGINT) AS max_burst
FROM u GROUP BY 1
""")
def stream_burst_flags(spark, sf):
    # Streaming twin of events_burst_flag_audit: per-user peak
    # events-per-minute tracked by applyInPandasWithState carrying
    # THREE int64s of state per user (open minute bucket, its count,
    # max so far — streaming/stateful.py::burst_stateful), drained
    # with availableNow, then banded in batch. Shares the batch
    # entry's oracle VERBATIM. Each micro-batch emits the user's
    # REFRESHED peak (monotone non-decreasing), so the MAX-per-user
    # rollup below equals the final peak at ANY micro-batch slicing —
    # the entry no longer leans on the single-batch drain assumption
    # (ADVICE r11).
    from yougile_etl_pipeline_spark.streaming.stateful import (
        run_burst_available_now,
    )

    bursts = (run_burst_available_now(spark, sf,
                                      table_name="stream_bursts_r11")
              .groupBy("user_id")
              .agg(F.max("burst").alias("burst")))
    band = (F.when(F.col("burst") >= 10, "ge_10")
            .when(F.col("burst") >= 5, "5_9").otherwise("lt_5"))
    return (bursts.select(band.alias("burst_band"), "burst")
            .groupBy("burst_band")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"),
                 F.max("burst").cast("bigint").alias("max_burst")))


@register("events_cumulative_users", """
WITH f AS (
  SELECT user_id, MIN(epoch_ms(ts) // 86400000) AS d0
  FROM events GROUP BY 1),
per_day AS (
  SELECT d0 AS day, CAST(count(*) AS BIGINT) AS new_users
  FROM f GROUP BY 1)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users
FROM per_day
""")
def events_cumulative_users(spark, sf):
    # Cumulative distinct users per day — the classic
    # "COUNT(DISTINCT) OVER cumulative window" that no engine supports
    # directly, rewritten exactly: a user contributes to the
    # cumulative count from their FIRST day on, so cum-distinct(day)
    # = running sum of first-seen counts. One user-keyed aggregate
    # over the facts; the running window rides the DAY-level relation
    # (hundreds of rows), never the events. Integer epoch-days — no
    # calendar or TZ surface.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events").select(
        "user_id", F.expr("unix_millis(ts) div 86400000").alias("d"))
    first = ev.groupBy("user_id").agg(F.min("d").alias("d0"))
    per_day = first.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users"))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return per_day.select(
        "day", "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"))


# The codebook CTEs: registry_r06._PQ_BOOKS_SQL with one line broken
# differently; kept as is so the certified oracle text does not change.
_PQ_SQL = f"""
src AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
sub AS (
  SELECT vec_id, s.sub_id,
         vec[s.sub_id * {_W} + 1 : s.sub_id * {_W} + {_W}] AS subvec
  FROM src, (SELECT CAST(unnest(range(0, {_M})) AS INT) AS sub_id) s),
seeds AS (
  SELECT sub_id,
         CAST(row_number() OVER (PARTITION BY sub_id ORDER BY vec_id) - 1
              AS INT) AS code,
         subvec AS cvec
  FROM sub
  QUALIFY row_number() OVER (PARTITION BY sub_id ORDER BY vec_id)
          <= {_K}),
assign0 AS (
  SELECT vec_id, sub_id, code FROM (
    SELECT b.vec_id, b.sub_id, s.code,
           row_number() OVER (
             PARTITION BY b.vec_id, b.sub_id
             ORDER BY {_L2SQ.format(a="b.subvec", b="s.cvec")}, s.code)
             AS rn
    FROM sub b JOIN seeds s USING (sub_id)) WHERE rn = 1),
means AS (
  SELECT sub.sub_id, code, CAST(t.i - 1 AS INT) AS pos,
         CAST(SUM(CAST(subvec[t.i] AS DECIMAL(20,9))) AS DOUBLE)
           / count(*) AS mean_val
  FROM assign0 JOIN sub USING (vec_id, sub_id),
       unnest(range(1, len(subvec) + 1)) AS t(i)
  GROUP BY 1, 2, 3),
books AS (
  SELECT sub_id, code, list(mean_val ORDER BY pos) AS cvec
  FROM means GROUP BY 1, 2),
assign1 AS (
  SELECT vec_id, sub_id, code FROM (
    SELECT b.vec_id, b.sub_id, s.code,
           row_number() OVER (
             PARTITION BY b.vec_id, b.sub_id
             ORDER BY {_L2SQ.format(a="b.subvec", b="s.cvec")}, s.code)
             AS rn
    FROM sub b JOIN books s USING (sub_id)) WHERE rn = 1)
"""


@register("sim_pq_recall_eval", f"""
WITH {_PQ_SQL},
qsrc AS (SELECT vec_id AS query_id, vec AS qv FROM src
         WHERE vec_id % 97 = 0),
truth AS (
  SELECT query_id, match_id FROM (
    SELECT q.query_id, c.vec_id AS match_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_COS} DESC, c.vec_id)
             AS rn
    FROM qsrc q CROSS JOIN (SELECT vec_id, vec AS cv FROM src) c
    WHERE q.query_id != c.vec_id) WHERE rn <= 5),
qsub AS (
  SELECT query_id, s.sub_id,
         qv[s.sub_id * {_W} + 1 : s.sub_id * {_W} + {_W}] AS subvec
  FROM qsrc, (SELECT CAST(unnest(range(0, {_M})) AS INT) AS sub_id) s),
qtab AS (
  SELECT query_id, sub_id, code,
         CAST({_L2SQ.format(a="subvec", b="cvec")} AS DECIMAL(27,12))
           AS qd2
  FROM qsub JOIN books USING (sub_id)),
adc AS (
  SELECT q.query_id, a.vec_id, SUM(q.qd2) AS d
  FROM assign1 a JOIN qtab q
    ON a.sub_id = q.sub_id AND a.code = q.code
  GROUP BY 1, 2),
cand6 AS (
  SELECT query_id, vec_id AS match_id, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY d, vec_id) AS rank
    FROM adc) WHERE rank <= 6),
cand AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rank) AS rn
    FROM cand6 WHERE match_id != query_id)
  WHERE rn <= 5),
j AS (
  SELECT t.query_id AS tq, c.query_id AS cq
  FROM truth t LEFT JOIN cand c
    ON t.query_id = c.query_id AND t.match_id = c.match_id)
SELECT CAST(count(DISTINCT tq) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_truth,
       CAST(count_if(cq IS NOT NULL) AS BIGINT) AS n_hits,
       CAST(count_if(cq IS NOT NULL) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS recall_at_5
FROM j
""")
def sim_pq_recall_eval(spark, sf):
    # ANN-quality scorecard for the PQ tier, fully ORACLE-PAIRED (the
    # dedup_minhash_recall_eval pattern applied to vector search, and
    # the registered twin of bench.py's CI-only recall block): recall@5
    # of PQ asymmetric-distance top-k against the exact brute-force
    # cosine truth on the same query set. Both sides are deterministic
    # computations, so the recall itself is hash-exact — a quality gate
    # a 100 TB embedding pipeline can assert on, not just report. The
    # PQ side takes its top-6 and drops any self-match, so both sides
    # compare 5 non-self candidates; recall divides exact BIGINTs once.
    # NOTE the measured number is honest data, not a defect: this is
    # the ORACLE-SIZED config (m=4, k=8, one Lloyd round — small enough
    # for an unrolled SQL twin), whose recall@5 is ~0.13–0.2 at
    # sf0.001–0.01; bench.py's recall block reports the
    # production-sized IVF/LSH variants at 0.95+. The point of THIS
    # entry is that the recall measurement itself is reproducible to
    # the bit — the assertable quality-gate form.
    from pyspark.sql.window import Window

    from yougile_etl_pipeline_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )
    from yougile_etl_pipeline_spark.operators.similarity import (
        brute_force_topk_np,
    )

    emb = (load_table(spark, sf, "embeddings")
           .select("vec_id", F.col("embedding").cast("array<double>")
                   .alias("embedding")))
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    truth = brute_force_topk_np(emb, queries, k=5) \
        .select("query_id", "match_id")
    books = pq_train(emb, m=_M, k=_K, iters=1)
    codes = pq_encode(emb, books, m=_M)
    cand6 = pq_adc_topk(codes, queries.select(
        F.col("vec_id").alias("query_id"), "embedding"), books, k=6)
    w = Window.partitionBy("query_id").orderBy("rank")
    cand = (cand6.filter(F.col("match_id") != F.col("query_id"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("query_id", "match_id"))
    j = truth.join(cand.withColumn("c", F.lit(1)),
                   ["query_id", "match_id"], "left")
    hit = F.col("c").isNotNull()
    return j.agg(
        F.count_distinct("query_id").cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.count_if(hit).cast("bigint").alias("n_hits"),
        (F.count_if(hit).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("recall_at_5"))


@register("events_funnel_windowed", """
WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
v AS (SELECT user_id, MIN(ms) AS t1 FROM e
      WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, MIN(e.ms) AS t2
      FROM e JOIN v USING (user_id)
      WHERE e.event_type = 'click'
        AND e.ms > v.t1 AND e.ms <= v.t1 + 3600000
      GROUP BY 1),
p AS (SELECT e.user_id, MIN(e.ms) AS t3
      FROM e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase'
        AND e.ms > c.t2 AND e.ms <= c.t2 + 3600000
      GROUP BY 1)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
       (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_1h,
       (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_1h,
       (SELECT count(*) FROM c) * 1000000
         // (SELECT count(*) FROM v) AS conv_vc_ppm,
       (SELECT count(*) FROM p) * 1000000
         // (SELECT count(*) FROM c) AS conv_cp_ppm
""")
def events_funnel_windowed(spark, sf):
    # Time-CONSTRAINED funnel (the windowFunnel shape): view → click
    # within 1h → purchase within 1h of the click, earliest-completion
    # semantics — each stage anchors at the user's first qualifying
    # event, so the result is a pure function of the event set (no
    # path-search ambiguity). Unlike events_funnel (presence-based),
    # this measures conversion with deadlines — the product-analytics
    # form. Three stage aggregates chained by user-keyed equi-joins;
    # conversions are truncating integer ppm of exact counts.
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("ms"))
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ms").alias("t1")))
    c = (ev.filter(F.col("event_type") == "click").join(v, "user_id")
         .filter((F.col("ms") > F.col("t1"))
                 & (F.col("ms") <= F.col("t1") + 3600000))
         .groupBy("user_id").agg(F.min("ms").alias("t2")))
    p = (ev.filter(F.col("event_type") == "purchase").join(c, "user_id")
         .filter((F.col("ms") > F.col("t2"))
                 & (F.col("ms") <= F.col("t2") + 3600000))
         .groupBy("user_id").agg(F.min("ms").alias("t3")))
    counts = (v.agg(F.count(F.lit(1)).cast("bigint").alias("n_view"))
              .crossJoin(c.agg(F.count(F.lit(1)).cast("bigint")
                               .alias("n_click_1h")))
              .crossJoin(p.agg(F.count(F.lit(1)).cast("bigint")
                               .alias("n_purchase_1h"))))
    return counts.select(
        "n_view", "n_click_1h", "n_purchase_1h",
        F.expr("n_click_1h * 1000000 div n_view").alias("conv_vc_ppm"),
        F.expr("n_purchase_1h * 1000000 div n_click_1h")
        .alias("conv_cp_ppm"))


@register("mm_png_resize_nearest", """
WITH p AS (SELECT event_id AS id,
                  5 + event_id % 4 AS w, 3 + event_id % 4 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, 144), k ->
    (id + 11 * (((k // 24) * h) // 6)
        + 5 * ((((k % 24) // 3) * w) // 8)
        + 3 * (k % 3)) % 256) AS px
  FROM p)
SELECT id AS media_id,
       CAST(w AS INTEGER) AS src_w, CAST(h AS INTEGER) AS src_h,
       CAST(list_sum(px) AS BIGINT) AS out_sum,
       CAST(list_min(px) AS INTEGER) AS out_min,
       CAST(list_max(px) AS INTEGER) AS out_max
FROM v
""")
def mm_png_resize_nearest(spark, sf):
    # Compressed-input thumbnail preprocess under bit-exact
    # verification: real PNG decode (CRC walk + inflate + all five
    # filter reconstructions) feeding the nearest-neighbor 6x8 resize
    # — proving the DEFLATE decode output enters the transform tier
    # exactly like an uncompressed grid. Oracle states the resized
    # grid in closed form over the synth formula (out(rr,cc,ch) =
    # byte((rr*h) div 6, (cc*w) div 8, ch), k in range(144), rr =
    # k div 24, cc = (k mod 24) div 3). Map-only mapInPandas pass.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        png_resize_stats,
        synth_png_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return png_resize_stats(synth_png_payloads(ev, "event_id"), 6, 8)


@register("graph_component_sizes", f"""
WITH RECURSIVE d0 AS ({_D0_EDGES_SQL}),
nodes AS (SELECT DISTINCT n AS node FROM (
  SELECT src AS n FROM d0 UNION SELECT dst FROM d0)),
edges AS (SELECT src AS u, dst AS v FROM d0
          UNION SELECT dst, src FROM d0),
reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node),
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS sz
          FROM comp GROUP BY 1)
SELECT sz AS component_size, CAST(count(*) AS BIGINT) AS n_components
FROM sizes GROUP BY 1
""")
def graph_component_sizes(spark, sf):
    # Connected-component size distribution — the dedup-cluster /
    # community QA view ("is the graph one giant blob or healthy
    # islands?"), certifying connected_components on a SECOND graph
    # shape (the modular doc graph) beyond the shingle-pair corpus
    # graph. Engine runs the distributed min-label propagation; the
    # oracle's recursive closure computes the same min-reachable-label
    # fixed point.
    from yougile_etl_pipeline_spark.operators.graph import (
        connected_components,
    )

    e = _d0_edges(spark, sf)
    comp = connected_components(e, e.select(F.col("src").alias("node"))
                                .union(e.select("dst")).distinct())
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz"))
    return sizes.groupBy(F.col("sz").alias("component_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_components"))


@register("mart_customer_band_migration", """
WITH r1 AS (
  SELECT o_custkey AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2)) * 100) AS BIGINT)
           AS cents
  FROM orders WHERE epoch_ms(o_orderdate) < 883612800000 GROUP BY 1),
r2 AS (
  SELECT o_custkey AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2)) * 100) AS BIGINT)
           AS cents
  FROM orders WHERE epoch_ms(o_orderdate) >= 883612800000 GROUP BY 1),
b1 AS (SELECT k, CASE WHEN cents >= 50000000 THEN 'large'
                      WHEN cents >= 10000000 THEN 'medium'
                      ELSE 'small' END AS band FROM r1),
b2 AS (SELECT k, CASE WHEN cents >= 50000000 THEN 'large'
                      WHEN cents >= 10000000 THEN 'medium'
                      ELSE 'small' END AS band FROM r2),
j AS (SELECT COALESCE(b1.band, 'none') AS from_band,
             COALESCE(b2.band, 'none') AS to_band
      FROM b1 FULL OUTER JOIN b2 ON b1.k = b2.k)
SELECT from_band, to_band, CAST(count(*) AS BIGINT) AS n_customers
FROM j GROUP BY 1, 2
""")
def mart_customer_band_migration(spark, sf):
    # Customer value-band migration matrix across the corpus midpoint
    # (epoch-ms 883612800000 = 1998-01-01 UTC): per-period exact-cents
    # spend banded small/<$100k/medium/<$500k/large, FULL OUTER joined
    # on customer so appear/churn surface as 'none' rows — the
    # growth-accounting Markov view of the customer base. Integer
    # epoch-ms comparison (no calendar/TZ surface); two customer-keyed
    # aggregates + one key join.
    ev = load_table(spark, sf, "orders").select(
        "o_custkey",
        F.unix_millis("o_orderdate").alias("ms"),
        F.col("o_totalprice").cast("decimal(20,2)").alias("p"))
    cents = (F.sum(F.col("p") * 100)).cast("bigint").alias("cents")
    band = (F.when(F.col("cents") >= 50000000, "large")
            .when(F.col("cents") >= 10000000, "medium")
            .otherwise("small"))
    b1 = (ev.filter(F.col("ms") < 883612800000)
          .groupBy(F.col("o_custkey").alias("k")).agg(cents)
          .select("k", band.alias("band1")))
    b2 = (ev.filter(F.col("ms") >= 883612800000)
          .groupBy(F.col("o_custkey").alias("k")).agg(cents)
          .select("k", band.alias("band2")))
    j = b1.join(b2, "k", "full_outer")
    return (j.select(F.coalesce("band1", F.lit("none")).alias("from_band"),
                     F.coalesce("band2", F.lit("none")).alias("to_band"))
            .groupBy("from_band", "to_band")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers")))


@register("sql_pivot_multi_agg", """
SELECT o_orderpriority,
  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O'
    THEN CAST(o_totalprice AS DECIMAL(20,2)) * 100 END), 0) AS BIGINT)
    AS o_cents,
  CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS o_n,
  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F'
    THEN CAST(o_totalprice AS DECIMAL(20,2)) * 100 END), 0) AS BIGINT)
    AS f_cents,
  CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS f_n,
  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P'
    THEN CAST(o_totalprice AS DECIMAL(20,2)) * 100 END), 0) AS BIGINT)
    AS p_cents,
  CAST(count_if(o_orderstatus = 'P') AS BIGINT) AS p_n
FROM orders GROUP BY 1
""")
def sql_pivot_multi_agg(spark, sf):
    # Pivot with MULTIPLE aggregates per pivot value (API surface
    # beyond agg_pivot_status's single measure): revenue cents + order
    # count per status column, explicit pivot values so the plan needs
    # no discovery pass. One shuffle; Catalyst rewrites to the same
    # CASE-conditional aggregation the oracle states.
    o = load_table(spark, sf, "orders").select(
        "o_orderpriority", "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(20,2)") * 100).alias("c"))
    piv = (o.groupBy("o_orderpriority")
           .pivot("o_orderstatus", ["O", "F", "P"])
           .agg(F.sum("c").cast("bigint").alias("cents"),
                F.count(F.lit(1)).cast("bigint").alias("n")))
    # Coalesce AFTER the pivot: an absent (priority, status) cell
    # reaches this select as NULL (the pre-pivot aggregate never runs
    # for missing groups), while the oracle's COALESCE/count_if emit 0.
    z = lambda c, a: F.coalesce(F.col(c), F.lit(0).cast("bigint")).alias(a)  # noqa: E731
    return piv.select(
        "o_orderpriority",
        z("O_cents", "o_cents"), z("O_n", "o_n"),
        z("F_cents", "f_cents"), z("F_n", "f_n"),
        z("P_cents", "p_cents"), z("P_n", "p_n"))


@register("emb_dimension_profile", """
SELECT CAST(t.i - 1 AS INTEGER) AS pos,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(vec[t.i] AS DECIMAL(20,9))) AS DOUBLE) / count(*)
         AS mean_val,
       MIN(vec[t.i]) AS min_val,
       MAX(vec[t.i]) AS max_val
FROM (SELECT embedding::DOUBLE[] AS vec FROM embeddings),
     unnest(range(1, len(vec) + 1)) AS t(i)
GROUP BY 1
""")
def emb_dimension_profile(spark, sf):
    # Embedding-table QA: per-dimension exact moments — a dead or
    # collapsed dimension (mean pinned, zero spread) is the classic
    # silent embedding-pipeline failure. DECIMAL-exact sums make the
    # mean order-independent (the kmeans_update device); min/max are
    # selections, not arithmetic. One posexplode + dimension-keyed
    # aggregate: shuffle carries 64 rows per partition after map-side
    # combine.
    emb = load_table(spark, sf, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("vec"))
    pos = emb.select(F.posexplode("vec").alias("pos", "v"))
    return (pos.groupBy("pos")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 (F.sum(F.col("v").cast("decimal(20,9)")).cast("double")
                  / F.count(F.lit(1))).alias("mean_val"),
                 F.min("v").alias("min_val"),
                 F.max("v").alias("max_val"))
            .select(F.col("pos").cast("int").alias("pos"),
                    "n", "mean_val", "min_val", "max_val"))


@register("f_json_functions", """
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
       json_extract_string(props, '$.missing') IS NOT NULL AS has_missing,
       CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
       CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS k_doubled
FROM events
""")
def f_json_functions(spark, sf):
    # The semi-structured JSON function family over a raw JSON string
    # column (props): path extraction (get_json_object), typed access
    # through a parsed struct (from_json — parse ONCE, then typed
    # field reads; the VariantType entry covers the Spark-4 binary
    # encoding), missing-path NULL semantics, and object-key
    # introspection. All map-only codegen expressions.
    ev = load_table(spark, sf, "events").select("event_id", "props")
    parsed = F.from_json("props", "k bigint")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        parsed.getField("k").alias("k_int"),
        F.get_json_object("props", "$.missing").isNotNull()
        .alias("has_missing"),
        F.size(F.json_object_keys("props")).alias("n_keys"),
        (parsed.getField("k") * 2).alias("k_doubled"))


@register("link_blocking_recall_eval", """
WITH sub AS (
  SELECT doc_id, substr(text, 1, 30) AS title FROM documents
  WHERE doc_id % 3 = 0 AND doc_id < 1500),
truth AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sub a JOIN sub b ON a.doc_id < b.doc_id
  WHERE levenshtein(a.title, b.title) <= 8),
toks AS (
  SELECT doc_id AS id, title AS s,
         unnest(list_distinct(string_split_regex(lower(trim(title)), ' +')))
           AS tok
  FROM sub),
dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
kept AS (
  SELECT t.id, t.s, t.tok FROM toks t
  JOIN dfreq d ON t.tok = d.tok WHERE d.df <= 100),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
  FROM kept a JOIN kept b ON a.tok = b.tok AND a.id < b.id),
found AS (
  SELECT id_a, id_b FROM cand WHERE levenshtein(sa, sb) <= 8),
j AS (
  SELECT t.id_a AS t_a, f.id_a AS f_a
  FROM truth t LEFT JOIN found f
    ON t.id_a = f.id_a AND t.id_b = f.id_b)
SELECT CAST(count(*) AS BIGINT) AS n_truth,
       CAST(count_if(f_a IS NOT NULL) AS BIGINT) AS n_found,
       CAST(count_if(f_a IS NULL) AS BIGINT) AS n_missed,
       CAST(count_if(f_a IS NOT NULL) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS recall
FROM j
""")
def link_blocking_recall_eval(spark, sf):
    # Linkage-tier quality gate (the recall-eval family applied to
    # fuzzy record linkage): does shared-token blocking lose real
    # matches? Truth = ALL-PAIRS levenshtein <= 8 on a deterministic
    # FIXED-SIZE audit sample (1-in-3 ids capped at id < 1500, i.e.
    # <= 500 docs at ANY scale — a fractional sample would keep the
    # quadratic truth growing with the corpus and cliff at 100 TB;
    # measured 10.6 s at sf0.1 before the cap, ~1 s after); found =
    # the production blocked+capped path on the same sample. A missed pair is one sharing NO kept token —
    # the blocking blind spot this entry measures. Exact counts, one
    # IEEE division.
    from yougile_etl_pipeline_spark.operators.linkage import fuzzy_self_join

    titles = (load_table(spark, sf, "documents")
              .filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 1500))
              .select("doc_id", F.substring("text", 1, 30).alias("title")))
    a = titles.select(F.col("doc_id").alias("id_a"),
                      F.col("title").alias("ta"))
    b = titles.select(F.col("doc_id").alias("id_b"),
                      F.col("title").alias("tb"))
    truth = (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .filter(F.levenshtein("ta", "tb") <= 8)
             .select("id_a", "id_b"))
    found = fuzzy_self_join(titles, "doc_id", "title",
                            max_dist=8, max_token_df=100) \
        .select("id_a", "id_b")
    j = truth.join(found.withColumn("f", F.lit(1)),
                   ["id_a", "id_b"], "left")
    hit = F.col("f").isNotNull()
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.count_if(hit).cast("bigint").alias("n_found"),
        F.count_if(~hit).cast("bigint").alias("n_missed"),
        (F.count_if(hit).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("recall"))


@register("stream_cumulative_users", """
WITH f AS (
  SELECT user_id, MIN(epoch_ms(ts) // 86400000) AS d0
  FROM events GROUP BY 1),
per_day AS (
  SELECT d0 AS day, CAST(count(*) AS BIGINT) AS new_users
  FROM f GROUP BY 1)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users
FROM per_day
""")
def stream_cumulative_users(spark, sf):
    # Streaming twin of events_cumulative_users: a stateful
    # first-touch detector (streaming/stateful.py::first_seen_stateful
    # — ONE int64 of state per known user, a (user, first_day) row
    # emitted exactly once) drained with availableNow, then rolled up
    # in batch to new-users-per-day + running cumulative. Shares the
    # batch entry's oracle VERBATIM — under the single-batch drain the
    # emitted first days equal the batch MIN aggregate exactly.
    from pyspark.sql.window import Window

    from yougile_etl_pipeline_spark.streaming.stateful import (
        run_first_seen_available_now,
    )

    first = run_first_seen_available_now(
        spark, sf, table_name="stream_first_seen_r11")
    per_day = first.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users"))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return per_day.select(
        "day", "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"))


@register("mm_png_flip_crop", """
WITH p AS (SELECT event_id AS id,
                  5 + event_id % 4 AS w, 3 + event_id % 4 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, 18), k ->
    (id + 11 * ((h - 2) // 2 + k // 9)
        + 5 * (w - 1 - ((w - 3) // 2 + (k % 9) // 3))
        + 3 * (k % 3)) % 256) AS px
  FROM p)
SELECT id AS media_id,
       CAST(w AS INTEGER) AS src_w, CAST(h AS INTEGER) AS src_h,
       CAST(list_sum(px) AS BIGINT) AS out_sum,
       CAST(list_min(px) AS INTEGER) AS out_min,
       CAST(list_max(px) AS INTEGER) AS out_max
FROM v
""")
def mm_png_flip_crop(spark, sf):
    # Augmentation pair (mirror + centered 2x3 crop) fed by the REAL
    # DEFLATE decode — the PNG sibling of the certified
    # mm_bmp_flip_crop, same closed-form transformed-grid oracle over
    # the PNG synth formula (k in range(18): rr = k div 9, cc =
    # (k mod 9) div 3, ch = k mod 3; flip c' = w-1-c, crop offsets
    # (dim-crop) div 2). Map-only mapInPandas pass.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        png_flip_crop_stats,
        synth_png_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return png_flip_crop_stats(synth_png_payloads(ev, "event_id"), 2, 3)


@register("events_zscore_anomaly_days", """
WITH d AS (SELECT epoch_ms(ts) // 86400000 AS day,
                  CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1),
s AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(SUM(n) AS BIGINT) AS tot,
             CAST(SUM(n * n) AS BIGINT) AS ssq FROM d)
SELECT day, n,
  CAST(nd * n - tot AS DOUBLE)
    / sqrt(CAST(nd AS DOUBLE)
           * (CAST(nd * ssq - tot * tot AS DOUBLE)
              / CAST(nd - 1 AS DOUBLE))) AS z,
  abs(CAST(nd * n - tot AS DOUBLE))
    > 2 * sqrt(CAST(nd AS DOUBLE)
               * (CAST(nd * ssq - tot * tot AS DOUBLE)
                  / CAST(nd - 1 AS DOUBLE))) AS is_anomaly
FROM d CROSS JOIN s
""")
def events_zscore_anomaly_days(spark, sf):
    # Daily-volume anomaly flags by global z-score — the monitoring
    # twin of the per-key MAD gate, hash-exact for a REAL-VALUED
    # statistic via the engine's sufficient-stats device: counts and
    # squared counts stay exact BIGINTs, z materializes in ONE
    # fixed-operand-order double expression (z = (nd·n − tot) /
    # sqrt(nd · (nd·ssq − tot²)/(nd−1)) — the numerator/denominator
    # are scaled by nd so no intermediate division happens), and the
    # |z| > 2 flag compares the same pre-scaled operands. sqrt is
    # IEEE-correctly-rounded on both engines (the agg_corr_exact
    # lesson). Day aggregate + a 1-row broadcast of the stats.
    ev = load_table(spark, sf, "events").select(
        F.expr("unix_millis(ts) div 86400000").alias("day"))
    d = ev.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s = d.agg(F.count(F.lit(1)).cast("bigint").alias("nd"),
              F.sum("n").cast("bigint").alias("tot"),
              F.sum(F.col("n") * F.col("n")).cast("bigint").alias("ssq"))
    j = d.crossJoin(F.broadcast(s))
    num = (F.col("nd") * F.col("n") - F.col("tot")).cast("double")
    den = F.sqrt(F.col("nd").cast("double")
                 * ((F.col("nd") * F.col("ssq")
                     - F.col("tot") * F.col("tot")).cast("double")
                    / (F.col("nd") - 1).cast("double")))
    return j.select("day", "n", (num / den).alias("z"),
                    (F.abs(num) > 2 * den).alias("is_anomaly"))


@register("mart_repeat_purchase_curve", """
WITH per_cust AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cust FROM per_cust),
banded AS (
  SELECT CASE WHEN n_orders >= 20 THEN 'ge_20'
              WHEN n_orders >= 10 THEN '10_19'
              WHEN n_orders >= 5 THEN '5_9'
              WHEN n_orders >= 2 THEN '2_4'
              ELSE '1' END AS order_band,
         n_orders
  FROM per_cust)
SELECT order_band,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(SUM(n_orders) AS BIGINT) AS n_orders,
       count(*) * 1000000 // MAX(tot.n_cust) AS customer_share_ppm
FROM banded CROSS JOIN tot GROUP BY 1
""")
def mart_repeat_purchase_curve(spark, sf):
    # Repeat-purchase frequency curve: customers banded by lifetime
    # order count with exact ppm shares — the loyalty-mix view next to
    # the band-migration matrix. One customer aggregate + a 5-row
    # rollup; the grand total rides a 1-row broadcast.
    o = load_table(spark, sf, "orders")
    per = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    tot = per.agg(F.count(F.lit(1)).cast("bigint").alias("n_cust"))
    band = (F.when(F.col("n_orders") >= 20, "ge_20")
            .when(F.col("n_orders") >= 10, "10_19")
            .when(F.col("n_orders") >= 5, "5_9")
            .when(F.col("n_orders") >= 2, "2_4")
            .otherwise("1"))
    return (per.select(band.alias("order_band"), "n_orders")
            .crossJoin(F.broadcast(tot))
            .groupBy("order_band")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"),
                 F.sum("n_orders").cast("bigint").alias("n_orders"),
                 F.expr("count(1) * 1000000 div max(n_cust)")
                 .alias("customer_share_ppm")))


@register("events_attribution_gap_bands", """
WITH j AS (
  SELECT epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
  FROM events c JOIN events p
    ON c.user_id = p.user_id
   AND epoch_ms(p.ts) > epoch_ms(c.ts)
   AND epoch_ms(p.ts) <= epoch_ms(c.ts) + 300000
  WHERE c.event_type = 'click' AND p.event_type = 'purchase'),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM j),
b AS (SELECT CASE WHEN gap_ms < 60000 THEN 'lt_1m'
                  WHEN gap_ms < 180000 THEN '1_3m'
                  ELSE '3_5m' END AS gap_band
      FROM j)
SELECT gap_band, CAST(count(*) AS BIGINT) AS n_pairs,
       count(*) * 1000000 // MAX(tot.n) AS share_ppm
FROM b CROSS JOIN tot GROUP BY 1
""")
def events_attribution_gap_bands(spark, sf):
    # Attribution-latency mix over the certified interval join: how
    # fast conversions follow clicks, banded with exact ppm shares —
    # the decay-curve input a weighted-attribution model starts from.
    # Reuses the banded-rewrite interval join (never the naive
    # inequality join the oracle states); the band rollup rides its
    # output.
    from yougile_etl_pipeline_spark.operators.relational import (
        interval_join,
    )

    ev = load_table(spark, sf, "events").withColumn(
        "ms", F.unix_millis("ts"))
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("user_id", F.col("event_id").alias("click_id"), "ms")
    buys = ev.filter(F.col("event_type") == "purchase") \
        .select("user_id", F.col("event_id").alias("purchase_id"), "ms")
    j = interval_join(clicks, buys, keys=["user_id"],
                      left_ts="ms", right_ts="ms", max_gap_ms=300000) \
        .select((F.col("ms_r") - F.col("ms")).alias("gap_ms"))
    tot = j.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    band = (F.when(F.col("gap_ms") < 60000, "lt_1m")
            .when(F.col("gap_ms") < 180000, "1_3m")
            .otherwise("3_5m"))
    return (j.select(band.alias("gap_band"))
            .crossJoin(F.broadcast(tot))
            .groupBy("gap_band")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.expr("count(1) * 1000000 div max(n)")
                 .alias("share_ppm")))


@register("events_mann_kendall_trend", """
WITH d AS (
  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
         CAST(count(*) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
p AS (
  SELECT a.event_type,
         CAST(SUM(CASE WHEN b.v > a.v THEN 1
                       WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY 1),
n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM d GROUP BY 1),
ties AS (
  SELECT event_type, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
           AS tie_term
  FROM (SELECT event_type, v, CAST(count(*) AS BIGINT) AS t
        FROM d GROUP BY 1, 2) GROUP BY 1),
j AS (
  SELECT n.event_type, n.n,
         CAST(COALESCE(p.s, 0) AS BIGINT) AS s,
         CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term
              AS BIGINT) AS var18_num,
         CAST(CASE WHEN COALESCE(p.s, 0) > 0 THEN p.s - 1
                   WHEN COALESCE(p.s, 0) < 0 THEN p.s + 1 ELSE 0 END
              AS BIGINT) AS s_adj
  FROM n LEFT JOIN p USING (event_type) JOIN ties USING (event_type))
SELECT event_type, n, s, var18_num,
       CASE WHEN var18_num > 0
            THEN CAST(s_adj AS DOUBLE)
                 / sqrt(CAST(var18_num AS DOUBLE) / 18.0)
            ELSE 0.0 END AS z,
       abs(CAST(s_adj AS DOUBLE))
         > 1.96 * sqrt(CAST(var18_num AS DOUBLE) / 18.0) AS significant
FROM j
""")
def events_mann_kendall_trend(spark, sf):
    # Mann–Kendall monotone-trend test over daily volumes per event
    # type — the non-parametric drift gate (theil_sen estimates the
    # slope, this tests the direction): S and the tie-corrected
    # variance numerator stay exact int64, z and the 5% significance
    # flag materialize in one divide-then-sqrt fixed-operand
    # expression, so even the test decision hash-pairs. Pairwise sum
    # runs on the DAY-level aggregate (quadratic in days-per-type,
    # never in events) — operators/timeseries.py::mann_kendall_trend.
    from yougile_etl_pipeline_spark.operators.timeseries import (
        mann_kendall_trend,
    )

    ev = load_table(spark, sf, "events").select(
        "event_type", F.expr("unix_millis(ts) div 86400000").alias("day"))
    d = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("v"))
    return mann_kendall_trend(d, "event_type", "day", "v")


@register("dedup_cluster_purity_eval", f"""
WITH RECURSIVE ex AS (
  SELECT doc_id AS doc, unnest({_shingles_sql()}) AS sh FROM documents
), sig AS (
  SELECT doc, {_MH_MINS} FROM ex GROUP BY doc
), bk AS (
  {_MH_BANDS}
), pairs AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                     AND a.doc < b.doc
  GROUP BY 1, 2
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
), comp AS (
  SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
), fp AS (
  SELECT doc_id, md5(substr(text, 1, 120)) AS fp
  FROM documents
), truth AS (
  SELECT a.doc_id AS pa, b.doc_id AS pb
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
), cpairs AS (
  SELECT a.node AS pa, b.node AS pb
  FROM comp a JOIN comp b
    ON a.component = b.component AND a.node < b.node
), j AS (
  SELECT t.pa AS ta, c.pa AS ca
  FROM truth t FULL OUTER JOIN cpairs c
    ON t.pa = c.pa AND t.pb = c.pb
)
SELECT CAST(count_if(ta IS NOT NULL) AS BIGINT) AS n_truth,
       CAST(count_if(ca IS NOT NULL) AS BIGINT) AS n_cluster_pairs,
       CAST(count_if(ta IS NOT NULL AND ca IS NOT NULL) AS BIGINT)
         AS n_hits,
       CAST(count_if(ta IS NOT NULL AND ca IS NOT NULL) AS DOUBLE)
         / CAST(count_if(ta IS NOT NULL) AS DOUBLE) AS recall,
       CAST(count_if(ta IS NOT NULL AND ca IS NOT NULL) AS DOUBLE)
         / CAST(count_if(ca IS NOT NULL) AS DOUBLE) AS precision
FROM j
""")
def dedup_cluster_purity_eval(spark, sf):
    # The dedup-tier CLUSTERING scorecard, fully oracle-paired: truth
    # = documents sharing a 120-char PREFIX fingerprint (the
    # mirrored-page / syndicated-lead duplication this corpus actually
    # contains — it has NO full-text exact dups, so a full-fingerprint
    # truth would be vacuously empty), measured against the LSH
    # near-dup connected components. Recall reads how much
    # prefix-level duplication the shingle clustering captures (<1 by
    # design: a shared lead with a divergent tail can fall under the
    # Jaccard threshold); precision how far clusters extend beyond it.
    # Truth pairs enumerate per fingerprint group, cluster pairs per
    # component — both bounded by group size, never corpus-quadratic.
    from pyspark.sql.window import Window  # noqa: F401

    from yougile_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from yougile_etl_pipeline_spark.operators.graph import (
        connected_components,
    )

    docs = load_table(spark, sf, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text",
                              n_hashes=8, bands=4)
    comp = connected_components(pairs, docs.select("doc_id"),
                                src="doc_a", dst="doc_b",
                                node_col="doc_id")
    fp = docs.select(
        "doc_id",
        F.md5(F.substring("text", 1, 120)).alias("fp"))
    t_a = fp.select(F.col("doc_id").alias("pa"), "fp")
    t_b = fp.select(F.col("doc_id").alias("pb"), "fp")
    truth = (t_a.join(t_b, "fp")
             .filter(F.col("pa") < F.col("pb"))
             .select("pa", "pb"))
    c_a = comp.select(F.col("node").alias("pa"), "component")
    c_b = comp.select(F.col("node").alias("pb"), "component")
    cpairs = (c_a.join(c_b, "component")
              .filter(F.col("pa") < F.col("pb"))
              .select("pa", "pb"))
    j = truth.withColumn("t", F.lit(1)).join(
        cpairs.withColumn("c", F.lit(1)), ["pa", "pb"], "full_outer")
    t_has = F.col("t").isNotNull()
    c_has = F.col("c").isNotNull()
    return j.agg(
        F.count_if(t_has).cast("bigint").alias("n_truth"),
        F.count_if(c_has).cast("bigint").alias("n_cluster_pairs"),
        F.count_if(t_has & c_has).cast("bigint").alias("n_hits"),
        (F.count_if(t_has & c_has).cast("double")
         / F.count_if(t_has).cast("double")).alias("recall"),
        (F.count_if(t_has & c_has).cast("double")
         / F.count_if(c_has).cast("double")).alias("precision"))


@register("sim_ivf_recall_eval", f"""
WITH qsrc AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id % 41 = 0),
csrc AS (SELECT vec_id AS match_id, embedding::DOUBLE[] AS cv
         FROM embeddings),
truth AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {_CSIM.format(a='qv', b='cv')}
                                DESC, match_id) AS rn
    FROM qsrc CROSS JOIN csrc WHERE query_id != match_id)
  WHERE rn <= 5),
qa AS ({_ivf_assign_sql('qsrc', 'query_id', 'qv')}),
ca AS ({_ivf_assign_sql('csrc', 'match_id', 'cv')}),
cand AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {_CSIM.format(a='qv', b='cv')}
                                DESC, match_id) AS rank
    FROM qa JOIN ca USING (centroid_id)
    WHERE query_id != match_id)
  WHERE rank <= 5),
j AS (
  SELECT t.query_id AS tq, c.query_id AS cq
  FROM truth t LEFT JOIN cand c
    ON t.query_id = c.query_id AND t.match_id = c.match_id)
SELECT CAST(count(DISTINCT tq) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_truth,
       CAST(count_if(cq IS NOT NULL) AS BIGINT) AS n_hits,
       CAST(count_if(cq IS NOT NULL) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS recall_at_5
FROM j
""")
def sim_ivf_recall_eval(spark, sf):
    # The PRODUCTION ANN path's assertable quality gate (completing
    # the recall-eval family next to sim_pq_recall_eval): recall@5 of
    # the √N-adaptive IVF search against the exact brute-force cosine
    # truth on a deterministic 1-in-41 query set — both sides
    # deterministic, so the recall number itself is a hash-exact,
    # CI-assertable query. Misses are exactly the neighbors living in
    # a list the single probe never visits — the number nprobe trades
    # against. As with sim_pq_recall_eval, the measured value at the
    # certification scales (~0.2 — √500 ≈ 22 centroids, nprobe=1, a
    # 500-vector corpus) is honest data for THIS oracle-sized config;
    # bench.py's recall block reports the sf0.1 production sizing at
    # 0.975/1.0. The entry's point is that the measurement reproduces
    # to the bit.
    import math

    from yougile_etl_pipeline_spark.operators.similarity import (
        brute_force_topk_np,
        ivf_topk_np,
    )

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 41 == 0)
    centroids = emb.filter(
        F.col("vec_id") < int(round(math.sqrt(
            table_row_count(sf, "embeddings")))))
    truth = brute_force_topk_np(emb, queries, k=5) \
        .select("query_id", "match_id")
    cand = ivf_topk_np(emb, queries, centroids, k=5) \
        .select("query_id", "match_id")
    j = truth.join(cand.withColumn("c", F.lit(1)),
                   ["query_id", "match_id"], "left")
    hit = F.col("c").isNotNull()
    return j.agg(
        F.count_distinct("query_id").cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.count_if(hit).cast("bigint").alias("n_hits"),
        (F.count_if(hit).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("recall_at_5"))
