"""Round-7 query registrations.

Every oracle below is the exact SQL proven bit-identical against the
engine in its per-op test (file named per entry) at BOTH sf0.001 and
the driver's certification scale sf0.01. The engine sides are the same
operator calls the tests exercise. Same determinism contract as
registry.py's module docstring; one rule learned building these
(SCALE.md §Determinism): wide-decimal→double casts in oracles go
through VARCHAR because DuckDB's direct cast double-rounds past 2^53.
"""

from __future__ import annotations

from yougile_etl_pipeline_spark.registry_base import register
from yougile_etl_pipeline_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Real-codec media statistics (tests/test_media_codec.py) — the
# encode → container → decode proof: the engine decodes BYTES it built
# through the real RIFF/BMP layouts, the oracle evaluates the
# closed-form signal the payloads were synthesized from. Equality
# proves the codec, not just the plumbing.
# ---------------------------------------------------------------------------

@register("mm_wav_stats", """
SELECT event_id AS media_id,
  CAST(1 AS INTEGER) AS channels,
  CAST(8000 + (event_id % 8) * 1000 AS INTEGER) AS sample_rate,
  CAST(50 + event_id % 100 AS BIGINT) AS n_frames,
  CAST(list_sum(list_transform(range(0, CAST(50 + event_id % 100 AS BIGINT)),
       i -> ((event_id*31 + i*17) % 65536 - 32768)
          * ((event_id*31 + i*17) % 65536 - 32768))) AS BIGINT) AS sum_sq,
  CAST(list_min(list_transform(range(0, CAST(50 + event_id % 100 AS BIGINT)),
       i -> (event_id*31 + i*17) % 65536 - 32768)) AS INTEGER) AS s_min,
  CAST(list_max(list_transform(range(0, CAST(50 + event_id % 100 AS BIGINT)),
       i -> (event_id*31 + i*17) % 65536 - 32768)) AS INTEGER) AS s_max
FROM events
""")
def mm_wav_stats(spark, sf):
    from yougile_etl_pipeline_spark.operators.multimodal import (
        synth_wav_payloads,
        wav_stats,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return wav_stats(synth_wav_payloads(ev, "event_id"))


@register("mm_bmp_stats", """
SELECT p_partkey AS media_id,
  CAST(4 + p_partkey % 5 AS INTEGER) AS width,
  CAST(3 + p_partkey % 4 AS INTEGER) AS height,
  CAST(list_sum(list_transform(
       range(0, CAST((3 + p_partkey % 4) * (4 + p_partkey % 5) * 3
                     AS BIGINT)),
       i -> (p_partkey
             + 7 * (i // ((4 + p_partkey % 5) * 3))
             + 3 * ((i % ((4 + p_partkey % 5) * 3)) // 3)
             + (i % 3)) % 256)) AS BIGINT) AS px_sum,
  CAST(list_min(list_transform(
       range(0, CAST((3 + p_partkey % 4) * (4 + p_partkey % 5) * 3
                     AS BIGINT)),
       i -> (p_partkey
             + 7 * (i // ((4 + p_partkey % 5) * 3))
             + 3 * ((i % ((4 + p_partkey % 5) * 3)) // 3)
             + (i % 3)) % 256)) AS INTEGER) AS px_min,
  CAST(list_max(list_transform(
       range(0, CAST((3 + p_partkey % 4) * (4 + p_partkey % 5) * 3
                     AS BIGINT)),
       i -> (p_partkey
             + 7 * (i // ((4 + p_partkey % 5) * 3))
             + 3 * ((i % ((4 + p_partkey % 5) * 3)) // 3)
             + (i % 3)) % 256)) AS INTEGER) AS px_max
FROM part
""")
def mm_bmp_stats(spark, sf):
    from yougile_etl_pipeline_spark.operators.multimodal import (
        bmp_stats,
        synth_bmp_payloads,
    )

    parts = load_table(spark, sf, "part").select("p_partkey")
    return bmp_stats(synth_bmp_payloads(parts, "p_partkey"))


# ---------------------------------------------------------------------------
# Concentration + drift analytics (tests/test_gini_ks.py)
# ---------------------------------------------------------------------------

@register("quality_gini", """
WITH vals AS (
  SELECT o_orderpriority AS grp,
         CAST(o_totalprice AS DECIMAL(24,6)) AS x
  FROM orders WHERE o_totalprice IS NOT NULL),
ranked AS (
  SELECT grp, x,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY x)
              AS BIGINT) AS i
  FROM vals),
agg AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         SUM(x) AS s, SUM(i * x) AS s1
  FROM ranked GROUP BY 1)
SELECT grp AS o_orderpriority, n,
       CAST(CAST(s AS VARCHAR) AS DOUBLE) AS total,
       CASE WHEN n * s <> 0
            THEN CAST(CAST(2 * s1 - (n + 1) * s AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(n * s AS VARCHAR) AS DOUBLE)
       END AS gini
FROM agg
""")
def quality_gini(spark, sf):
    from yougile_etl_pipeline_spark.operators.quality import gini_by_group

    return gini_by_group(load_table(spark, sf, "orders"),
                         "o_orderpriority", "o_totalprice")


@register("events_ks_global", """
WITH vals AS (
  SELECT event_type AS grp, value AS v
  FROM events WHERE value IS NOT NULL),
points AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cnt_all FROM vals GROUP BY 1),
gcnt AS (
  SELECT grp, v, CAST(count(*) AS BIGINT) AS cnt_g
  FROM vals GROUP BY 1, 2),
groups AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_group FROM vals GROUP BY 1),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM vals),
grid AS (
  SELECT g.grp, g.n_group, t.n_total, p.v, p.cnt_all,
         COALESCE(c.cnt_g, 0) AS cg
  FROM groups g CROSS JOIN total t CROSS JOIN points p
  LEFT JOIN gcnt c ON c.grp = g.grp AND c.v = p.v),
cdf AS (
  SELECT grp, n_group, n_total,
         SUM(cg) OVER (PARTITION BY grp ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cum_g,
         SUM(cnt_all) OVER (PARTITION BY grp ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum_all
  FROM grid)
SELECT grp AS event_type, n_group, n_total,
       MAX(ABS(CAST(cum_g AS DOUBLE) / n_group
               - CAST(cum_all AS DOUBLE) / n_total)) AS ks_d
FROM cdf GROUP BY 1, 2, 3
""")
def events_ks_global(spark, sf):
    from yougile_etl_pipeline_spark.operators.quality import ks_by_group

    return ks_by_group(load_table(spark, sf, "events"),
                       "event_type", "value")


# ---------------------------------------------------------------------------
# Corpus routing + tokenizer economics (tests/test_code_fertility.py)
# ---------------------------------------------------------------------------

@register("text_code_profile", """
WITH counts AS (
  SELECT doc_id,
         CAST(length(text) AS INTEGER) AS n_chars,
         CAST(length(text) - length(regexp_replace(
              text, '[^A-Za-z0-9 ]', '', 'g')) AS INTEGER) AS n_symbols,
         CAST(length(text) - length(regexp_replace(
              text, '[{}();=<>\\[\\]]', '', 'g')) AS INTEGER)
           AS n_code_punct
  FROM documents)
SELECT doc_id, n_chars, n_symbols, n_code_punct,
       CASE WHEN n_chars > 0
            THEN CAST(n_symbols AS BIGINT) * 1000000 // n_chars
            ELSE 0 END AS symbol_ppm,
       CASE WHEN n_chars > 0
            THEN CAST(n_code_punct AS BIGINT) * 1000000 // n_chars
            ELSE 0 END AS code_punct_ppm,
       (CASE WHEN n_chars > 0
             THEN CAST(n_symbols AS BIGINT) * 1000000 // n_chars
             ELSE 0 END) >= 20000 AS is_code_like
FROM counts
""")
def text_code_profile(spark, sf):
    from yougile_etl_pipeline_spark.operators.text import code_prose_profile

    return code_prose_profile(load_table(spark, sf, "documents"))


@register("text_bpe_fertility", """
WITH per_doc AS (
  SELECT lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(len(regexp_extract_all(
              text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe
  FROM documents),
agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         SUM(n_tok) AS total_tokens, SUM(n_bpe) AS total_bpe_tokens
  FROM per_doc GROUP BY 1)
SELECT lang, n_docs,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(total_bpe_tokens AS BIGINT) AS total_bpe_tokens,
       CASE WHEN total_tokens > 0
            THEN CAST(total_bpe_tokens AS DOUBLE)
                 / CAST(total_tokens AS DOUBLE)
       END AS fertility
FROM agg
""")
def text_bpe_fertility(spark, sf):
    from yougile_etl_pipeline_spark.operators.text import (
        bpe_fertility_by_lang,
    )

    return bpe_fertility_by_lang(load_table(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# BFS layers (tests/test_bfs_layers.py) — same modular graph as the
# other iterative graph entries, seeds = multiples of 10
# ---------------------------------------------------------------------------

@register("graph_bfs_layers", """
WITH d0 AS (
  SELECT DISTINCT doc_id % 40 AS x, (doc_id * 7 + 3) % 40 AS y
  FROM documents WHERE doc_id % 40 <> (doc_id * 7 + 3) % 40),
e0 AS (SELECT x AS a, y AS b FROM d0 UNION SELECT y, x FROM d0),
l0 AS (SELECT DISTINCT doc_id % 40 AS node FROM documents
       WHERE (doc_id % 40) % 10 = 0),
l1 AS (
  SELECT DISTINCT e0.b AS node FROM e0 JOIN l0 ON e0.a = l0.node
  WHERE e0.b NOT IN (SELECT node FROM l0)),
l2 AS (
  SELECT DISTINCT e0.b AS node FROM e0 JOIN l1 ON e0.a = l1.node
  WHERE e0.b NOT IN (SELECT node FROM l0)
    AND e0.b NOT IN (SELECT node FROM l1)),
l3 AS (
  SELECT DISTINCT e0.b AS node FROM e0 JOIN l2 ON e0.a = l2.node
  WHERE e0.b NOT IN (SELECT node FROM l0)
    AND e0.b NOT IN (SELECT node FROM l1)
    AND e0.b NOT IN (SELECT node FROM l2))
SELECT node, 0 AS layer FROM l0
UNION ALL SELECT node, 1 FROM l1
UNION ALL SELECT node, 2 FROM l2
UNION ALL SELECT node, 3 FROM l3
""")
def graph_bfs_layers(spark, sf):
    from pyspark.sql import functions as F

    from yougile_etl_pipeline_spark.operators.graph import bfs_layers

    d = load_table(spark, sf, "documents")
    edges = d.select((F.col("doc_id") % 40).alias("src"),
                     ((F.col("doc_id") * 7 + 3) % 40).alias("dst"))
    seeds = d.select((F.col("doc_id") % 40).alias("node")) \
             .filter(F.col("node") % 10 == 0)
    return bfs_layers(edges, seeds, rounds=3)


# ---------------------------------------------------------------------------
# Streaming exact dedup (tests/test_stream_dedup.py) — oracle-paired,
# not rows-only: the key projection of dropDuplicatesWithinWatermark
# under an availableNow drain is deterministic (see the operator
# docstring for why the full surviving rows are not).
# ---------------------------------------------------------------------------

@register("stream_dedup_keys",
          "SELECT DISTINCT user_id, event_type FROM events")
def stream_dedup_keys(spark, sf):
    from yougile_etl_pipeline_spark.streaming.snapshot import (
        run_dedup_keys_available_now,
    )

    return run_dedup_keys_available_now(
        spark, sf, table_name="stream_dedup_reg")


# ---------------------------------------------------------------------------
# decode_media itself over a MIXED corpus (tests/test_media_codec.py::
# test_decode_media_mixed_duckdb_parity) — certifies the default
# magic-dispatched decoder, i.e. the stub retirement, end-to-end.
# Features are integral doubles crossing the boundary as a
# comma-joined BIGINT string (float formatting differs between
# engines; exact integers do not).
# ---------------------------------------------------------------------------

@register("mm_media_features", """
SELECT event_id AS media_id,
  CAST(50 + event_id % 100 AS BIGINT) || ',' ||
  CAST(8000 + (event_id % 8) * 1000 AS BIGINT) || ',1,' ||
  CAST(CAST(list_sum(list_transform(
       range(0, CAST(50 + event_id % 100 AS BIGINT)),
       i -> ((event_id*31 + i*17) % 65536 - 32768)
          * ((event_id*31 + i*17) % 65536 - 32768))) AS BIGINT)
       AS VARCHAR) AS feature_csv,
  CAST(44 + 2 * (50 + event_id % 100) AS BIGINT) AS n_bytes
FROM events
UNION ALL
SELECT 10000000 + p_partkey AS media_id,
  CAST(4 + p_partkey % 5 AS BIGINT) || ',' ||
  CAST(3 + p_partkey % 4 AS BIGINT) || ',' ||
  CAST(3 * (4 + p_partkey % 5) * (3 + p_partkey % 4) AS BIGINT)
    || ',' ||
  CAST(CAST(list_sum(list_transform(
       range(0, CAST((3 + p_partkey % 4) * (4 + p_partkey % 5) * 3
                     AS BIGINT)),
       i -> (10000000 + p_partkey
             + 7 * (i // ((4 + p_partkey % 5) * 3))
             + 3 * ((i % ((4 + p_partkey % 5) * 3)) // 3)
             + (i % 3)) % 256)) AS BIGINT) AS VARCHAR) AS feature_csv,
  CAST(54 + (3 * (4 + p_partkey % 5)
             + (4 - (3 * (4 + p_partkey % 5)) % 4) % 4)
           * (3 + p_partkey % 4) AS BIGINT) AS n_bytes
FROM part
""")
def mm_media_features(spark, sf):
    from pyspark.sql import functions as F

    from yougile_etl_pipeline_spark.operators.multimodal import (
        decode_media,
        synth_bmp_payloads,
        synth_wav_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    parts = load_table(spark, sf, "part").select("p_partkey")
    wav = synth_wav_payloads(ev, "event_id") \
        .withColumn("media_type", F.lit("audio"))
    bmp = synth_bmp_payloads(
        parts.select((F.col("p_partkey") + 10_000_000)
                     .alias("media_id")), "media_id") \
        .withColumn("media_type", F.lit("image"))
    feats = decode_media(wav.unionByName(bmp))
    return feats.select(
        "media_id",
        F.concat_ws(",", F.transform(
            "feature", lambda x: x.cast("bigint").cast("string")))
         .alias("feature_csv"),
        "n_bytes")


# ---------------------------------------------------------------------------
# Map-typed column functions (tests/test_map_functions.py) — the one
# function family the registered surface didn't touch. The engine
# routes every output THROUGH map operations; the oracle computes the
# same values from plain column arithmetic (maps are engine-internal,
# semantics are what's checked).
# ---------------------------------------------------------------------------

@register("f_map_functions", """
SELECT event_id,
  CASE WHEN event_id % 2 = 0 AND user_id % 2 = 0 THEN 'eid,uid'
       WHEN event_id % 2 = 0 THEN 'eid'
       WHEN user_id % 2 = 0 THEN 'uid'
       ELSE '' END AS even_keys_csv,
  CAST(event_id + user_id AS BIGINT) AS vals_sum,
  CAST(user_id AS BIGINT) AS uid_lookup,
  CAST(event_id * 2 AS BIGINT) AS eid_doubled,
  CAST(3 AS INTEGER) AS merged_size,
  'eid=' || CAST(event_id AS BIGINT) || ';uid=' ||
    CAST(user_id AS BIGINT) AS entries_csv
FROM events
""")
def f_map_functions(spark, sf):
    from pyspark.sql import functions as F

    ev = load_table(spark, sf, "events").select("event_id", "user_id")
    m = F.create_map(
        F.lit("eid"), F.col("event_id").cast("bigint"),
        F.lit("uid"), F.col("user_id").cast("bigint"))
    even = F.map_filter(m, lambda k, v: v % 2 == 0)
    doubled = F.transform_values(m, lambda k, v: v * 2)
    merged = F.map_concat(m, F.create_map(F.lit("extra"),
                                          F.lit(7).cast("bigint")))
    entries = F.transform(
        F.sort_array(F.map_entries(m)),
        lambda e: F.concat(e["key"], F.lit("="),
                           e["value"].cast("string")))
    return ev.select(
        "event_id",
        F.concat_ws(",", F.sort_array(F.map_keys(even)))
         .alias("even_keys_csv"),
        F.aggregate(F.map_values(m), F.lit(0).cast("bigint"),
                    lambda acc, v: acc + v).alias("vals_sum"),
        F.element_at(m, "uid").alias("uid_lookup"),
        F.element_at(doubled, "eid").alias("eid_doubled"),
        F.size(merged).alias("merged_size"),
        F.concat_ws(";", entries).alias("entries_csv"))


# ---------------------------------------------------------------------------
# Seasonal anomaly flags (tests/test_seasonal_anomalies.py) — the
# certified halves composed: seasonal_baseline residuals scored by
# per-type median/MAD. A value is anomalous only vs its own
# hour-of-week slot history.
# ---------------------------------------------------------------------------

@register("events_seasonal_anomalies", """
WITH keyed AS (
  SELECT event_id, event_type, value,
         dayofweek(ts) + 1 AS dow, hour(ts) AS hod
  FROM events),
prof AS (
  SELECT event_type, dow, hod,
         CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS baseline_mean
  FROM keyed WHERE value IS NOT NULL
  GROUP BY 1, 2, 3),
resid AS (
  SELECT k.event_id, k.event_type, k.value, p.baseline_mean,
         k.value - p.baseline_mean AS baseline_residual
  FROM keyed k
  JOIN prof p USING (event_type, dow, hod)
  WHERE k.value IS NOT NULL),
r1 AS (
  SELECT event_type, baseline_residual,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY baseline_residual) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM resid),
med AS (
  SELECT event_type, SUM(baseline_residual) / COUNT(*) AS median
  FROM r1 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1),
base AS (
  SELECT v.event_id, v.event_type, v.value, v.baseline_mean,
         v.baseline_residual, m.median,
         abs(v.baseline_residual - m.median) AS abs_dev
  FROM resid v JOIN med m USING (event_type)),
r2 AS (
  SELECT event_type, abs_dev,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs_dev) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM base),
mad AS (
  SELECT event_type, SUM(abs_dev) / COUNT(*) AS mad
  FROM r2 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1)
SELECT b.event_id, b.event_type, b.value, b.baseline_mean,
       b.baseline_residual, b.median, d.mad,
       (b.baseline_residual - b.median) / d.mad AS robust_z
FROM base b JOIN mad d USING (event_type)
WHERE d.mad > 0 AND b.abs_dev > 3.0 * d.mad
""")
def events_seasonal_anomalies(spark, sf):
    from yougile_etl_pipeline_spark.operators.quality import mad_outliers
    from yougile_etl_pipeline_spark.operators.timeseries import (
        seasonal_baseline,
    )

    ev = load_table(spark, sf, "events") \
        .select("event_id", "event_type", "ts", "value")
    resid = (seasonal_baseline(ev, "ts", "value",
                               group_cols=["event_type"])
             .select("event_id", "event_type", "value",
                     "baseline_mean", "baseline_residual"))
    return (mad_outliers(resid, "event_type", "baseline_residual",
                         k=3.0)
            .filter("is_outlier")
            .select("event_id", "event_type", "value", "baseline_mean",
                    "baseline_residual", "median", "mad", "robust_z"))


# ---------------------------------------------------------------------------
# Pareto coverage at top-k cuts (tests/test_pareto_coverage.py) — the
# "what share of revenue do the top k parts carry" readout over the
# bucket-stitched abc_analysis ranking; wide-decimal → double goes
# through VARCHAR in the oracle per the SCALE.md round-6 gotcha.
# ---------------------------------------------------------------------------

@register("mart_pareto_coverage", """
WITH rev AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS r
  FROM lineitem GROUP BY 1),
tot AS (SELECT SUM(r) AS t FROM rev),
ranked AS (
  SELECT l_partkey, r, t,
         SUM(r) OVER (ORDER BY r DESC, l_partkey
                      ROWS UNBOUNDED PRECEDING) AS cum,
         CAST(row_number() OVER (ORDER BY r DESC, l_partkey)
              AS BIGINT) AS rank
  FROM rev CROSS JOIN tot)
SELECT rank AS k,
       CAST(CAST(r AS VARCHAR) AS DOUBLE) AS revenue_at_k,
       CAST(CAST(cum AS VARCHAR) AS DOUBLE) AS cum_revenue,
       CAST(CAST(cum AS VARCHAR) AS DOUBLE)
         / CAST(CAST(t AS VARCHAR) AS DOUBLE) AS coverage_share
FROM ranked WHERE rank IN (10, 100, 1000)
""")
def mart_pareto_coverage(spark, sf):
    from pyspark.sql import functions as F

    from yougile_etl_pipeline_spark.operators.quality import abc_analysis

    li = load_table(spark, sf, "lineitem")
    tot = li.agg(F.sum(F.col("l_extendedprice").cast("decimal(24,6)"))
                  .cast("double").alias("__tot"))
    abc = abc_analysis(li, "l_partkey", "l_extendedprice")
    return (abc.filter(F.col("rank").isin(10, 100, 1000))
               .crossJoin(F.broadcast(tot))
               .select(F.col("rank").alias("k"),
                       F.col("revenue").alias("revenue_at_k"),
                       "cum_revenue",
                       (F.col("cum_revenue") / F.col("__tot"))
                        .alias("coverage_share")))


# ---------------------------------------------------------------------------
# Round-7 later registrations, oracle-proven at sf0.001 AND sf0.01.
# Six entries: the media family's first compressed format (RLE8) and
# first DSP op (integer resampling), three new streaming shapes
# (stateful top-k, stream-static enrichment rollup, watermark-evicted
# session emission), and the corpus-release capstone chaining
# dedup → decontam → gate → quota → manifest.
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402


@register("mm_wav_resample", """
WITH p AS (
  SELECT event_id, 50 + event_id % 100 AS n,
         8000 + (event_id % 8) * 1000 AS rate
  FROM events),
r AS (
  SELECT event_id, n, rate,
         list_transform(range(0, CAST((3*n + 1) // 2 AS BIGINT)),
           j -> (event_id*31 + ((2*j) // 3) * 17) % 65536 - 32768) AS v
  FROM p)
SELECT event_id AS media_id,
  CAST(n AS BIGINT) AS n_in,
  CAST((3*n + 1) // 2 AS BIGINT) AS n_out,
  CAST(rate * 3 AS BIGINT) AS rate_out_num,
  CAST(list_sum(v) AS BIGINT) AS sum_out,
  CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS sum_sq_out,
  CAST(list_min(v) AS INTEGER) AS r_min,
  CAST(list_max(v) AS INTEGER) AS r_max
FROM r
""")
def mm_wav_resample(spark, sf):
    # Integer zero-order-hold resampling (up 3 / down 2) through the
    # REAL codec path: synth payloads → RIFF container → chunk-walk
    # decode → index-math resample (media_codec.pcm_resample_zoh).
    # The oracle evaluates out[j] = s[(2j) div 3] on the closed-form
    # signal — encoder, container, decoder and resampler all proven
    # in one hash (tests/test_media_r07.py).
    from yougile_etl_pipeline_spark.operators.multimodal import (
        synth_wav_payloads,
        wav_resample_stats,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return wav_resample_stats(synth_wav_payloads(ev, "event_id"), 3, 2)


@register("mm_bmp_rle8", """
WITH p AS (
  SELECT p_partkey AS id, 6 + p_partkey % 7 AS w,
         2 + p_partkey % 5 AS h, 1 + p_partkey % 4 AS rl
  FROM part),
v AS (
  SELECT id, w, h,
         list_transform(range(0, CAST(w*h AS BIGINT)),
           i -> (id + 5 * (i // w) + (i % w) // rl) % 23) AS px
  FROM p)
SELECT id AS media_id,
  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
  CAST(list_sum(px) AS BIGINT) AS px_sum,
  CAST(list_min(px) AS INTEGER) AS px_min,
  CAST(list_max(px) AS INTEGER) AS px_max
FROM v
""")
def mm_bmp_rle8(spark, sf):
    # The engine's first COMPRESSED-format decode: BI_RLE8 8-bpp BMPs
    # (run/absolute/EOL/EOB escapes — pure spec parsing, no codec
    # library), run-length encoded by the paired encoder from a
    # closed-form index image with non-trivial horizontal runs. The
    # oracle computes the decoded statistics from the pixel formula
    # without seeing a byte (tests/test_media_r07.py).
    from yougile_etl_pipeline_spark.operators.multimodal import (
        bmp_rle8_stats,
        synth_bmp_rle8_payloads,
    )

    pt = load_table(spark, sf, "part").select("p_partkey")
    return bmp_rle8_stats(synth_bmp_rle8_payloads(pt, "p_partkey"))


@register("stream_topk_state", """
SELECT event_type, CAST(rank AS INTEGER) AS rank, event_id, value FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rank
  FROM events) WHERE rank <= 5
""")
def stream_topk_state(spark, sf):
    # Stateful streaming top-k (streaming/stateful.py::topk_stateful):
    # O(k) state per key, total-order tie-break, hash-exact against
    # the batch row_number window under the availableNow single-drain
    # determinism argument (tests/test_stream_r07.py).
    from yougile_etl_pipeline_spark.streaming.stateful import (
        run_topk_available_now,
    )

    return run_topk_available_now(spark, sf, k=5,
                                  table_name="stream_topk_reg")


@register("stream_segment_rollup", """
WITH dim AS (SELECT c_custkey % 100 AS user_id,
                    min(c_mktsegment) AS segment
             FROM customer GROUP BY 1)
SELECT coalesce(segment, 'UNKNOWN') AS segment,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
FROM events e LEFT JOIN dim d ON e.user_id = d.user_id
GROUP BY 1
""")
def stream_segment_rollup(spark, sf):
    # Stream-static enrichment + complete-mode rollup
    # (streaming/snapshot.py::segment_counts_stream): the bounded
    # user→segment dim is broadcast so the stream never shuffles for
    # the join; complete mode makes the tiny aggregate deterministic
    # at any micro-batch slicing (tests/test_stream_r07.py).
    from yougile_etl_pipeline_spark.streaming.snapshot import (
        run_segments_available_now,
    )

    return run_segments_available_now(spark, sf,
                                      table_name="stream_segments_reg")


@register("stream_sessions_final", """
WITH mx AS (SELECT epoch_ms(max(ts)) AS m FROM events),
x AS (
  SELECT user_id, ts, event_id,
         lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_ms
  FROM events),
y AS (SELECT *, CASE WHEN prev_ms IS NULL
                       OR epoch_ms(ts) - prev_ms > 1800000
                     THEN 1 ELSE 0 END AS brk FROM x),
z AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid FROM y),
s AS (SELECT user_id, epoch_ms(MIN(ts)) AS session_start_ms,
             epoch_ms(MAX(ts)) + 1800000 AS session_end_ms,
             count(*) AS n_events
      FROM z GROUP BY user_id, sid)
SELECT user_id, session_start_ms, session_end_ms, n_events
FROM s, mx WHERE session_end_ms <= m - 7200000
""")
def stream_sessions_final(spark, sf):
    # Watermark-evicted session emission: the streaming session
    # windows (snapshot.py::session_windows) flush exactly the
    # sessions whose end (last event + 30 min gap) precedes the final
    # watermark (max event time − 2 h) — the deterministic-projection
    # pattern that retired the tumbling/EWMA rows-only entries, now
    # certifying append-mode session state. Oracle = the
    # events_session_native gaps-and-islands SQL (same probed
    # merge-at-exact-gap semantics) plus the eviction cutoff.
    from yougile_etl_pipeline_spark.streaming.snapshot import (
        run_sessions_available_now,
    )

    out = run_sessions_available_now(spark, sf,
                                     table_name="stream_sessions_reg")
    return out.select("user_id",
                      F.unix_millis("session_start")
                       .alias("session_start_ms"),
                      F.unix_millis("session_end")
                       .alias("session_end_ms"),
                      "n_events")


@register("corpus_release_manifest", """
WITH canon AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(lower(regexp_replace(text, ' +', ' ', 'g')))),
corpus AS (
  SELECT d.* FROM documents d JOIN canon USING (doc_id)
  WHERE d.source NOT IN ('src0', 'src1')),
bench_grams AS (
  SELECT DISTINCT g FROM (
    SELECT unnest(list_transform(
      range(1, greatest(len(string_split(text, ' ')) - 7, 0) + 1),
      i -> array_to_string(string_split(text, ' ')[i:i+7], ' '))) AS g
    FROM documents WHERE source IN ('src0', 'src1'))),
contaminated AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(list_transform(
      range(1, greatest(len(string_split(text, ' ')) - 7, 0) + 1),
      i -> array_to_string(string_split(text, ' ')[i:i+7], ' '))) AS g
    FROM corpus) cg JOIN bench_grams USING (g)),
gated AS (
  SELECT *, len(string_split(text, ' ')) AS n_tokens
  FROM corpus
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    AND len(string_split(text, ' ')) >= 5),
quota AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY lang
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
    FROM gated) WHERE rk <= 30)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM quota GROUP BY lang, source
""")
def corpus_release_manifest(spark, sf):
    # The 100-TB corpus-release capstone (VERDICT r06 #6): exact dedup
    # (md5-fingerprint canon, operators/dedup.py::exact_dedup) →
    # benchmark 8-gram decontamination (text.py::ngram_contamination,
    # bench grams broadcast so the corpus never shuffles) → token-count
    # quality gate → hash-deterministic per-language quota → release
    # manifest. Every stage reuses a certified operator; the chain
    # itself is what this entry certifies (tests/test_corpus_release_manifest.py
    # pins the plan: no cartesian, bench side broadcast).
    from yougile_etl_pipeline_spark.operators.dedup import exact_dedup
    from yougile_etl_pipeline_spark.operators.relational import (
        grouped_topk,
    )
    from yougile_etl_pipeline_spark.operators.text import (
        ngram_contamination,
        tokens,
    )

    docs = load_table(spark, sf, "documents")
    canon = (exact_dedup(docs, "doc_id", "text")
             .select(F.col("canonical_id").alias("doc_id")))
    is_bench = F.col("source").isin("src0", "src1")
    corpus = docs.join(canon, "doc_id").filter(~is_bench)
    bench = docs.filter(is_bench)
    dirty = ngram_contamination(corpus, bench, n=8).select("doc_id")
    gated = (corpus.join(dirty, "doc_id", "left_anti")
             .withColumn("n_tokens", F.size(tokens("text")))
             .filter(F.col("n_tokens") >= 5))
    # Per-language quota via the two-phase top-k (VERDICT r07 #1,
    # landed r09): a bare row_number window funnels each language's
    # ENTIRE gated corpus through one task for a full sort — with
    # English ≫ everything else that single skewed task is the
    # 100-TB killer. grouped_topk's partition-local combiner bounds
    # every task at |langs|·30 rows before the (now tiny) stitch
    # window; the (md5(doc_id), doc_id) key is a non-null total
    # order, so the result is bit-identical to the window form
    # (tests/test_corpus_release_manifest.py pins both the parity
    # and the combiner's presence in the plan).
    keyed = gated.withColumn(
        "__ord", F.md5(F.col("doc_id").cast("string")))
    quota = grouped_topk(keyed, ["lang"], ["__ord", "doc_id"],
                         30).drop("__ord")
    return (quota.groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("total_tokens"),
                 F.min("doc_id").alias("min_doc_id"),
                 F.max("doc_id").alias("max_doc_id")))
