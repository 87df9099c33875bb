"""Round-12 query registrations.

Every entry landed with its DuckDB oracle proven bit-identical at
sf0.001 AND sf0.01 and a recorded sf0.1 wall time + plan fingerprint
(bench.py's r12 block). Same determinism contract as registry.py's
module docstring.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yougile_etl_pipeline_spark.registry_base import register
from yougile_etl_pipeline_spark.registry_ext import (
    _CSIM,
    _MH_BANDS,
    _MH_MINS,
    _ivf_assign_sql,
    _shingles_sql,
    _toks,
)
from yougile_etl_pipeline_spark.registry_r10 import _D0_EDGES_SQL
from yougile_etl_pipeline_spark.sources.tables import (
    load_table,
    table_row_count,
)


@register("dedup_lsh_bucket_profile", f"""
WITH ex AS (
  SELECT doc_id AS doc, unnest({_shingles_sql()}) AS sh FROM documents
), sig AS (
  SELECT doc, {_MH_MINS} FROM ex GROUP BY doc
), bk AS (
  {_MH_BANDS}
), sizes AS (
  SELECT band, key, CAST(count(*) AS BIGINT) AS sz
  FROM bk GROUP BY 1, 2)
SELECT sz AS bucket_size, CAST(count(*) AS BIGINT) AS n_buckets,
       sz > 64 AS over_cap,
       CAST(sz * (sz - 1) // 2 * count(*) AS BIGINT) AS pair_volume
FROM sizes GROUP BY 1
""")
def dedup_lsh_bucket_profile(spark, sf):
    # Capacity planning for the mega-cluster cap: the LSH bucket-size
    # histogram with each size's candidate-pair volume (c·(c−1)/2 per
    # bucket) and the would-drop flag at cap 64 — the data you look at
    # BEFORE choosing max_bucket_size (operators/dedup.py::
    # minhash_bucket_profile). Shuffles carry bucket keys, never
    # documents.
    from yougile_etl_pipeline_spark.operators.dedup import (
        minhash_bucket_profile,
    )

    docs = load_table(spark, sf, "documents")
    return minhash_bucket_profile(docs, "doc_id", "text",
                                  n_hashes=8, bands=4, cap=64)


@register("dedup_lsh_band_hist", f"""
WITH ex AS (
  SELECT doc_id AS doc, unnest({_shingles_sql()}) AS sh FROM documents
), sig AS (
  SELECT doc, {_MH_MINS} FROM ex GROUP BY doc
), bk AS (
  {_MH_BANDS}
), pairs AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b,
         CAST(count(*) AS BIGINT) AS n_bands
  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                     AND a.doc < b.doc
  GROUP BY 1, 2)
SELECT n_bands, CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1
""")
def dedup_lsh_band_hist(spark, sf):
    # Banding-confidence distribution: how many candidate pairs agree
    # on 1, 2, 3, or all 4 bands — the shape that says whether the
    # LSH threshold sits where the duplicate mass is (pairs at
    # n_bands=4 are near-certain duplicates; a fat n_bands=1 tail
    # means the verifier will discard most candidates). Rolls up the
    # certified dedup_minhash_lsh pair relation. The signature rides
    # the tier-shared plan-keyed persist (r17: one materialization per
    # session across the banding scorecards — VERDICT r16 #2).
    from yougile_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        shared_minhash_signature,
    )

    docs = load_table(spark, sf, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=8, bands=4,
        signature=shared_minhash_signature(docs, "doc_id", "text"))
    return pairs.groupBy("n_bands").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"))


@register("graph_bfs_layer_hist", f"""
WITH d0 AS ({_D0_EDGES_SQL}),
e0 AS (SELECT src AS a, dst AS b FROM d0 UNION SELECT dst, src FROM d0),
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
    AND e0.b NOT IN (SELECT node FROM l2)),
layers AS (
  SELECT node, 0 AS layer FROM l0
  UNION ALL SELECT node, 1 FROM l1
  UNION ALL SELECT node, 2 FROM l2
  UNION ALL SELECT node, 3 FROM l3)
SELECT layer, CAST(count(*) AS BIGINT) AS n_nodes
FROM layers GROUP BY 1
""")
def graph_bfs_layer_hist(spark, sf):
    # Reachability growth curve: node count per BFS layer from the
    # seed set — the expansion profile that distinguishes a
    # small-world graph (layers explode) from a chain (layers flat).
    # Rolls up the certified graph_bfs_layers frontier computation.
    from yougile_etl_pipeline_spark.operators.graph import bfs_layers

    d = load_table(spark, sf, "documents")
    edges = d.select((F.col("doc_id") % 40).alias("src"),
                     ((F.col("doc_id") * 7 + 3) % 40).alias("dst")) \
        .filter(F.col("src") != F.col("dst")).distinct()
    und = edges.union(edges.select(F.col("dst"), F.col("src"))).distinct()
    seeds = (d.select((F.col("doc_id") % 40).alias("node"))
             .filter((F.col("node") % 10) == 0).distinct())
    layers = bfs_layers(und, seeds, rounds=3)
    return layers.groupBy("layer").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"))


@register("train_packing_efficiency", f"""
WITH chunks AS (
  SELECT d.source,
    CAST(least(32, len({_toks()}) - s + 1) AS BIGINT) AS chunk_tokens
  FROM documents d, unnest(range(1, greatest(len({_toks()}), 1) + 1, 24))
       AS t(s)
), agg AS (
  SELECT source, CAST(SUM(chunk_tokens) AS BIGINT) AS total_tokens,
         CAST(count(*) AS BIGINT) AS n_chunks
  FROM chunks GROUP BY 1)
SELECT source, total_tokens, n_chunks,
       (total_tokens + 255) // 256 AS n_sequences,
       total_tokens * 1000000 // ((total_tokens + 255) // 256 * 256)
         AS utilization_ppm
FROM agg
""")
def train_packing_efficiency(spark, sf):
    # Packing-efficiency audit of the certified stream packer: per
    # source, how many 256-token sequences the chunk stream fills and
    # the exact utilization in ppm (stream packing wastes only the
    # final partial sequence, so utilization → 1 as the shard grows —
    # the number that justifies stream packing over per-doc padding,
    # where waste would be per-document). Pure aggregate over the
    # chunker output; integer ppm. n_sequences is CEILING division
    # ((t + 255) div 256) so an exactly-full shard counts no phantom
    # sequence and utilization_ppm can reach 1e6 — matching
    # pack_chunks' actual seq_id assignment (ADVICE r11).
    from yougile_etl_pipeline_spark.operators import text as TX

    docs = load_table(spark, sf, "documents")
    chunks = (TX.chunk_documents(docs, chunk_size=32, stride=24)
              .join(docs.select("doc_id", "source"), "doc_id")
              .select("source", F.col("chunk_tokens").cast("bigint")
                      .alias("chunk_tokens")))
    agg = chunks.groupBy("source").agg(
        F.sum("chunk_tokens").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"))
    return agg.select(
        "source", "total_tokens", "n_chunks",
        F.expr("(total_tokens + 255) div 256").alias("n_sequences"),
        F.expr("total_tokens * 1000000 div "
               "((total_tokens + 255) div 256 * 256)")
        .alias("utilization_ppm"))


@register("train_pack_fragmentation", f"""
WITH chunks AS (
  SELECT d.doc_id, d.source,
    CAST((s - 1) // 24 AS BIGINT) AS chunk_idx,
    CAST(least(32, len({_toks()}) - s + 1) AS INTEGER) AS chunk_tokens
  FROM documents d, unnest(range(1, greatest(len({_toks()}), 1) + 1, 24))
       AS t(s)
), packed AS (
  SELECT doc_id, source,
    CAST(COALESCE(CAST(SUM(chunk_tokens) OVER w AS BIGINT), 0) // 256
         AS BIGINT) AS seq_id
  FROM chunks
  WINDOW w AS (PARTITION BY source ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), per_seq AS (
  SELECT source, seq_id,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM packed GROUP BY 1, 2)
SELECT n_docs AS docs_per_sequence,
       CAST(count(*) AS BIGINT) AS n_sequences
FROM per_seq GROUP BY 1
""")
def train_pack_fragmentation(spark, sf):
    # Attention-fragmentation histogram: how many distinct documents
    # land in each packed training sequence (the certified
    # train_pack_sequences assignment rolled up) — the cost signal for
    # cross-document attention contamination that decides whether the
    # packer needs boundary resets. One extra distinct-count over the
    # pack output.
    from yougile_etl_pipeline_spark.operators import text as TX

    docs = load_table(spark, sf, "documents")
    chunks = (TX.chunk_documents(docs, chunk_size=32, stride=24)
              .join(docs.select("doc_id", "source"), "doc_id")
              .select("doc_id", "source", "chunk_idx", "chunk_tokens"))
    packed = TX.pack_chunks(chunks, seq_tokens=256)
    per_seq = packed.groupBy("source", "seq_id").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"))
    return per_seq.groupBy(F.col("n_docs").alias("docs_per_sequence")) \
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sequences"))


@register("text_ttr_by_source", f"""
WITH toks AS (
  SELECT source, unnest({_toks()}) AS tok FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS total_tokens,
       CAST(count(DISTINCT tok) AS BIGINT) AS distinct_terms,
       CAST(count(DISTINCT tok) AS BIGINT) * 1000000 // count(*)
         AS ttr_ppm
FROM toks GROUP BY 1
""")
def text_ttr_by_source(spark, sf):
    # Type-token ratio per source — the lexical-diversity screen
    # (template/boilerplate farms show pathologically low TTR; OCR
    # noise shows pathologically high). Exact distinct + total token
    # counts, truncating-ppm ratio; one (source, token) shuffle with
    # map-side partial distincts.
    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok"))
    return (toks.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("total_tokens"),
                 F.count_distinct("tok").cast("bigint")
                 .alias("distinct_terms"))
            .select("source", "total_tokens", "distinct_terms",
                    F.expr("distinct_terms * 1000000 div total_tokens")
                    .alias("ttr_ppm")))


@register("mm_wav_rms_bands", """
WITH p AS (SELECT event_id AS id, 50 + event_id % 100 AS n FROM events),
s AS (SELECT id, n,
  list_transform(range(0, CAST(n AS BIGINT)),
    i -> abs((id * 31 + i * 17) % 65536 - 32768)) AS a FROM p),
q AS (SELECT id, n,
  CAST(list_sum(list_transform(a, x -> x * x)) AS BIGINT) AS sum_sq
  FROM s),
b AS (SELECT id,
  CASE WHEN sum_sq >= 26843545600 * n THEN 'loud'
       WHEN sum_sq >= 6710886400 * n THEN 'mid'
       ELSE 'quiet' END AS band
  FROM q)
SELECT band, CAST(count(*) AS BIGINT) AS n_clips
FROM b GROUP BY 1
""")
def mm_wav_rms_bands(spark, sf):
    # Loudness routing for an audio corpus: per-clip RMS band from the
    # REAL WAV decode, banded WITHOUT any sqrt or division — rms >= T
    # iff sum_sq >= T²·n, so the comparison cross-multiplies exact
    # int64s (T = 163840/81920 in sample units → T² = 26843545600 /
    # 6710886400). The closed-form signal oracle states the same
    # integer comparison; the whole op is one map-side decode + a
    # 3-row aggregate.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        synth_wav_payloads,
        wav_stats,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    st = wav_stats(synth_wav_payloads(ev, "event_id"))
    band = (F.when(F.col("sum_sq") >= 26843545600 * F.col("n_frames"),
                   "loud")
            .when(F.col("sum_sq") >= 6710886400 * F.col("n_frames"),
                  "mid")
            .otherwise("quiet"))
    return (st.select(band.alias("band"))
            .groupBy("band")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_clips")))


@register("mart_supplier_scorecard", """
WITH s AS (
  SELECT l_suppkey AS suppkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(20,6)) * 10000) AS BIGINT)
           AS revenue_x10000,
         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY 1),
r AS (SELECT *, row_number() OVER (ORDER BY revenue_x10000 DESC,
                                   suppkey) AS rev_rank
      FROM s)
SELECT suppkey, revenue_x10000, n_orders, n_parts, n_lines,
       CAST(rev_rank AS BIGINT) AS rev_rank
FROM r WHERE rev_rank <= 25
""")
def mart_supplier_scorecard(spark, sf):
    # Top-25 supplier league table: exact discounted revenue scaled
    # x10000 so the 4-decimal discount product becomes INTEGRAL before
    # the BIGINT cast (Spark truncates that cast, DuckDB rounds — on
    # an integral decimal both are exact),
    # distinct order/part breadth, line volume, deterministic revenue
    # rank. The ranking window runs over the SUPPLIER aggregate
    # (dimension-sized); TakeOrdered semantics via rank <= 25.
    from pyspark.sql.window import Window

    li = load_table(spark, sf, "lineitem")
    s = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        (F.sum(F.expr("CAST(l_extendedprice * (1 - l_discount) "
                      "AS DECIMAL(20,6)) * 10000")))
        .cast("bigint").alias("revenue_x10000"),
        F.count_distinct("l_orderkey").cast("bigint").alias("n_orders"),
        F.count_distinct("l_partkey").cast("bigint").alias("n_parts"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"))
    w = Window.orderBy(F.col("revenue_x10000").desc(), "suppkey")
    return (s.withColumn("rev_rank",
                         F.row_number().over(w).cast("bigint"))
            .filter(F.col("rev_rank") <= 25))


@register("events_error_rate_daily", """
WITH d AS (
  SELECT epoch_ms(ts) // 86400000 AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count_if(event_type = 'error') AS BIGINT) AS n_errors
  FROM events GROUP BY 1)
SELECT day, n_events, n_errors,
       n_errors * 1000000 // n_events AS error_ppm,
       n_errors * 1000000 // n_events >= 450000 AS breach
FROM d
""")
def events_error_rate_daily(spark, sf):
    # SLO burn view: daily error share in exact integer ppm with the
    # 45% breach flag (the synthetic corpus runs ~40% errors, so the
    # threshold exercises both sides). Single day-keyed aggregate —
    # the conditional count combines map-side.
    ev = load_table(spark, sf, "events").select(
        F.expr("unix_millis(ts) div 86400000").alias("day"),
        "event_type")
    d = ev.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count_if(F.col("event_type") == "error").cast("bigint")
        .alias("n_errors"))
    return d.select(
        "day", "n_events", "n_errors",
        F.expr("n_errors * 1000000 div n_events").alias("error_ppm"),
        F.expr("n_errors * 1000000 div n_events >= 450000")
        .alias("breach"))


@register("f_higher_order_array_funcs", """
WITH base AS (
  SELECT o_orderkey,
         range(1, 2 + o_orderkey % 7) AS arr
  FROM orders)
SELECT o_orderkey,
  array_to_string(list_transform(arr, x -> x * x), ',') AS squares,
  COALESCE(array_to_string(list_filter(arr, x -> x % 2 = 0), ','),
           '') AS evens,
  CAST(list_sum(list_transform(arr, x -> x * 3)) AS BIGINT)
    AS tripled_sum,
  len(list_filter(arr, x -> x > 3)) > 0 AS any_gt3,
  len(list_filter(arr, x -> NOT (x < 100))) = 0 AS all_lt100,
  array_to_string(list_reverse_sort(arr), ',') AS desc_sorted,
  COALESCE(array_to_string(arr[2:3], ','), '') AS middle_slice
FROM base
""")
def f_higher_order_array_funcs(spark, sf):
    # The higher-order array-function family as a certified API
    # surface: transform, filter, aggregate (fold), exists, forall,
    # reverse sort, slice — the building blocks most custom operators
    # here compose (shingles, signatures, span logic). Array outputs
    # cross the oracle boundary stringified (set-op lesson); everything
    # is map-only codegen. Spark sequence(1, n) == DuckDB
    # range(1, n + 1) — both inclusive-start, the END convention
    # differs and is pinned here.
    o = load_table(spark, sf, "orders").select(
        "o_orderkey",
        F.expr("sequence(1L, 1L + o_orderkey % 7)").alias("arr"))
    return o.select(
        "o_orderkey",
        F.array_join(F.transform("arr", lambda x: x * x), ",")
        .alias("squares"),
        F.array_join(F.filter("arr", lambda x: x % 2 == 0), ",")
        .alias("evens"),
        F.aggregate("arr", F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x * 3).alias("tripled_sum"),
        F.exists("arr", lambda x: x > 3).alias("any_gt3"),
        F.forall("arr", lambda x: x < 100).alias("all_lt100"),
        F.array_join(F.sort_array("arr", asc=False), ",")
        .alias("desc_sorted"),
        F.array_join(F.slice("arr", 2, 2), ",").alias("middle_slice"))


def _ivf_cand_sql(nprobe: int) -> str:
    return f"""
  SELECT {nprobe} AS nprobe, query_id, match_id FROM (
    SELECT query_id, match_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {_CSIM.format(a='qv', b='cv')}
                                DESC, match_id) AS rank
    FROM ({_ivf_assign_sql('qsrc', 'query_id', 'qv', nprobe)}) qa
    JOIN ca USING (centroid_id)
    WHERE query_id != match_id)
  WHERE rank <= 5"""


@register("sim_ivf_recall_sweep", f"""
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
ca AS ({_ivf_assign_sql('csrc', 'match_id', 'cv', 1)}),
cands AS ({_ivf_cand_sql(1)} UNION ALL {_ivf_cand_sql(2)}
          UNION ALL {_ivf_cand_sql(4)}),
tx AS (SELECT v.nprobe, t.query_id, t.match_id
       FROM truth t CROSS JOIN (VALUES (1), (2), (4)) v(nprobe)),
j AS (
  SELECT tx.nprobe, tx.query_id AS tq, c.query_id AS cq
  FROM tx LEFT JOIN cands c
    ON tx.nprobe = c.nprobe AND tx.query_id = c.query_id
   AND tx.match_id = c.match_id)
SELECT CAST(nprobe AS BIGINT) AS nprobe,
       CAST(count(DISTINCT tq) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_truth,
       CAST(count_if(cq IS NOT NULL) AS BIGINT) AS n_hits,
       CAST(count_if(cq IS NOT NULL) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS recall_at_5
FROM j GROUP BY 1
""")
def sim_ivf_recall_sweep(spark, sf):
    # The ACTIONABLE version of sim_ivf_recall_eval (VERDICT r11 #3):
    # one hash-exact query that measures recall@5 at nprobe ∈ {1,2,4}
    # against the same brute-force truth on the same fixed 1-in-41
    # query set — the output row per nprobe shows recall rising
    # monotonically toward the exact answer, so the ~0.2 single-probe
    # figure at certification sizing (√500 ≈ 22 centroids) stops being
    # a bare number and becomes the first point of a measured
    # recall-vs-cost curve (the knob a production tuner actually
    # turns). Truth is computed ONCE and fanned out per nprobe with an
    # explode; candidates re-probe per nprobe by construction (more
    # lists visited IS the work being measured). Quadratic truth stays
    # bounded by the fixed-size query sample (the fractional-sample
    # cliff in SCALE.md).
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
    cands = None
    for np_ in (1, 2, 4):
        c = (ivf_topk_np(emb, queries, centroids, k=5, nprobe=np_)
             .select(F.lit(np_).cast("bigint").alias("nprobe"),
                     "query_id", "match_id", F.lit(1).alias("c")))
        cands = c if cands is None else cands.unionByName(c)
    tx = (truth
          .select(F.explode(F.array(F.lit(1), F.lit(2), F.lit(4)))
                  .alias("np_"), "query_id", "match_id")
          .select(F.col("np_").cast("bigint").alias("nprobe"),
                  "query_id", "match_id"))
    # Both sides are |Q|·k·3-bounded (|Q| is cap-enforced in
    # brute_force_topk_np), so the hit-join broadcasts.
    j = tx.join(F.broadcast(cands),
                ["nprobe", "query_id", "match_id"], "left")
    hit = F.col("c").isNotNull()
    return j.groupBy("nprobe").agg(
        F.count_distinct("query_id").cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.count_if(hit).cast("bigint").alias("n_hits"),
        (F.count_if(hit).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("recall_at_5"))


@register("mm_gif_stats", """
WITH p AS (SELECT event_id AS id,
                  10 + event_id % 6 AS w, 3 + event_id % 4 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, CAST(w * h AS BIGINT)), k ->
    (id + 7 * (k // w) + 3 * ((k % w) // 5)) % 256) AS px
  FROM p)
SELECT id AS media_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(list_sum(px) AS BIGINT) AS px_sum,
       CAST(list_min(px) AS INTEGER) AS px_min,
       CAST(list_max(px) AS INTEGER) AS px_max,
       TRUE AS used_dict
FROM v
""")
def mm_gif_stats(spark, sf):
    # Round 12 extends the compressed-decode tier one class past
    # r11's DEFLATE/PNG (VERDICT r11 #5): GIF's variable-width LZW
    # (9→12-bit codes, decoder-rebuilt dictionary, KwKwK case,
    # mid-stream CLEARs) decoded for REAL in pure integer arithmetic
    # (media_codec.py::gif_decode — header/palette/LZW/trailer all
    # validated). The synthetic signal builds 5-pixel runs so the
    # dictionary genuinely compresses; `used_dict` hash-proves the
    # Welch reconstruction consumed dictionary-built codes for EVERY
    # payload (the n_filter_kinds device). Map-only decode,
    # parallelism = input splits; the closed-form oracle computes the
    # same gray grid directly.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        gif_stats,
        synth_gif_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return gif_stats(synth_gif_payloads(ev, "event_id"))


@register("events_ab_lift_gate", """
WITH u AS (
  SELECT user_id,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 AS arm
  FROM (SELECT DISTINCT user_id FROM events)),
c AS (SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase'),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(count(c.user_id) AS BIGINT) AS conv
  FROM u LEFT JOIN c USING (user_id) GROUP BY 1),
s AS (SELECT
        MAX(CASE WHEN arm = 0 THEN n END) AS n0,
        MAX(CASE WHEN arm = 0 THEN conv END) AS c0,
        MAX(CASE WHEN arm = 1 THEN n END) AS n1,
        MAX(CASE WHEN arm = 1 THEN conv END) AS c1
      FROM arms)
SELECT n0, c0, n1, c1,
       CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1
            THEN CAST(c1 * n0 - c0 * n1 AS DOUBLE)
                 / sqrt(((CAST(c0 + c1 AS DOUBLE)
                          * CAST(n0 + n1 - c0 - c1 AS DOUBLE))
                         * (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)))
                        / CAST(n0 + n1 AS DOUBLE))
            ELSE 0.0 END AS z,
       abs(CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1
            THEN CAST(c1 * n0 - c0 * n1 AS DOUBLE)
                 / sqrt(((CAST(c0 + c1 AS DOUBLE)
                          * CAST(n0 + n1 - c0 - c1 AS DOUBLE))
                         * (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)))
                        / CAST(n0 + n1 AS DOUBLE))
            ELSE 0.0 END) > 1.96 AS significant
FROM s
""")
def events_ab_lift_gate(spark, sf):
    # Two-proportion z-test over the deterministic md5-bucket arms
    # (the events_ab_assignment_audit split): did arm 1 convert
    # (>= 1 purchase) at a different rate than arm 0? Sufficient
    # statistics (n0, c0, n1, c1) are exact int64; the pooled-variance
    # z materializes in ONE fixed-operand-order double expression —
    # z = (c1·n0 − c0·n1) / sqrt(C·(N−C)·n0·n1 / N) with every factor
    # cast to double BEFORE multiplying (n^4-scale integer products
    # would overflow int64 near 2e5 users, so the double form IS the
    # 100 TB form; fixed operand order keeps it engine-identical) —
    # so z and the 5% decision hash-pair (the mann_kendall device).
    # Null-experiment expectation: the md5 split is random, so the
    # gate should read not-significant on healthy data; a significant
    # readout flags assignment leakage, not a real lift.
    from yougile_etl_pipeline_spark.operators.quality import hash_bucket

    ev = load_table(spark, sf, "events")
    u = (ev.select("user_id").distinct()
         .select("user_id", (hash_bucket(F.col("user_id"), 2))
                 .alias("arm")))
    conv = (ev.filter(F.col("event_type") == "purchase")
            .select("user_id").distinct()
            .withColumn("converted", F.lit(1)))
    arms = (u.join(conv, "user_id", "left")
            .groupBy("arm")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.count("converted").cast("bigint").alias("conv")))
    s = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("conv"))).alias("c1"))
    z_expr = ("CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 "
              "THEN CAST(c1 * n0 - c0 * n1 AS DOUBLE) "
              "/ sqrt(((CAST(c0 + c1 AS DOUBLE) "
              "* CAST(n0 + n1 - c0 - c1 AS DOUBLE)) "
              "* (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))) "
              "/ CAST(n0 + n1 AS DOUBLE)) ELSE 0.0D END")
    return s.select(
        "n0", "c0", "n1", "c1",
        F.expr(z_expr).alias("z"),
        (F.abs(F.expr(z_expr)) > 1.96).alias("significant"))


@register("quality_ks_drift_gate", """
WITH o AS (
  SELECT epoch_ms(o_orderdate) < 883612800000 AS p1,
         CAST(CAST(o_totalprice AS DECIMAL(20,2)) * 100 AS BIGINT)
           // 1000000 AS band
  FROM orders),
b AS (SELECT band,
        CAST(count_if(p1) AS BIGINT) AS k1,
        CAST(count_if(NOT p1) AS BIGINT) AS k2
      FROM o GROUP BY 1),
c AS (SELECT band,
        SUM(k1) OVER (ORDER BY band
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
        SUM(k2) OVER (ORDER BY band
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
        SUM(k1) OVER () AS n1, SUM(k2) OVER () AS n2
      FROM b),
s AS (SELECT CAST(MAX(n1) AS BIGINT) AS n1,
             CAST(MAX(n2) AS BIGINT) AS n2,
             CAST(MAX(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num
      FROM c)
SELECT n1, n2, d_num,
       CAST(d_num AS DOUBLE)
         / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d,
       CAST(d_num AS DOUBLE)
         > 1.358 * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                        * CAST(n1 AS DOUBLE)
                        * CAST(n2 AS DOUBLE)) AS drift
FROM s
""")
def quality_ks_drift_gate(spark, sf):
    # Two-sample Kolmogorov–Smirnov drift gate between the two corpus
    # periods (the band-migration midpoint, epoch-ms 883612800000) on
    # the order-value distribution, BANDED to $10k buckets so the
    # ECDF window rides a ~55-row band relation instead of the raw
    # value domain (at 100 TB the distinct-value ECDF would funnel
    # into one sort task — banding is the scale form, and a banded D
    # is a valid drift screen: it lower-bounds the exact D).
    # Cross-multiplied integer ECDFs keep D exact:
    # d_num = max|cum1·n2 − cum2·n1| is BIGINT (cum ≤ n, n²-scale —
    # safe to ~3e9 rows per side); d and the Massey 5% decision
    # (c(α)=1.358) materialize in one fixed-operand-order double
    # expression each, so even the verdict hash-pairs.
    from pyspark.sql.window import Window

    o = load_table(spark, sf, "orders").select(
        (F.unix_millis("o_orderdate") < 883612800000).alias("p1"),
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(20,2)) * 100 "
               "AS BIGINT) div 1000000").alias("band"))
    b = o.groupBy("band").agg(
        F.count_if(F.col("p1")).cast("bigint").alias("k1"),
        F.count_if(~F.col("p1")).cast("bigint").alias("k2"))
    w = (Window.orderBy("band")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = (Window.orderBy("band")
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    c = b.select(
        F.sum("k1").over(w).alias("cum1"),
        F.sum("k2").over(w).alias("cum2"),
        F.sum("k1").over(wall).alias("n1"),
        F.sum("k2").over(wall).alias("n2"))
    agg = c.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        F.max(F.abs(F.col("cum1") * F.col("n2")
                    - F.col("cum2") * F.col("n1")))
        .cast("bigint").alias("d_num"))
    return agg.select(
        "n1", "n2", "d_num",
        (F.col("d_num").cast("double")
         / (F.col("n1").cast("double") * F.col("n2").cast("double")))
        .alias("d"),
        (F.col("d_num").cast("double")
         > 1.358 * F.sqrt((F.col("n1").cast("double")
                           + F.col("n2").cast("double"))
                          * F.col("n1").cast("double")
                          * F.col("n2").cast("double"))).alias("drift"))


@register("dedup_minhash_estimate_error", f"""
WITH ex AS (
  SELECT doc_id AS doc, unnest({_shingles_sql()}) AS sh FROM documents
), sig AS (
  SELECT doc, {_MH_MINS} FROM ex GROUP BY doc
), bk AS (
  {_MH_BANDS}
), pairs AS (
  SELECT DISTINCT a.doc AS da, b.doc AS db
  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                     AND a.doc < b.doc
), m AS (
  SELECT da, db,
         (CASE WHEN s1.mh0 = s2.mh0 THEN 1 ELSE 0 END
        + CASE WHEN s1.mh1 = s2.mh1 THEN 1 ELSE 0 END
        + CASE WHEN s1.mh2 = s2.mh2 THEN 1 ELSE 0 END
        + CASE WHEN s1.mh3 = s2.mh3 THEN 1 ELSE 0 END
        + CASE WHEN s1.mh4 = s2.mh4 THEN 1 ELSE 0 END
        + CASE WHEN s1.mh5 = s2.mh5 THEN 1 ELSE 0 END
        + CASE WHEN s1.mh6 = s2.mh6 THEN 1 ELSE 0 END
        + CASE WHEN s1.mh7 = s2.mh7 THEN 1 ELSE 0 END) AS n_match
  FROM pairs JOIN sig s1 ON s1.doc = da JOIN sig s2 ON s2.doc = db
), sz AS (SELECT doc, CAST(count(*) AS BIGINT) AS sz FROM ex GROUP BY 1),
co AS (
  SELECT p.da, p.db, CAST(count(*) AS BIGINT) AS c
  FROM pairs p JOIN ex ea ON ea.doc = p.da
               JOIN ex eb ON eb.doc = p.db AND eb.sh = ea.sh
  GROUP BY 1, 2
), per AS (
  SELECT m.n_match, COALESCE(co.c, 0) AS c, za.sz AS sa, zb.sz AS sb
  FROM m LEFT JOIN co ON m.da = co.da AND m.db = co.db
         JOIN sz za ON m.da = za.doc JOIN sz zb ON m.db = zb.doc)
SELECT CAST(n_match AS BIGINT) AS n_match_components,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(n_match * 125000 AS BIGINT) AS est_jaccard_ppm,
       CAST(SUM(c * 1000000 // (sa + sb - c)) // count(*) AS BIGINT)
         AS avg_exact_jaccard_ppm
FROM per GROUP BY n_match
""")
def dedup_minhash_estimate_error(spark, sf):
    # Calibration gate for the MinHash estimator itself (completing
    # the eval family: recall gates say WHAT the pipeline finds, this
    # says how honest the similarity NUMBER is): for every LSH
    # candidate pair, the signature-estimated Jaccard
    # (matching components / 8 → ppm) against the exact
    # distinct-shingle Jaccard, grouped by match count — the bias
    # table a tuner reads before using estimated similarity as a
    # dedup threshold. Exact side is computed ONLY for the LSH
    # candidates (bucket-bounded, never corpus-quadratic); integer
    # ppm throughout.
    from yougile_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        shared_minhash_signature,
    )

    docs = load_table(spark, sf, "documents")
    # tier-shared plan-keyed persist (r17, VERDICT r16 #2): the same
    # signature relation serves every banding scorecard in-session
    sig = shared_minhash_signature(docs, "doc_id", "text")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", signature=sig) \
        .select(F.col("doc_a").alias("da"), F.col("doc_b").alias("db"))
    s1 = sig.select(F.col("doc").alias("da"),
                    *[F.col(f"mh{i}").alias(f"a{i}") for i in range(8)])
    s2 = sig.select(F.col("doc").alias("db"),
                    *[F.col(f"mh{i}").alias(f"b{i}") for i in range(8)])
    n_match = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
                  for i in range(8))
    m = (pairs.join(s1, "da").join(s2, "db")
         .select("da", "db", n_match.alias("n_match")))
    # exact side: DISTINCT shingles, candidate-restricted joins only
    toks = F.split(F.col("text"), " ")
    n_pos = F.size(toks) - 2
    offs = F.when(n_pos > 0, F.sequence(F.lit(0), n_pos - 1)) \
        .otherwise(F.array().cast("array<int>"))
    from yougile_etl_pipeline_spark.operators import caching

    ex = (docs.select(F.col("doc_id").alias("doc"), toks.alias("__t"),
                      F.explode(offs).alias("__i"))
          .select("doc", F.concat_ws(
              " ", F.col("__t")[F.col("__i")],
              F.col("__t")[F.col("__i") + 1],
              F.col("__t")[F.col("__i") + 2]).alias("sh"))
          .distinct())
    # r17: the distinct exact-shingle stream feeds THREE consumers
    # (sizes + both candidate-restricted join legs); the reuse cache
    # materializes it once per session
    ex = caching.persist(ex)
    sz = ex.groupBy("doc").agg(F.count(F.lit(1)).cast("bigint")
                               .alias("sz"))
    ea = ex.select(F.col("doc").alias("da"), "sh")
    eb = ex.select(F.col("doc").alias("db"), "sh")
    co = (pairs.join(ea, "da").join(eb, ["db", "sh"])
          .groupBy("da", "db")
          .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    per = (m.join(co, ["da", "db"], "left")
           .join(sz.select(F.col("doc").alias("da"),
                           F.col("sz").alias("sa")), "da")
           .join(sz.select(F.col("doc").alias("db"),
                           F.col("sz").alias("sb")), "db")
           .select("n_match",
                   F.coalesce(F.col("c"), F.lit(0).cast("bigint"))
                   .alias("c"), "sa", "sb"))
    return (per.groupBy(F.col("n_match").cast("bigint")
                        .alias("n_match_components"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.max(F.expr("n_match * 125000")).cast("bigint")
                 .alias("est_jaccard_ppm"),
                 F.expr("SUM(c * 1000000 div (sa + sb - c)) "
                        "div count(1)").cast("bigint")
                 .alias("avg_exact_jaccard_ppm")))


@register("corpus_dedup_rate_by_source", """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
       CAST((count(*) - count(DISTINCT md5(text))) * 1000000
            // count(*) AS BIGINT) AS dup_ppm
FROM documents GROUP BY 1
""")
def corpus_dedup_rate_by_source(spark, sf):
    # Provenance-level dedup accounting: per source, how much of the
    # corpus exact dedup would remove (the number a data-mixture owner
    # tracks per crawl/source before weighting them). 16-byte
    # fingerprints shuffle, never bodies; one source-keyed aggregate
    # with map-side partial distincts.
    docs = load_table(spark, sf, "documents")
    return (docs.select("source", F.md5("text").alias("fp"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.count_distinct("fp").cast("bigint").alias("n_unique"),
                 F.expr("(count(1) - count(DISTINCT fp)) * 1000000 "
                        "div count(1)").cast("bigint").alias("dup_ppm")))


@register("link_er_clusters", """
WITH RECURSIVE titles AS (
  SELECT doc_id, substr(text, 1, 30) AS title FROM documents
), toks AS (
  SELECT doc_id AS id, title AS s,
         unnest(list_distinct(string_split_regex(lower(trim(title)), ' +')))
           AS tok
  FROM titles
), dfreq AS (
  SELECT tok, count(*) AS df FROM toks GROUP BY tok
), kept AS (
  SELECT t.id, t.s, t.tok FROM toks t
  JOIN dfreq d ON t.tok = d.tok WHERE d.df <= 100
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
  FROM kept a JOIN kept b ON a.tok = b.tok AND a.id < b.id
), m AS (
  SELECT id_a, id_b FROM cand WHERE levenshtein(sa, sb) <= 4
), edges AS (
  SELECT id_a AS u, id_b AS v FROM m UNION SELECT id_b, id_a FROM m
), reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
), comp AS (
  SELECT node, MIN(lbl) AS entity FROM reach GROUP BY node
), sizes AS (
  SELECT entity, CAST(count(*) AS BIGINT) AS sz FROM comp GROUP BY 1
)
SELECT sz AS entity_size, CAST(count(*) AS BIGINT) AS n_entities
FROM sizes GROUP BY 1
""")
def link_er_clusters(spark, sf):
    # Entity resolution end-to-end: the blocked fuzzy match pairs
    # (link_fuzzy_titles' machinery, tightened to levenshtein <= 4 =
    # "same entity") closed transitively into canonical entities, then
    # the entity-size histogram — the dedup_clusters device applied to
    # RECORD LINKAGE, completing the ER family (pairs → blocking
    # recall gate → clusters). Match graph is blocking-bounded;
    # components run min-label propagation over it
    # (operators/graph.py::connected_components), never all-pairs.
    from yougile_etl_pipeline_spark.operators.graph import (
        connected_components,
    )
    from yougile_etl_pipeline_spark.operators.linkage import (
        fuzzy_self_join,
    )

    docs = load_table(spark, sf, "documents")
    titles = docs.select("doc_id",
                         F.substring("text", 1, 30).alias("title"))
    m = fuzzy_self_join(titles, "doc_id", "title",
                        max_dist=4, max_token_df=100)
    comp = connected_components(m, docs.select("doc_id"),
                                src="id_a", dst="id_b",
                                node_col="doc_id")
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("entity_size"))
    return sizes.groupBy("entity_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entities"))


@register("mm_media_dispatch_profile", """
WITH ids AS (SELECT event_id AS id FROM events),
wav AS (
  SELECT 'wav' AS fmt,
    CAST(50 + id % 100 AS DOUBLE) AS f0,
    CAST(list_sum(list_transform(range(0, CAST(50 + id % 100 AS BIGINT)),
      i -> ((id * 31 + i * 17) % 65536 - 32768)
           * ((id * 31 + i * 17) % 65536 - 32768))) AS DOUBLE) AS f3
  FROM ids WHERE id % 4 = 0),
bmp AS (
  SELECT 'bmp' AS fmt,
    CAST(4 + id % 5 AS DOUBLE) AS f0,
    CAST(list_sum(list_transform(
      range(0, CAST(3 * (4 + id % 5) * (3 + id % 4) AS BIGINT)),
      k -> (id + 7 * (k // (3 * (4 + id % 5)))
               + 3 * ((k % (3 * (4 + id % 5))) // 3)
               + k % 3) % 256)) AS DOUBLE) AS f3
  FROM ids WHERE id % 4 = 1),
png AS (
  SELECT 'png' AS fmt,
    CAST(5 + id % 4 AS DOUBLE) AS f0,
    CAST(list_sum(list_transform(
      range(0, CAST(3 * (5 + id % 4) * (3 + id % 4) AS BIGINT)),
      k -> (id + 11 * (k // (3 * (5 + id % 4)))
               + 5 * ((k % (3 * (5 + id % 4))) // 3)
               + 3 * (k % 3)) % 256)) AS DOUBLE) AS f3
  FROM ids WHERE id % 4 = 2),
gif AS (
  SELECT 'gif' AS fmt,
    CAST(10 + id % 6 AS DOUBLE) AS f0,
    CAST(list_sum(list_transform(
      range(0, CAST((10 + id % 6) * (3 + id % 4) AS BIGINT)),
      k -> (id + 7 * (k // (10 + id % 6))
               + 3 * ((k % (10 + id % 6)) // 5)) % 256)) AS DOUBLE) AS f3
  FROM ids WHERE id % 4 = 3),
u AS (SELECT * FROM wav UNION ALL SELECT * FROM bmp
      UNION ALL SELECT * FROM png UNION ALL SELECT * FROM gif)
SELECT fmt, CAST(count(*) AS BIGINT) AS n_media,
       CAST(SUM(CAST(f0 AS BIGINT)) AS DOUBLE) AS sum_f0,
       CAST(SUM(CAST(f3 AS BIGINT)) AS DOUBLE) AS sum_f3
FROM u GROUP BY 1
""")
def mm_media_dispatch_profile(spark, sf):
    # Integration certificate for the MIXED-corpus decode path: a
    # corpus of four real formats (WAV PCM16, BMP 24-bpp, PNG DEFLATE,
    # GIF LZW, routed by id % 4) flows through ONE decode_media pass
    # whose magic-byte dispatcher picks the codec per payload — the
    # production shape where a media table is never single-format.
    # Feature values are exact integers carried as doubles; the sums
    # aggregate as BIGINT and cast to double at the end, so every
    # partial sum is an exact integer at ANY scale factor (ADVICE r12:
    # a running DOUBLE sum of wav f3 ≈ 1.6e11/payload crosses 2^53 at
    # ~56k wav payloads, after which summation order would leak into
    # the hash). The oracle states each format's closed-form signal
    # and sums the same way. Map-only decode; one 4-row aggregate.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        decode_media,
        synth_bmp_payloads,
        synth_gif_payloads,
        synth_png_payloads,
        synth_wav_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    parts = []
    for mod4, synth, mt in ((0, synth_wav_payloads, "audio"),
                            (1, synth_bmp_payloads, "image"),
                            (2, synth_png_payloads, "image"),
                            (3, synth_gif_payloads, "image")):
        parts.append(
            synth(ev.filter(F.col("event_id") % 4 == mod4), "event_id")
            .withColumn("media_type", F.lit(mt)))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    feats = decode_media(u)
    fmt = (F.when(F.col("media_id") % 4 == 0, "wav")
           .when(F.col("media_id") % 4 == 1, "bmp")
           .when(F.col("media_id") % 4 == 2, "png")
           .otherwise("gif"))
    return (feats.select(fmt.alias("fmt"),
                         F.col("feature")[0].alias("f0"),
                         F.col("feature")[3].alias("f3"))
            .groupBy("fmt")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_media"),
                 F.sum(F.col("f0").cast("bigint"))
                 .cast("double").alias("sum_f0"),
                 F.sum(F.col("f3").cast("bigint"))
                 .cast("double").alias("sum_f3")))


_MARKOV_S = 10**12
_MARKOV_ITERS = 8


def _markov_chain_sql() -> str:
    """The transition-count CTEs and the fixed-point power iterates
    it0.._MARKOV_ITERS, for an oracle to finish with its own SELECT."""
    base = f"""
WITH seq AS (
  SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_ms(ts), event_id) AS nxt
  FROM events),
tr AS (SELECT event_type AS from_type, nxt AS to_type,
              CAST(count(*) AS BIGINT) AS cnt
       FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
rt AS (SELECT from_type, SUM(cnt) AS row_total FROM tr GROUP BY 1),
trans AS (SELECT tr.*, rt.row_total FROM tr JOIN rt USING (from_type)),
ns AS (SELECT count(DISTINCT from_type) AS n FROM tr),
it0 AS (SELECT from_type AS type, {_MARKOV_S} // (SELECT n FROM ns) AS x
        FROM (SELECT DISTINCT from_type FROM tr))"""
    prev = "it0"
    for k in range(1, _MARKOV_ITERS + 1):
        base += f""",
it{k} AS (SELECT trans.to_type AS type,
                 CAST(SUM({prev}.x * trans.cnt // trans.row_total)
                      AS BIGINT) AS x
          FROM {prev} JOIN trans ON {prev}.type = trans.from_type
          GROUP BY 1)"""
        prev = f"it{k}"
    return base


def _markov_oracle() -> str:
    return _markov_chain_sql() + f"""
SELECT type, x AS x_fixed, x * 1000000 // {_MARKOV_S} AS share_ppm
FROM it{_MARKOV_ITERS}
"""


@register("events_markov_stationary", _markov_oracle())
def events_markov_stationary(spark, sf):
    # Stationary distribution of the event-type transition chain:
    # eight fixed-point power-iteration steps (the graph_pagerank
    # arithmetic on a TYPE-level chain) over the empirical transition
    # matrix — where user behavior settles if the observed dynamics
    # keep running, the steady-state complement of
    # events_engagement_transitions' one-step view. The corpus is
    # touched exactly ONCE (the lag window + the (from, to) count
    # shuffle); the transition matrix is TYPE-DOMAIN-sized, so the
    # iteration runs on collected int64s under a cap-ENFORCED domain
    # bound (the _MAX_COLLECTED_QUERIES device — distributing a
    # handful of rows through 8 join+agg rounds would be ~50 empty
    # exchanges of pure overhead). x lives in 1e12 fixed point; each
    # step is x'_j = Σ_i x_i·cnt_ij div rowtotal_i — python ints and
    # the unrolled-CTE oracle truncate identically.
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events").select(
        "user_id", F.unix_millis("ts").alias("ms"), "event_id",
        "event_type")
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    tr = (ev.withColumn("nxt", F.lead("event_type").over(w))
          .filter(F.col("nxt").isNotNull())
          .groupBy(F.col("event_type").alias("from_type"),
                   F.col("nxt").alias("to_type"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    edges = tr.collect()  # |types|²-bounded, cap-enforced below
    if len(edges) > 10_000:
        raise ValueError(
            f"transition matrix has {len(edges)} edges — the type "
            "domain is not iteration-sized; aggregate types first")
    row_total: dict[str, int] = {}
    for e in edges:
        row_total[e.from_type] = row_total.get(e.from_type, 0) + e.cnt
    states = sorted(row_total)
    x = {t: _MARKOV_S // len(states) for t in states}
    for _ in range(_MARKOV_ITERS):
        nxt = {}
        for e in edges:
            nxt[e.to_type] = (nxt.get(e.to_type, 0)
                              + x.get(e.from_type, 0) * e.cnt
                              // row_total[e.from_type])
        x = nxt
    out = [(t, v, v * 1000000 // _MARKOV_S) for t, v in sorted(x.items())]
    schema = T.StructType([
        T.StructField("type", T.StringType()),
        T.StructField("x_fixed", T.LongType()),
        T.StructField("share_ppm", T.LongType())])
    return spark.createDataFrame(out, schema)


_BENFORD_PPM = {1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
                6: 66947, 7: 57992, 8: 51153, 9: 45757}
_BENFORD_CASE = ("CASE d " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()) + " END")


@register("quality_benford_chi2_gate", f"""
WITH o AS (
  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(20,2)) * 100
              AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d
  FROM orders),
oc AS (SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM o GROUP BY 1),
c AS (SELECT d, obs, CAST({_BENFORD_CASE} AS BIGINT) AS ppm FROM (
      SELECT dom.d AS d, CAST(COALESCE(oc.cnt, 0) AS BIGINT) AS obs
      FROM (SELECT CAST(range AS INT) AS d FROM range(1, 10)) dom
      LEFT JOIN oc ON dom.d = oc.d)),
t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM c),
terms AS (
  SELECT d,
    (CAST(obs * 1000000 - t.n * ppm AS DOUBLE)
     * CAST(obs * 1000000 - t.n * ppm AS DOUBLE))
    / CAST(t.n * ppm * 1000000 AS DOUBLE) AS term
  FROM c, t),
folded AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(term ORDER BY d)), (acc, x) -> acc + x) AS chi2
  FROM terms)
SELECT t.n, folded.chi2, folded.chi2 > 15.507 AS reject_benford
FROM t, folded
""")
def quality_benford_chi2_gate(spark, sf):
    # Benford's-law anomaly gate on order values: leading-digit counts
    # (taken from the INTEGER cents' decimal string — no log10 at
    # runtime) against the Benford expectation held as integer-ppm
    # LITERALS, scored by a chi-squared test with the 5%/8-df critical
    # value 15.507. Each digit's term is one fixed-operand double
    # expression; the total folds over the DIGIT-SORTED array (the
    # EWMA left-fold device), so even the 9-term double sum is
    # order-pinned and the verdict hash-pairs. The expected readout on
    # this synthetic corpus is reject=true — uniform-ish generated
    # prices are exactly what Benford screening flags; on organic
    # financials it reads false.
    #
    # Pearson chi² charges EVERY cell of the 9-digit domain its
    # expected-count term — a digit with zero observations contributes
    # (n·ppm/1e6), which is exactly where the statistic grows when the
    # distribution deviates most (ADVICE r12: the observed-digits-only
    # form understated chi² and could flip reject_benford to false; the
    # 15.507 critical value assumes all 9 cells). Both engines build
    # the counts by LEFT-joining observations onto the literal 1–9
    # domain with obs coalesced to 0.
    o = load_table(spark, sf, "orders").select(
        F.expr("CAST(substring(CAST(CAST(CAST(o_totalprice AS "
               "DECIMAL(20,2)) * 100 AS BIGINT) AS STRING), 1, 1) "
               "AS INT)").alias("d"))
    ppm_map = F.create_map(*[F.lit(x) for kv in _BENFORD_PPM.items()
                             for x in kv])
    dom = spark.range(1, 10).select(F.col("id").cast("int").alias("d"))
    counts = (dom.join(o.groupBy("d").agg(
                  F.count(F.lit(1)).alias("cnt")), "d", "left")
              .select("d",
                      F.coalesce(F.col("cnt"), F.lit(0))
                      .cast("bigint").alias("obs"))
              .withColumn("ppm", ppm_map[F.col("d")].cast("bigint")))
    term = ("(CAST(obs * 1000000 - n * ppm AS DOUBLE) "
            "* CAST(obs * 1000000 - n * ppm AS DOUBLE)) "
            "/ CAST(n * ppm * 1000000 AS DOUBLE)")
    tot = counts.agg(F.sum("obs").cast("bigint").alias("n"),
                     F.sort_array(F.collect_list(
                         F.struct("d", "obs", "ppm"))).alias("rows"))
    per = (tot.select("n", F.explode("rows").alias("r"))
           .select("n", F.col("r.d").alias("d"),
                   F.col("r.obs").alias("obs"),
                   F.col("r.ppm").alias("ppm"))
           .withColumn("term", F.expr(term)))
    folded = (per.groupBy("n")
              .agg(F.sort_array(F.collect_list(
                  F.struct("d", "term"))).alias("ts"))
              .select("n", F.expr(
                  "aggregate(ts, CAST(0.0 AS DOUBLE), "
                  "(acc, t) -> acc + t.term)").alias("chi2")))
    return folded.select(
        "n", "chi2", (F.col("chi2") > 15.507).alias("reject_benford"))
