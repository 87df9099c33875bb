"""Round-16 query registrations.

Every entry landed with its DuckDB oracle proven bit-identical at
sf0.001 AND sf0.01 and a recorded sf0.1 wall time + plan fingerprint
(bench.py's r16 block). Same determinism contract as registry.py's
module docstring.

NO media entries in this bank (VERDICT r14 #7: the media completion
boundary declared in COVERAGE.md §E4 holds; the new-entry budget goes
to LLM-pipeline depth).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yougile_etl_pipeline_spark.operators import caching
from yougile_etl_pipeline_spark.registry_base import register
from yougile_etl_pipeline_spark.registry_ext import (
    _CSIM,
    _MH_MINS,
    _ivf_assign_sql,
    _lsh_buckets_union,
    _shingles_sql,
)
from yougile_etl_pipeline_spark.sources.tables import (
    load_table,
    table_row_count,
)


# ---------------------------------------------------------------------------
# Per-document mean document-frequency gate (boilerplate lens)
# ---------------------------------------------------------------------------

@register("text_mean_docfreq_gate", """
WITH tok AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
    FROM documents)),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
          FROM tok GROUP BY 1),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(SUM(df * 1000000 // n) // count(*) AS BIGINT)
         AS mean_df_ppm,
       CAST(SUM(df * 1000000 // n) // count(*) AS BIGINT) >= 200000
         AS boilerplate
FROM tok JOIN dfreq USING (tok) CROSS JOIN nd
GROUP BY doc_id, n
""")
def text_mean_docfreq_gate(spark, sf):
    # Boilerplate detector orthogonal to the repetition/Simpson
    # lenses: a template page is built from tokens that are COMMON
    # ACROSS the corpus, so its distinct-token document-frequency
    # ratios average high even when the page itself never repeats a
    # token. Per distinct (doc, token): df·10⁶ div N (exact integer
    # ppm, scale-free); the gate is the per-doc mean ≥ 0.2 (its
    # average token appears in a fifth of all documents). Shape: one
    # map-side array_distinct explode, one vocab-keyed partial agg,
    # one vocab-keyed equi-join back (NOT broadcast — vocabulary
    # grows with the corpus, the dedup_idf_jaccard rule), one
    # doc-keyed agg; N rides a one-row broadcast. All BIGINT, no
    # floats anywhere.
    from yougile_etl_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens("text"))).alias("tok"))
    dfreq = tok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"))
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    per_tok = (tok.join(dfreq, "tok")
                  .crossJoin(F.broadcast(nd))
                  .select("doc_id",
                          F.expr("df * 1000000 div n").alias("df_ppm")))
    agg = per_tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum("df_ppm").cast("bigint").alias("__s"))
    mean = F.expr("__s div n_distinct").cast("bigint")
    return agg.select("doc_id", "n_distinct",
                      mean.alias("mean_df_ppm"),
                      (mean >= 200000).alias("boilerplate"))


# ---------------------------------------------------------------------------
# Quality-filter rule attribution (which rule kills what, uniquely)
# ---------------------------------------------------------------------------

@register("quality_rule_attribution", """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS t, length(text) AS nc
  FROM documents),
top AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_cnt FROM (
    SELECT doc_id, tok, count(*) AS c FROM (
      SELECT doc_id, unnest(t) AS tok FROM base) GROUP BY 1, 2)
  GROUP BY 1),
flags AS (
  SELECT b.doc_id,
         len(t) < 8 AS f_short,
         top_cnt * 1000000 // len(t) > 200000 AS f_rep,
         (nc - (len(t) - 1)) > 9 * len(t) AS f_long
  FROM base b JOIN top USING (doc_id)),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN f_short THEN 1 ELSE 0 END) AS BIGINT) AS s_f,
    CAST(SUM(CASE WHEN f_short AND NOT f_rep AND NOT f_long
             THEN 1 ELSE 0 END) AS BIGINT) AS s_o,
    CAST(SUM(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT) AS r_f,
    CAST(SUM(CASE WHEN f_rep AND NOT f_short AND NOT f_long
             THEN 1 ELSE 0 END) AS BIGINT) AS r_o,
    CAST(SUM(CASE WHEN f_long THEN 1 ELSE 0 END) AS BIGINT) AS l_f,
    CAST(SUM(CASE WHEN f_long AND NOT f_short AND NOT f_rep
             THEN 1 ELSE 0 END) AS BIGINT) AS l_o,
    CAST(SUM(CASE WHEN NOT f_short AND NOT f_rep AND NOT f_long
             THEN 1 ELSE 0 END) AS BIGINT) AS p_n
  FROM flags)
SELECT 'short' AS rule, s_f AS n_flagged, s_o AS n_sole FROM agg
UNION ALL SELECT 'repetitive', r_f, r_o FROM agg
UNION ALL SELECT 'longtok', l_f, l_o FROM agg
UNION ALL SELECT 'pass', p_n, p_n FROM agg
""")
def quality_rule_attribution(spark, sf):
    # Filter-rule attribution — the readout every Gopher-style rule
    # cascade needs before anyone tightens a threshold: per rule, how
    # many documents it flags and how many it flags UNIQUELY (docs no
    # other rule would catch — the rule's marginal value; a rule with
    # zero sole kills is free to drop). Rules are exact-integer
    # surface stats: short (< 8 tokens), repetitive (top token share
    # > 0.2, integer ppm), longtok (mean token length > 9 chars via
    # the separator identity nc − (n_tok − 1) > 9·n_tok). One
    # (doc, token) partial agg for the top count, one doc-keyed join,
    # one global conditional aggregation, stacked to four rows —
    # map-side collapsible everywhere.
    from yougile_etl_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf, "documents")
    base = docs.select("doc_id", tokens("text").alias("t"),
                       F.length("text").alias("nc"))
    top = (base.select("doc_id", F.explode("t").alias("tok"))
               .groupBy("doc_id", "tok")
               .agg(F.count(F.lit(1)).alias("c"))
               .groupBy("doc_id")
               .agg(F.max("c").cast("bigint").alias("top_cnt")))
    flags = (base.join(top, "doc_id")
                 .select(
                     (F.size("t") < 8).alias("f_short"),
                     (F.expr("top_cnt * 1000000 div size(t)") > 200000)
                     .alias("f_rep"),
                     ((F.col("nc") - (F.size("t") - 1))
                      > 9 * F.size("t")).alias("f_long")))
    one = F.lit(1)
    zero = F.lit(0)

    def cnt(cond):
        return F.sum(F.when(cond, one).otherwise(zero)).cast("bigint")

    s, r, ln = F.col("f_short"), F.col("f_rep"), F.col("f_long")
    agg = flags.agg(
        cnt(s).alias("s_f"), cnt(s & ~r & ~ln).alias("s_o"),
        cnt(r).alias("r_f"), cnt(r & ~s & ~ln).alias("r_o"),
        cnt(ln).alias("l_f"), cnt(ln & ~s & ~r).alias("l_o"),
        cnt(~s & ~r & ~ln).alias("p_n"))
    return agg.selectExpr(
        "stack(4, 'short', s_f, s_o, 'repetitive', r_f, r_o, "
        "'longtok', l_f, l_o, 'pass', p_n, p_n) "
        "AS (rule, n_flagged, n_sole)")


# ---------------------------------------------------------------------------
# Curriculum banding (easy→hard schedule with in-band hash shuffle)
# ---------------------------------------------------------------------------

@register("train_curriculum_bands", """
WITH banded AS (
  SELECT doc_id,
         CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
           AS band,
         CAST(concat('0x',
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           AS h
  FROM documents)
SELECT doc_id, band,
       CAST(row_number() OVER (
         PARTITION BY band ORDER BY h, doc_id) AS BIGINT) AS pos
FROM banded
""")
def train_curriculum_bands(spark, sf):
    # Curriculum schedule assignment: documents split into 10 exact
    # difficulty bands (n_chars as the difficulty proxy — shortest
    # first, doc_id tie-break) with a DETERMINISTIC hash shuffle
    # inside each band (md5 of the id, the house portable 60-bit
    # integer), so a trainer can stream band 1..10 in order while
    # each band arrives in reproducible-random order. The exact
    # global ntile is the oracle-checkable twin; at 100 TB the band
    # cuts come from approxQuantile / a range partitioner and the
    # in-band order is the same hash — only the exact-decile edge
    # assignment differs, which is the documented trade (the
    # agg_exact_quantiles precedent for exact-selection entries).
    from pyspark.sql.window import Window

    docs = load_table(spark, sf, "documents")
    wb = Window.orderBy("n_chars", "doc_id")
    h = F.expr("conv(substring(md5(cast(doc_id as string)), 1, 15), "
               "16, 10)").cast("bigint")
    banded = docs.select(
        "doc_id", h.alias("__h"),
        F.ntile(10).over(wb).cast("bigint").alias("band"))
    wp = Window.partitionBy("band").orderBy("__h", "doc_id")
    return banded.select(
        "doc_id", "band",
        F.row_number().over(wp).cast("bigint").alias("pos"))


# ---------------------------------------------------------------------------
# Dedup threshold curve + candidate-pair degree histogram
# ---------------------------------------------------------------------------

def _pair_sql(cap: int, n: int = 3) -> str:
    """The pair CTEs of registry_ext._shingle_jaccard_oracle, threshold
    -free: every capped candidate pair with its exact jaccard."""
    return f"""
ex0 AS (
  SELECT doc_id AS doc, lang, unnest({_shingles_sql('text', n)}) AS sh
  FROM documents
), dfc AS (
  SELECT lang, sh, count(*) AS dfreq FROM ex0 GROUP BY 1, 2
), ex AS (
  SELECT ex0.doc, ex0.lang, ex0.sh
  FROM ex0 JOIN dfc USING (lang, sh) WHERE dfreq <= {cap}
), sizes AS (
  SELECT doc, count(*) AS sz FROM ex GROUP BY doc
), pr AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS common
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.lang = b.lang
                     AND a.doc < b.doc
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b,
         CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
  FROM pr JOIN sizes sa ON doc_a = sa.doc
          JOIN sizes sb ON doc_b = sb.doc
)"""


@register("quality_dedup_threshold_curve", f"""
WITH {_pair_sql(100)},
p_agg AS (
  SELECT
    CAST(SUM(CASE WHEN jaccard >= 0.3 THEN 1 ELSE 0 END) AS BIGINT)
      AS p30,
    CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
      AS p50,
    CAST(SUM(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
      AS p70,
    CAST(SUM(CASE WHEN jaccard >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
      AS p90
  FROM pairs),
d_agg AS (
  SELECT
    CAST(count(DISTINCT CASE WHEN jaccard >= 0.3 THEN doc END)
         AS BIGINT) AS d30,
    CAST(count(DISTINCT CASE WHEN jaccard >= 0.5 THEN doc END)
         AS BIGINT) AS d50,
    CAST(count(DISTINCT CASE WHEN jaccard >= 0.7 THEN doc END)
         AS BIGINT) AS d70,
    CAST(count(DISTINCT CASE WHEN jaccard >= 0.9 THEN doc END)
         AS BIGINT) AS d90
  FROM (SELECT doc_a AS doc, jaccard FROM pairs
        UNION ALL SELECT doc_b, jaccard FROM pairs))
SELECT CAST(300000 AS BIGINT) AS threshold_ppm, p30 AS n_pairs,
       d30 AS n_docs FROM p_agg, d_agg
UNION ALL SELECT 500000, p50, d50 FROM p_agg, d_agg
UNION ALL SELECT 700000, p70, d70 FROM p_agg, d_agg
UNION ALL SELECT 900000, p90, d90 FROM p_agg, d_agg
""")
def quality_dedup_threshold_curve(spark, sf):
    # The knob-setting curve for near-dup dedup: how many candidate
    # pairs and how many distinct documents a jaccard threshold
    # touches, at 0.3/0.5/0.7/0.9 — computed from ONE scored pair
    # relation with conditional aggregation (no per-threshold
    # recomputation: the sim_lsh_recall_sweep shared-stream rule).
    # jaccard is the exact int-ratio double both engines compute
    # bit-identically; the thresholds are identical literals, so the
    # comparisons agree. Output is 4 rows of exact BIGINTs.
    from yougile_etl_pipeline_spark.operators.dedup import (
        shingle_jaccard_pairs,
    )

    docs = load_table(spark, sf, "documents")
    # Persisted (reuse cache): the scored pair relation feeds BOTH
    # the pair-level and the doc-level aggregations — without the
    # persist the whole self-join pair miner runs twice (measured 33
    # shuffles / 2.5 s at sf0.1 vs half that shared).
    pairs = caching.persist(
        shingle_jaccard_pairs(docs, "doc_id", "text",
                              threshold=0.0, block_cols=["lang"],
                              max_shingle_df=100))
    one, zero = F.lit(1), F.lit(0)

    def cnt(t):
        return F.sum(F.when(F.col("jaccard") >= t, one)
                     .otherwise(zero)).cast("bigint")

    p_agg = pairs.agg(cnt(0.3).alias("p30"), cnt(0.5).alias("p50"),
                      cnt(0.7).alias("p70"), cnt(0.9).alias("p90"))
    docs_side = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc"), "jaccard")

    def dcnt(t):
        return F.count_distinct(
            F.when(F.col("jaccard") >= t, F.col("doc"))).cast("bigint")

    d_agg = docs_side.agg(dcnt(0.3).alias("d30"), dcnt(0.5).alias("d50"),
                          dcnt(0.7).alias("d70"), dcnt(0.9).alias("d90"))
    return (p_agg.crossJoin(F.broadcast(d_agg))
            .selectExpr(
                "stack(4, cast(300000 as bigint), p30, d30, "
                "cast(500000 as bigint), p50, d50, "
                "cast(700000 as bigint), p70, d70, "
                "cast(900000 as bigint), p90, d90) "
                "AS (threshold_ppm, n_pairs, n_docs)"))


@register("dedup_pair_degree_hist", f"""
WITH {_pair_sql(1000)},
kept AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
deg AS (
  SELECT doc, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT doc_a AS doc FROM kept
    UNION ALL SELECT doc_b FROM kept) GROUP BY 1),
hist AS (
  SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
  FROM deg GROUP BY 1)
SELECT degree, n_docs FROM hist
UNION ALL
SELECT CAST(0 AS BIGINT),
       (SELECT CAST(count(*) AS BIGINT) FROM documents)
       - (SELECT CAST(count(*) AS BIGINT) FROM deg)
""")
def dedup_pair_degree_hist(spark, sf):
    # Near-dup pair-graph degree profile: for each document, how many
    # ≥ 0.5-jaccard partners it has, rolled into a histogram (degree
    # 0 row included — the untouched majority). The shape says
    # whether duplication is pairwise (degree 1-2: crawl re-fetches)
    # or clustered (fat tail: template farms — where transitive
    # clustering and a bucket cap matter). Rolls up the certified
    # capped pair relation; degrees and counts are exact BIGINTs.
    from yougile_etl_pipeline_spark.operators.dedup import (
        shingle_jaccard_pairs,
    )

    docs = load_table(spark, sf, "documents")
    kept = shingle_jaccard_pairs(docs, "doc_id", "text",
                                 threshold=0.5, block_cols=["lang"])
    # Persisted (reuse cache): the tiny degree relation feeds both
    # the histogram and the touched-count for the degree-0 row —
    # without it the pair miner upstream runs twice (measured 35
    # shuffles / 2.3 s at sf0.1).
    deg = caching.persist(
        kept.select(F.explode(F.array("doc_a", "doc_b")).alias("doc"))
            .groupBy("doc")
            .agg(F.count(F.lit(1)).cast("bigint").alias("degree")))
    hist = deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ntouched = deg.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    zero_row = (nd.crossJoin(F.broadcast(ntouched))
                  .select(F.lit(0).cast("bigint").alias("degree"),
                          (F.col("n") - F.col("t")).alias("n_docs")))
    return hist.unionByName(zero_row)


# ---------------------------------------------------------------------------
# Skip-gram window co-occurrence (the non-adjacent collocation lens)
# ---------------------------------------------------------------------------

@register("text_skipgram_cooccurrence", """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
sp AS (
  SELECT t[u.i] AS tok_a, t[u.i + 2] AS tok_b
  FROM toks, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
  UNION ALL
  SELECT t[u.i], t[u.i + 3]
  FROM toks, unnest(range(1, greatest(len(t) - 3, 0) + 1)) AS u(i)),
cab AS (
  SELECT tok_a, tok_b, count(*) AS c_ab
  FROM sp GROUP BY 1, 2 HAVING count(*) >= 5),
uni AS (
  SELECT tok, count(*) AS c
  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
stats AS (
  SELECT SUM(len(t)) AS n_tok,
         SUM(greatest(len(t) - 2, 0) + greatest(len(t) - 3, 0)) AS n_sp
  FROM toks)
SELECT tok_a, tok_b, c_ab, ua.c AS c_a, ub.c AS c_b,
       CAST(c_ab AS DOUBLE) * CAST(n_tok AS DOUBLE)
         * CAST(n_tok AS DOUBLE)
         / (CAST(n_sp AS DOUBLE) * CAST(ua.c AS DOUBLE)
            * CAST(ub.c AS DOUBLE)) AS lift
FROM cab
JOIN uni ua ON tok_a = ua.tok
JOIN uni ub ON tok_b = ub.tok, stats
""")
def text_skipgram_cooccurrence(spark, sf):
    # Skip-distance 2-3 co-occurrence lift (operators/text.py::
    # skipgram_cooccurrence) — phrase templates and stopword-split
    # collocations that the adjacent-pair miner can't see. Shares the
    # tokenized relation with collocation_lift through the plan-keyed
    # LRU when both run in one session.
    from yougile_etl_pipeline_spark.operators.text import (
        skipgram_cooccurrence,
    )

    docs = load_table(spark, sf, "documents")
    return skipgram_cooccurrence(docs, min_pair_count=5)


# ---------------------------------------------------------------------------
# Exact-substring who-copied-whom pair attribution
# ---------------------------------------------------------------------------

@register("text_dup_span_source_pairs", """
WITH toks AS (
  SELECT doc_id AS doc, string_split(text, ' ') AS t FROM documents),
gd AS (
  SELECT DISTINCT doc, gram FROM (
    SELECT doc,
           unnest(list_transform(
             range(1, greatest(len(t) - 4, 0) + 1),
             i -> array_to_string(t[i:i+4], ' '))) AS gram
    FROM toks)),
st AS (SELECT gram, count(*) AS nd, min(doc) AS debut
       FROM gd GROUP BY 1),
kept AS (SELECT gram, debut FROM st WHERE nd >= 2 AND nd <= 50)
SELECT debut AS src_doc, doc AS dst_doc,
       CAST(count(*) AS BIGINT) AS shared_grams
FROM gd JOIN kept USING (gram) WHERE doc != debut
GROUP BY 1, 2 HAVING count(*) >= 3
""")
def text_dup_span_source_pairs(spark, sf):
    # Pair attribution over duplicated 5-grams (operators/text.py::
    # dup_span_source_pairs): debut doc → later doc with the shared
    # distinct-gram count, df-capped at 50 so boilerplate never makes
    # the pair relation quadratic. Complements the per-doc
    # coverage/removal lenses and the whole-doc survivorship matrix.
    from yougile_etl_pipeline_spark.operators.text import (
        dup_span_source_pairs,
    )

    docs = load_table(spark, sf, "documents")
    return dup_span_source_pairs(docs)


# ---------------------------------------------------------------------------
# MinHash banding sweep (the (bands, rows) knob curve, one signature)
# ---------------------------------------------------------------------------

def _mh_bands_sql(bands: int, src: str = "sig",
                  doc_alias: str = "doc") -> str:
    rows = 8 // bands
    legs = []
    for b in range(bands):
        cols = " || '|' || ".join(f"mh{b * rows + r}"
                                  for r in range(rows))
        legs.append(f"SELECT doc AS {doc_alias}, {b} AS band, "
                    f"md5({cols}) AS key FROM {src}")
    return " UNION ALL ".join(legs)


def _mh_sweep_oracle() -> str:
    base = f"""
WITH {_pair_sql(1000)},
truth AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
tn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM truth),
mex AS (SELECT doc_id AS doc, unnest({_shingles_sql()}) AS sh
        FROM documents),
sig AS (SELECT doc, {_MH_MINS} FROM mex GROUP BY doc)"""
    arms = []
    for b in (2, 4, 8):
        base += f""",
bk{b} AS ({_mh_bands_sql(b)}),
cand{b} AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM bk{b} a JOIN bk{b} b
    ON a.band = b.band AND a.key = b.key AND a.doc < b.doc),
cn{b} AS (SELECT CAST(count(*) AS BIGINT) AS c FROM cand{b}),
ht{b} AS (SELECT CAST(count(*) AS BIGINT) AS h
          FROM cand{b} JOIN truth USING (doc_a, doc_b))"""
        arms.append(f"""
SELECT CAST({b} AS BIGINT) AS bands,
       CAST({8 // b} AS BIGINT) AS rows_per_band,
       (SELECT c FROM cn{b}) AS n_candidates,
       (SELECT n FROM tn) AS truth_pairs,
       (SELECT h FROM ht{b}) AS hits,
       CAST(CASE WHEN (SELECT n FROM tn) > 0
            THEN (SELECT h FROM ht{b}) * 1000000 // (SELECT n FROM tn)
            ELSE 0 END AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN (SELECT c FROM cn{b}) > 0
            THEN (SELECT h FROM ht{b}) * 1000000 // (SELECT c FROM cn{b})
            ELSE 0 END AS BIGINT) AS precision_ppm""")
    return base + "\n" + " UNION ALL ".join(arms)


@register("dedup_minhash_band_sweep", _mh_sweep_oracle())
def dedup_minhash_band_sweep(spark, sf):
    # The (bands, rows) tuning curve for MinHash-LSH — the S-curve
    # knob every dedup pipeline sets blind: more bands (fewer rows
    # per band) catch lower-jaccard pairs (recall up, precision
    # down). Candidates at (2,4), (4,2), (8,1) bandings of ONE 8-hash
    # signature vs the exact lang-blocked jaccard ≥ 0.5 truth, in one
    # certified query — the minhash analogue of sim_lsh_recall_sweep,
    # with the same shared-stream discipline: the signature relation
    # is computed ONCE and persisted (minhash_lsh_pairs' `signature`
    # parameter exists for exactly this), the truth once; each arm is
    # a cheap banding + self-join over the shared signature. All
    # ratios are exact-integer ppm (BIGINT div), hash-portable.
    from yougile_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        shared_minhash_signature,
        shingle_jaccard_pairs,
    )

    docs = load_table(spark, sf, "documents")
    # The signature comes from shared_minhash_signature, so the sweep
    # shares one materialization with the r12/ext banding scorecards.
    sig = shared_minhash_signature(docs, "doc_id", "text")
    truth = caching.persist(
        shingle_jaccard_pairs(docs, "doc_id", "text",
                              threshold=0.5, block_cols=["lang"])
        .select("doc_a", "doc_b"))
    tn = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    arms = []
    for bands in (2, 4, 8):
        cand = minhash_lsh_pairs(docs, "doc_id", "text", bands=bands,
                                 signature=sig) \
            .select("doc_a", "doc_b")
        cn = cand.agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        ht = (cand.join(truth, ["doc_a", "doc_b"])
                  .agg(F.count(F.lit(1)).cast("bigint").alias("h")))
        arms.append(
            ht.crossJoin(F.broadcast(tn)).crossJoin(F.broadcast(cn))
              .select(
                  F.lit(bands).cast("bigint").alias("bands"),
                  F.lit(8 // bands).cast("bigint")
                   .alias("rows_per_band"),
                  F.col("c").alias("n_candidates"),
                  F.col("n").alias("truth_pairs"),
                  F.col("h").alias("hits"),
                  F.expr("CASE WHEN n > 0 THEN h * 1000000 div n "
                         "ELSE 0 END").cast("bigint")
                   .alias("recall_ppm"),
                  F.expr("CASE WHEN c > 0 THEN h * 1000000 div c "
                         "ELSE 0 END").cast("bigint")
                   .alias("precision_ppm")))
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of the two ANN scale paths (LSH + IVF)
# ---------------------------------------------------------------------------

@register("sim_rrf_fusion", f"""
WITH qsrc AS (SELECT vec_id AS query_id, embedding,
                     embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 8),
csrc AS (SELECT vec_id AS match_id, embedding,
                embedding::DOUBLE[] AS cv
         FROM embeddings),
qb AS ({_lsh_buckets_union('qsrc', 'query_id', 'qv', 18, 4)}),
cb AS ({_lsh_buckets_union('csrc', 'match_id', 'cv', 18, 4)}),
lcand AS (
  SELECT DISTINCT query_id, match_id, qv, cv
  FROM qb JOIN cb USING (tbl, key) WHERE query_id != match_id),
lsh AS (
  SELECT query_id, match_id, rank FROM (
    SELECT query_id, match_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY {_CSIM.format(a='qv', b='cv')} DESC,
                      match_id) AS rank
    FROM lcand) WHERE rank <= 5),
qa AS ({_ivf_assign_sql('qsrc', 'query_id', 'qv')}),
ca AS ({_ivf_assign_sql('csrc', 'match_id', 'cv')}),
iscored AS (
  SELECT query_id, match_id,
         {_CSIM.format(a='qv', b='cv')} AS cos_sim
  FROM qa JOIN ca USING (centroid_id)
  WHERE query_id != match_id),
ivf AS (
  SELECT query_id, match_id, rank FROM (
    SELECT query_id, match_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, match_id) AS rank
    FROM iscored) WHERE rank <= 5),
contrib AS (
  SELECT query_id, match_id, 1000000 // (60 + rank) AS c FROM lsh
  UNION ALL
  SELECT query_id, match_id, 1000000 // (60 + rank) FROM ivf),
fused AS (
  SELECT query_id, match_id,
         CAST(SUM(c) AS BIGINT) AS rrf_ppm,
         CAST(count(*) AS BIGINT) AS n_rankers
  FROM contrib GROUP BY 1, 2)
SELECT query_id, match_id, rrf_ppm, n_rankers,
       CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY rrf_ppm DESC, match_id) AS rank
      FROM fused)
WHERE rank <= 5
""")
def sim_rrf_fusion(spark, sf):
    # Reciprocal-rank fusion of the engine's two ANN scale paths —
    # the standard ensemble that papers over each index's blind spots
    # (an LSH miss is usually not an IVF miss: the indexes partition
    # the space differently). Each ranker's top-5 contributes the
    # classic RRF quotient in exact-integer ppm, 10⁶ div (60 + rank),
    # summed per (query, match) — no floats in the fused score, so
    # the whole readout hash-pairs bit-for-bit (the rankers' own
    # rank sets are the ALREADY-CERTIFIED sim_ann_lsh_bucket /
    # sim_ivf_topk semantics). Scale: both arms are the certified
    # bucket/list plans; the fusion itself is one union + one
    # pair-keyed partial agg + a per-query top-k window over ≤ 10
    # rows per query.
    import math

    from yougile_etl_pipeline_spark.operators.similarity import (
        ivf_topk_np,
        lsh_bucket_topk_np,
    )
    from pyspark.sql.window import Window

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    cent = emb.filter(
        F.col("vec_id") < int(round(math.sqrt(
            table_row_count(sf, "embeddings")))))
    lsh = lsh_bucket_topk_np(emb, queries, k=5, n_tables=18,
                             planes_per_table=4) \
        .select("query_id", "match_id", "rank")
    ivf = ivf_topk_np(emb, queries, cent, k=5) \
        .select("query_id", "match_id", "rank")
    contrib = lsh.unionByName(ivf).select(
        "query_id", "match_id",
        F.expr("1000000 div (60 + rank)").alias("c"))
    fused = contrib.groupBy("query_id", "match_id").agg(
        F.sum("c").cast("bigint").alias("rrf_ppm"),
        F.count(F.lit(1)).cast("bigint").alias("n_rankers"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_ppm").desc(), F.col("match_id"))
    return (fused.withColumn("rank",
                             F.row_number().over(w).cast("bigint"))
                 .filter(F.col("rank") <= 5))


# ---------------------------------------------------------------------------
# MinHash benchmark decontamination (the fuzzy 8-gram complement)
# ---------------------------------------------------------------------------

@register("decontam_minhash", f"""
WITH tex AS (
  SELECT doc_id AS doc, unnest({_shingles_sql()}) AS sh
  FROM documents WHERE source NOT IN ('src0', 'src1')),
tsig AS (SELECT doc, {_MH_MINS} FROM tex GROUP BY doc),
bdocs AS (
  -- the benchmark is a SET of texts: exact duplicates collapse to
  -- the smallest-id representative (minhash_decontam's contract)
  SELECT min(doc_id) AS doc, text FROM documents
  WHERE source IN ('src0', 'src1') GROUP BY text),
bex AS (
  SELECT doc, unnest({_shingles_sql()}) AS sh FROM bdocs),
bsig AS (SELECT doc, {_MH_MINS} FROM bex GROUP BY doc),
tbk AS ({_mh_bands_sql(4, 'tsig')}),
bbk AS ({_mh_bands_sql(4, 'bsig', doc_alias='bench_doc')}),
hits AS (
  SELECT doc, bench_doc, CAST(count(*) AS BIGINT) AS n_bands
  FROM tbk JOIN bbk USING (band, key) GROUP BY 1, 2)
SELECT doc AS doc_id,
       CAST(count(*) AS BIGINT) AS n_bench_docs,
       CAST(max(n_bands) AS BIGINT) AS max_bands
FROM hits GROUP BY 1
""")
def decontam_minhash(spark, sf):
    # Probabilistic decontamination (operators/dedup.py::
    # minhash_decontam): train docs banded-colliding with the
    # src0/src1 benchmark stand-in — catches lightly-paraphrased or
    # truncated eval text whose every long n-gram shifted (invisible
    # to decontam_ngram_overlap's exact-8-gram lens) but whose
    # shingle sets still collide. Bench bucket relation broadcast;
    # the training corpus is never shuffled.
    from yougile_etl_pipeline_spark.operators.dedup import (
        minhash_decontam,
    )

    docs = load_table(spark, sf, "documents")
    is_bench = F.col("source").isin("src0", "src1")
    return minhash_decontam(docs.filter(~is_bench),
                            docs.filter(is_bench), "doc_id", "text")


# ---------------------------------------------------------------------------
# Quality-aware canonical selection over near-dup clusters
# ---------------------------------------------------------------------------

_CC_EDGES_R16 = f"""
ex AS (
  SELECT doc_id AS doc, unnest({_shingles_sql()}) AS sh FROM documents
), sig AS (
  SELECT doc, {_MH_MINS} FROM ex GROUP BY doc
), bk AS (
  {_mh_bands_sql(4)}
), mpairs AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                     AND a.doc < b.doc
  GROUP BY 1, 2
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM mpairs
  UNION SELECT doc_b, doc_a FROM mpairs
), reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
)"""


@register("dedup_quality_canonical", f"""
WITH RECURSIVE {_CC_EDGES_R16},
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
ranked AS (
  SELECT d.doc_id, d.lang, d.n_chars,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, d.doc_id) AS rn,
         CAST(count(*) OVER (PARTITION BY c.component) AS BIGINT)
           AS cluster_size
  FROM documents d JOIN comp c ON c.node = d.doc_id)
SELECT doc_id, lang, n_chars, cluster_size FROM ranked WHERE rn = 1
""")
def dedup_quality_canonical(spark, sf):
    # Survivor POLICY refinement of dedup_canonical_docs: instead of
    # the min-id survivor, each near-dup cluster keeps its
    # HIGHEST-QUALITY member (longest text, doc_id tie-break) — the
    # policy real corpora use, since the re-crawl that kept the full
    # page should beat the truncated first fetch. Same certified
    # MinHash-LSH pair relation + pointer-jumping components; the
    # selection is one window over the component key. At 100 TB the
    # quality key would be the composite score; n_chars is the
    # oracle-exact stand-in.
    from pyspark.sql.window import Window

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
    joined = docs.select("doc_id", "lang", "n_chars").join(
        comp.select(F.col("node").alias("doc_id"), "component"),
        "doc_id")
    w = Window.partitionBy("component")
    ranked = joined.select(
        "doc_id", "lang", "n_chars",
        F.row_number().over(
            w.orderBy(F.col("n_chars").desc(), F.col("doc_id")))
         .alias("rn"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"))
    return ranked.filter(F.col("rn") == 1) \
                 .select("doc_id", "lang", "n_chars", "cluster_size")


# ---------------------------------------------------------------------------
# Near-dup source crosstab (which crawls near-duplicate each other)
# ---------------------------------------------------------------------------

@register("dedup_neardup_source_crosstab", f"""
WITH {_pair_sql(1000)},
kept AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
srcs AS (SELECT doc_id, source FROM documents)
SELECT least(sa.source, sb.source) AS s1,
       greatest(sa.source, sb.source) AS s2,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM kept
JOIN srcs sa ON doc_a = sa.doc_id
JOIN srcs sb ON doc_b = sb.doc_id
GROUP BY 1, 2
""")
def dedup_neardup_source_crosstab(spark, sf):
    # The NEAR-dup analogue of corpus_source_overlap's exact-dup
    # crosstab: which source pairs share ≥ 0.5-jaccard documents —
    # syndication and re-crawl overlap that exact fingerprints miss.
    # Pair relation is the certified capped jaccard join; the two
    # source lookups are id-keyed equi-joins (at 100 TB the (id,
    # source) projection is a bucketed staging table); least/greatest
    # canonicalizes the unordered source pair.
    from yougile_etl_pipeline_spark.operators.dedup import (
        shingle_jaccard_pairs,
    )

    docs = load_table(spark, sf, "documents")
    kept = shingle_jaccard_pairs(docs, "doc_id", "text",
                                 threshold=0.5, block_cols=["lang"]) \
        .select("doc_a", "doc_b")
    srcs = docs.select("doc_id", "source")
    sa = srcs.select(F.col("doc_id").alias("doc_a"),
                     F.col("source").alias("__sa"))
    sb = srcs.select(F.col("doc_id").alias("doc_b"),
                     F.col("source").alias("__sb"))
    return (kept.join(sa, "doc_a").join(sb, "doc_b")
                .select(F.least("__sa", "__sb").alias("s1"),
                        F.greatest("__sa", "__sb").alias("s2"))
                .groupBy("s1", "s2")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs")))


# ---------------------------------------------------------------------------
# Suffix→prefix boundary chains (split-document / pagination dedup)
# ---------------------------------------------------------------------------

@register("dedup_boundary_chain", """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 5),
fps AS (
  SELECT doc_id,
         md5(array_to_string(t[1:5], ' ')) AS head_fp,
         md5(array_to_string(t[len(t)-4:len(t)], ' ')) AS tail_fp
  FROM toks)
SELECT a.doc_id AS prev_doc, b.doc_id AS next_doc
FROM fps a JOIN fps b
  ON a.tail_fp = b.head_fp AND a.doc_id != b.doc_id
""")
def dedup_boundary_chain(spark, sf):
    # Split-document detection: doc A's LAST five tokens equal doc
    # B's FIRST five — the signature of paginated articles, chunked
    # re-uploads and crawl continuations, which whole-doc and
    # bag-of-shingles lenses both miss (the overlap is a sliver of
    # either doc). One map-only projection to two 16-byte md5
    # boundary fingerprints per doc, one fp-keyed equi-join — no
    # quadratic anything, no text shuffled. Emits (prev_doc,
    # next_doc) chain edges; composing with connected components
    # reassembles full chains.
    from yougile_etl_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf, "documents")
    t = tokens("text")
    fps = (docs.select("doc_id", t.alias("t"))
               .filter(F.size("t") >= 5)
               .select(
                   "doc_id",
                   F.md5(F.concat_ws(" ", F.slice("t", 1, 5)))
                    .alias("head_fp"),
                   F.md5(F.concat_ws(
                       " ", F.slice("t", F.size("t") - 4, 5)))
                    .alias("tail_fp")))
    a = fps.select(F.col("doc_id").alias("prev_doc"),
                   F.col("tail_fp").alias("fp"))
    b = fps.select(F.col("doc_id").alias("next_doc"),
                   F.col("head_fp").alias("fp"))
    return (a.join(b, "fp")
             .filter(F.col("prev_doc") != F.col("next_doc"))
             .select("prev_doc", "next_doc"))


# ---------------------------------------------------------------------------
# Per-source language concentration (mixture purity readout)
# ---------------------------------------------------------------------------

@register("corpus_lang_concentration", """
WITH c AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS f
  FROM documents GROUP BY 1, 2),
s AS (
  SELECT source,
         CAST(SUM(f) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_langs,
         CAST(SUM(f * f) AS BIGINT) AS ss
  FROM c GROUP BY 1)
SELECT source, n_docs, n_langs,
       CAST(ss * 1000000 // (n_docs * n_docs) AS BIGINT)
         AS concentration_ppm,
       CAST(ss * 1000000 // (n_docs * n_docs) AS BIGINT) >= 900000
         AS monolingual
FROM s
""")
def corpus_lang_concentration(spark, sf):
    # Mixture-purity readout per source: the Herfindahl/Simpson
    # concentration Σ share² of its language composition in exact
    # integer ppm (Σf²·10⁶ div n², no per-language division — one
    # exact expression), with a ≥ 0.9 monolingual flag. The planning
    # input for language-targeted sampling: a source at 0.99 can be
    # routed whole, a 0.4 source needs per-doc language routing. Two
    # tiny grouped aggregations, all map-side combinable.
    docs = load_table(spark, sf, "documents")
    c = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("f"))
    s = c.groupBy("source").agg(
        F.sum("f").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("ss"))
    conc = F.expr("ss * 1000000 div (n_docs * n_docs)").cast("bigint")
    return s.select("source", "n_docs", "n_langs",
                    conc.alias("concentration_ppm"),
                    (conc >= 900000).alias("monolingual"))


# ---------------------------------------------------------------------------
# Largest-remainder token apportionment (exact budget allocation)
# ---------------------------------------------------------------------------

@register("train_token_apportionment", """
WITH c AS (
  SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM c),
base AS (
  SELECT lang, n_tokens,
         CAST(n_tokens * 1000000 // t AS BIGINT) AS floor_quota,
         CAST(n_tokens * 1000000 % t AS BIGINT) AS remainder
  FROM c CROSS JOIN tot),
short AS (
  SELECT CAST(1000000 - SUM(floor_quota) AS BIGINT) AS k FROM base)
SELECT lang, n_tokens, floor_quota,
       CAST(CASE WHEN rnk <= k THEN floor_quota + 1
            ELSE floor_quota END AS BIGINT) AS quota
FROM (SELECT *, row_number() OVER
        (ORDER BY remainder DESC, lang) AS rnk
      FROM base) CROSS JOIN short
""")
def train_token_apportionment(spark, sf):
    # Exact largest-remainder (Hamilton) apportionment of a token
    # budget across languages — the integer algorithm behind "give
    # each language its proportional share of 1M budget units and
    # hand the rounding leftovers to the largest remainders". Unlike
    # ratio-rounding, the quotas SUM EXACTLY to the budget — the
    # property a shard planner needs. All BIGINT (floor via div,
    # remainder via mod, leftover count k = budget − Σfloor); the
    # only ordering is a |langs|-row window. At 100 TB the per-lang
    # token counts are one partial-agg shuffle; everything after is
    # driver-scale.
    from pyspark.sql.window import Window

    from yougile_etl_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf, "documents")
    c = docs.groupBy("lang").agg(
        F.sum(F.size(tokens("text"))).cast("bigint").alias("n_tokens"))
    tot = c.agg(F.sum("n_tokens").cast("bigint").alias("t"))
    base = (c.crossJoin(F.broadcast(tot))
             .select("lang", "n_tokens",
                     F.expr("n_tokens * 1000000 div t").cast("bigint")
                      .alias("floor_quota"),
                     F.expr("n_tokens * 1000000 % t").cast("bigint")
                      .alias("remainder")))
    short = base.agg(
        (F.lit(1000000) - F.sum("floor_quota")).cast("bigint")
        .alias("k"))
    w = Window.orderBy(F.col("remainder").desc(), F.col("lang"))
    ranked = base.withColumn("rnk", F.row_number().over(w)) \
                 .crossJoin(F.broadcast(short))
    quota = F.when(F.col("rnk") <= F.col("k"),
                   F.col("floor_quota") + 1) \
             .otherwise(F.col("floor_quota")).cast("bigint")
    return ranked.select("lang", "n_tokens", "floor_quota",
                         quota.alias("quota"))


# ---------------------------------------------------------------------------
# Peak-to-mean hourly load ratio per event type
# ---------------------------------------------------------------------------

@register("events_peak_to_mean", """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
s AS (
  SELECT event_type,
         CAST(max(c) AS BIGINT) AS peak_hour,
         CAST(SUM(c) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_hours
  FROM h GROUP BY 1)
SELECT event_type, peak_hour, total, n_hours,
       CAST(peak_hour * n_hours * 1000000 // total AS BIGINT)
         AS peak_to_mean_ppm
FROM s
""")
def events_peak_to_mean(spark, sf):
    # Capacity-planning readout: each event type's peak hourly count
    # over its mean hourly count (active hours only), in exact
    # integer ppm — peak·n_hours·10⁶ div total avoids ever computing
    # the fractional mean (the benford_profile div trick). A ratio
    # near 1 streams flat; 10+ marks bursty types that need headroom
    # or smoothing. Two grouped aggregations, both map-side
    # combinable; cardinality is |types| × calendar hours, never
    # corpus-sized.
    docs = load_table(spark, sf, "events")
    h = docs.groupBy("event_type",
                     F.date_trunc("hour", "ts").alias("hr")) \
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    s = h.groupBy("event_type").agg(
        F.max("c").cast("bigint").alias("peak_hour"),
        F.sum("c").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"))
    return s.select(
        "event_type", "peak_hour", "total", "n_hours",
        F.expr("peak_hour * n_hours * 1000000 div total")
         .cast("bigint").alias("peak_to_mean_ppm"))


# ---------------------------------------------------------------------------
# Session gap-threshold sweep (the 30-minute knob, made a curve)
# ---------------------------------------------------------------------------

@register("events_session_gap_sweep", """
WITH g AS (
  SELECT user_id,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
  FROM events),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events),
cuts AS (
  SELECT
    CAST(SUM(CASE WHEN gap_ms > 5  * 60000 THEN 1 ELSE 0 END)
         AS BIGINT) AS c5,
    CAST(SUM(CASE WHEN gap_ms > 30 * 60000 THEN 1 ELSE 0 END)
         AS BIGINT) AS c30,
    CAST(SUM(CASE WHEN gap_ms > 120 * 60000 THEN 1 ELSE 0 END)
         AS BIGINT) AS c120
  FROM g WHERE gap_ms IS NOT NULL)
SELECT CAST(5 AS BIGINT) AS gap_minutes,
       n_users + c5 AS n_sessions,
       CAST(n_events * 1000000 // (n_users + c5) AS BIGINT)
         AS events_per_session_ppm
FROM cuts, tot
UNION ALL SELECT 30, n_users + c30,
       CAST(n_events * 1000000 // (n_users + c30) AS BIGINT)
FROM cuts, tot
UNION ALL SELECT 120, n_users + c120,
       CAST(n_events * 1000000 // (n_users + c120) AS BIGINT)
FROM cuts, tot
""")
def events_session_gap_sweep(spark, sf):
    # The 30-minute sessionization knob, made a measured curve: at
    # gap thresholds 5/30/120 min, the session count is EXACTLY
    # n_users + |gaps above threshold| (each user's first event opens
    # a session; every over-threshold gap opens one more), so ONE
    # lag() gap relation feeds all three thresholds via conditional
    # aggregation — the shared-stream rule; no per-threshold
    # re-sessionization. Mean session depth in exact integer ppm.
    # Shape: one user-keyed window (the certified events_sessionize
    # shuffle), one global conditional agg, three stacked rows.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events").withColumn(
        "ms", F.unix_millis("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.withColumn("gap_ms", F.col("ms") - F.lag("ms").over(w))
    tot = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"))
    one, zero = F.lit(1), F.lit(0)

    def cnt(minutes):
        return F.sum(
            F.when(F.col("gap_ms") > minutes * 60000, one)
             .otherwise(zero)).cast("bigint")

    cuts = g.filter(F.col("gap_ms").isNotNull()).agg(
        cnt(5).alias("c5"), cnt(30).alias("c30"),
        cnt(120).alias("c120"))
    joined = cuts.crossJoin(F.broadcast(tot))
    legs = []
    for minutes, c in ((5, "c5"), (30, "c30"), (120, "c120")):
        sessions = F.col("n_users") + F.col(c)
        legs.append(joined.select(
            F.lit(minutes).cast("bigint").alias("gap_minutes"),
            sessions.alias("n_sessions"),
            F.expr(f"n_events * 1000000 div (n_users + {c})")
             .cast("bigint").alias("events_per_session_ppm")))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# Token retention after quality-canonical dedup, per source
# ---------------------------------------------------------------------------

@register("corpus_survivor_token_share", f"""
WITH RECURSIVE {_CC_EDGES_R16},
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
ranked AS (
  SELECT d.doc_id, d.source,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, d.doc_id) AS rn
  FROM documents d JOIN comp c ON c.node = d.doc_id)
SELECT source,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
         AS kept_tokens,
       CAST(SUM(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) * 1000000
            // SUM(n_tokens) AS BIGINT) AS kept_ppm
FROM ranked GROUP BY source
""")
def corpus_survivor_token_share(spark, sf):
    # The budget question behind near-dup dedup, answered per source:
    # how many TOKENS survive the quality-canonical policy (longest
    # member per cluster, dedup_quality_canonical's exact survivor
    # set)? A source at 400k kept-ppm contributes mostly copies — the
    # input for renegotiating crawl priorities. Composes the
    # certified MinHash-LSH pair relation + components + one window;
    # the token sums ride the same ranked relation via conditional
    # aggregation (no second pass).
    from pyspark.sql.window import Window

    from yougile_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from yougile_etl_pipeline_spark.operators.graph import (
        connected_components,
    )
    from yougile_etl_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text",
                              n_hashes=8, bands=4)
    comp = connected_components(pairs, docs.select("doc_id"),
                                src="doc_a", dst="doc_b",
                                node_col="doc_id")
    joined = docs.select(
        "doc_id", "source", "n_chars",
        F.size(tokens("text")).cast("bigint").alias("n_tokens")) \
        .join(comp.select(F.col("node").alias("doc_id"), "component"),
              "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id"))
    ranked = joined.withColumn("rn", F.row_number().over(w))
    kept = F.sum(F.when(F.col("rn") == 1, F.col("n_tokens"))
                  .otherwise(F.lit(0))).cast("bigint")
    return (ranked.groupBy("source")
            .agg(F.sum("n_tokens").cast("bigint").alias("total_tokens"),
                 kept.alias("kept_tokens"))
            .select("source", "total_tokens", "kept_tokens",
                    F.expr("kept_tokens * 1000000 div total_tokens")
                     .cast("bigint").alias("kept_ppm")))
