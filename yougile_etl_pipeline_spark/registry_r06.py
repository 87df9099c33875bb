"""Round-6 query registrations.

Every oracle below is the exact SQL proven bit-identical against the
engine in its per-op test (file named per entry) at BOTH sf0.001 and
the driver's certification scale sf0.01. The engine sides are the same
operator calls the tests exercise. Same determinism contract as
registry.py's module docstring.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from yougile_etl_pipeline_spark.operators.bpe import (
    apply_merge,
    best_pair,
    char_symbols,
    pair_counts,
)
from yougile_etl_pipeline_spark.operators.dedup import (
    shingle_blocking_profile,
    shingle_containment_pairs,
    shingle_jaccard_pairs,
    simhash_ham_pairs,
    simhash_portable,
)
from yougile_etl_pipeline_spark.operators.frequency import (
    count_min_build,
    count_min_estimate,
)
from yougile_etl_pipeline_spark.operators.graph import label_propagation
from yougile_etl_pipeline_spark.operators.layout import corpus_manifest
from yougile_etl_pipeline_spark.operators.linalg import gram_matrix
from yougile_etl_pipeline_spark.operators.pq import (
    ivfpq_topk,
    pq_adc_topk,
    pq_encode,
    pq_train,
)
from yougile_etl_pipeline_spark.operators.quality import (
    distribution_drift,
    exact_kth_value,
    mad_outliers,
)
from yougile_etl_pipeline_spark.operators.similarity import semantic_dedup
from yougile_etl_pipeline_spark.operators.text import (
    collocation_lift,
    domain_affinity,
)
from yougile_etl_pipeline_spark.operators.timeseries import ewma_fixed_point
from yougile_etl_pipeline_spark.registry_base import register
from yougile_etl_pipeline_spark.operators import text as _TXM
from yougile_etl_pipeline_spark.registry_ext import (
    _CSIM,
    _LANG_CASE,
    _SIMHASH_BITS,
    _SIMHASH_SIG,
    _ivf_assign_sql,
    _marker_count_sql,
    _shingles_sql,
)
from yougile_etl_pipeline_spark.sources.tables import (
    load_table,
    table_row_count,
)


# ---------------------------------------------------------------------------
# Count-Min sketch (tests/test_countmin.py)
# ---------------------------------------------------------------------------

_CM_W, _CM_D = 256, 4
_CM_HASH = ("CAST(('0x' || substr(md5(d || ':' || CAST(l_suppkey AS VARCHAR)),"
            f" 1, 15)) AS BIGINT) % {_CM_W}")


@register("sketch_countmin_suppliers", f"""
WITH ds AS (SELECT unnest(range(0, {_CM_D})) AS d),
b AS (
  SELECT d AS depth, {_CM_HASH} AS bucket
  FROM lineitem, ds
  WHERE l_suppkey IS NOT NULL),
sketch AS (SELECT depth, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
ks AS (SELECT DISTINCT l_suppkey FROM lineitem WHERE l_suppkey IS NOT NULL),
probes AS (
  SELECT l_suppkey, d AS depth, {_CM_HASH} AS bucket
  FROM ks, ds)
SELECT p.l_suppkey, MIN(COALESCE(s.cnt, 0)) AS cm_est
FROM probes p LEFT JOIN sketch s USING (depth, bucket)
GROUP BY 1
""")
def sketch_countmin_suppliers(spark, sf):
    # Bounded mergeable frequency state: estimate every supplier's
    # lineitem count from a 256×4 sketch (operators/frequency.py).
    # pre_aggregate=True (r14): the supplier domain is BOUNDED, so
    # counting per key first and hashing only distinct keys builds
    # the bit-identical sketch with depth × distinct-keys md5 calls
    # instead of depth × rows (19.4 s → 0.6 s at the sf1 probe); the
    # unbounded-key streams the d×w shuffle bound exists for keep
    # the default path.
    li = load_table(spark, sf, "lineitem")
    sk = count_min_build(li, "l_suppkey", width=_CM_W, depth=_CM_D,
                         pre_aggregate=True)
    return count_min_estimate(sk, li.select("l_suppkey"), "l_suppkey",
                              width=_CM_W, depth=_CM_D)


# ---------------------------------------------------------------------------
# Exact median / MAD robust outliers (tests/test_robust_stats.py)
# ---------------------------------------------------------------------------

@register("events_mad_outliers", """
WITH vals AS (
  SELECT event_id, event_type, value FROM events WHERE value IS NOT NULL),
r1 AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM vals),
med AS (
  SELECT event_type, SUM(value) / COUNT(*) AS median
  FROM r1 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1),
base AS (
  SELECT v.event_id, v.event_type, v.value, m.median,
         abs(v.value - m.median) AS abs_dev
  FROM vals v JOIN med m USING (event_type)),
r2 AS (
  SELECT event_type, abs_dev,
         row_number() OVER (PARTITION BY event_type ORDER BY abs_dev) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM base),
mad AS (
  SELECT event_type, SUM(abs_dev) / COUNT(*) AS mad
  FROM r2 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1)
SELECT b.event_id, b.event_type, b.value, b.median, d.mad,
       (b.value - b.median) / d.mad AS robust_z
FROM base b JOIN mad d USING (event_type)
WHERE d.mad > 0 AND b.abs_dev > 3.0 * d.mad
""")
def events_mad_outliers(spark, sf):
    ev = load_table(spark, sf, "events")
    return (mad_outliers(ev, "event_type", "value", k=3.0)
            .filter("is_outlier")
            .select("event_id", "event_type", "value",
                    "median", "mad", "robust_z"))


# ---------------------------------------------------------------------------
# Asymmetric shingle containment (tests/test_containment.py)
# ---------------------------------------------------------------------------

@register("dedup_shingle_containment", f"""
WITH ex0 AS (
  SELECT doc_id AS doc, lang, unnest({_shingles_sql('text', 3)}) AS sh
  FROM documents
), dfc AS (
  SELECT lang, sh, count(*) AS dfreq FROM ex0 GROUP BY 1, 2
), ex AS (
  SELECT ex0.doc, ex0.lang, ex0.sh
  FROM ex0 JOIN dfc USING (lang, sh) WHERE dfreq <= 1000
), sizes AS (
  SELECT doc, count(*) AS sz FROM ex GROUP BY doc
), pairs AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS common
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.lang = b.lang AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common, sa.sz AS sz_a, sb.sz AS sz_b,
       CAST(common AS DOUBLE) / sa.sz AS cont_a_in_b,
       CAST(common AS DOUBLE) / sb.sz AS cont_b_in_a
FROM pairs
JOIN sizes sa ON doc_a = sa.doc
JOIN sizes sb ON doc_b = sb.doc
WHERE CAST(common AS DOUBLE) / sa.sz >= 0.4
   OR CAST(common AS DOUBLE) / sb.sz >= 0.4
""")
def dedup_shingle_containment(spark, sf):
    docs = load_table(spark, sf, "documents")
    return shingle_containment_pairs(docs, "doc_id", "text",
                                     threshold=0.4, block_cols=["lang"])


# ---------------------------------------------------------------------------
# SemDeDup semantic dedup (tests/test_semantic_dedup.py)
# ---------------------------------------------------------------------------

@register("dedup_semantic", f"""
WITH src AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ca AS ({_ivf_assign_sql('src', 'vec_id', 'v')}),
dups AS (
  SELECT a.vec_id AS vec_id, MIN(b.vec_id) AS dup_of
  FROM ca a JOIN ca b
    ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id
  WHERE {_CSIM.format(a='a.v', b='b.v')} >= 0.25
  GROUP BY 1)
SELECT c.vec_id, c.centroid_id, d.dup_of, d.dup_of IS NULL AS is_kept
FROM ca c LEFT JOIN dups d USING (vec_id)
""")
def dedup_semantic(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    cents = emb.filter(
        F.col("vec_id") < int(round(math.sqrt(
            table_row_count(sf, "embeddings")))))
    return semantic_dedup(emb, cents, threshold=0.25)


# ---------------------------------------------------------------------------
# DSIR-shape domain affinity (tests/test_domain_affinity.py)
# ---------------------------------------------------------------------------

@register("text_domain_affinity", """
WITH feats AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents),
tfeats AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents WHERE lang = 'en'),
rawdf AS (SELECT tok, count(*) AS rdf FROM feats GROUP BY 1),
tgtdf AS (SELECT tok, count(*) AS tdf FROM tfeats GROUP BY 1)
SELECT f.doc_id,
       count(*) AS n_feats,
       CAST(SUM(COALESCE(t.tdf, 0)) AS BIGINT) AS tgt_mass,
       CAST(SUM(r.rdf) AS BIGINT) AS raw_mass,
       CAST(SUM(COALESCE(t.tdf, 0)) AS DOUBLE) / SUM(r.rdf) AS affinity
FROM feats f
JOIN rawdf r USING (tok)
LEFT JOIN tgtdf t USING (tok)
GROUP BY 1
""")
def text_domain_affinity(spark, sf):
    docs = load_table(spark, sf, "documents")
    return domain_affinity(docs, docs.filter(F.col("lang") == "en"))


# ---------------------------------------------------------------------------
# BPE merge step (tests/test_bpe.py)
# ---------------------------------------------------------------------------

@register("text_bpe_merge_step", """
WITH words AS (
  SELECT tok AS word, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok != '' GROUP BY 1),
syms AS (
  SELECT word, cnt,
         list_append(list_transform(range(1, length(word) + 1),
                                    i -> word[i]), '</w>') AS s
  FROM words),
pos AS (
  SELECT word, cnt, CAST(t.i AS INT) AS i, s[t.i] AS l, s[t.i + 1] AS r
  FROM syms, unnest(range(1, len(s))) AS t(i)),
pc AS (SELECT l, r, SUM(cnt) AS c FROM pos GROUP BY 1, 2),
win AS (SELECT l, r FROM pc ORDER BY c DESC, l, r LIMIT 1),
match AS (
  SELECT p.word, p.i FROM pos p JOIN win w ON p.l = w.l AND p.r = w.r),
runs AS (
  SELECT word, i,
         i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
  FROM match),
sel AS (
  SELECT word, i FROM (
    SELECT word, i,
           row_number() OVER (PARTITION BY word, grp ORDER BY i) AS k
    FROM runs) WHERE k % 2 = 1),
expanded AS (
  SELECT s.word, s.cnt, CAST(t.i AS INT) AS i, s.s[t.i] AS sym
  FROM syms s, unnest(range(1, len(s.s) + 1)) AS t(i)),
rebuilt AS (
  SELECT e.word, e.cnt, e.i,
         CASE WHEN sm.i IS NOT NULL THEN w.l || w.r ELSE e.sym END AS tok
  FROM expanded e
  CROSS JOIN win w
  LEFT JOIN sel sm ON sm.word = e.word AND sm.i = e.i
  LEFT JOIN sel sp ON sp.word = e.word AND sp.i = e.i - 1
  WHERE sp.i IS NULL)
SELECT word, cnt, array_to_string(list(tok ORDER BY i), ' ') AS merged
FROM rebuilt GROUP BY 1, 2
""")
def text_bpe_merge_step(spark, sf):
    docs = load_table(spark, sf, "documents")
    words = (docs.select(F.explode(F.split("text", " ")).alias("word"))
             .filter(F.col("word") != "")
             .groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
             .withColumn("syms", char_symbols("word")))
    win = best_pair(pair_counts(words, weight_col="cnt"))
    return (apply_merge(words, win[0], win[1])
            .select("word", "cnt",
                    F.array_join("syms", " ").alias("merged")))


# ---------------------------------------------------------------------------
# Collocation lift (tests/test_collocations.py)
# ---------------------------------------------------------------------------

@register("text_collocations", """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
big AS (
  SELECT t[u.i] AS tok_a, t[u.i + 1] AS tok_b
  FROM toks, unnest(range(1, len(t))) AS u(i)),
cab AS (
  SELECT tok_a, tok_b, count(*) AS c_ab
  FROM big GROUP BY 1, 2 HAVING count(*) >= 5),
uni AS (
  SELECT tok, count(*) AS c
  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
stats AS (
  SELECT SUM(len(t)) AS n_tok,
         SUM(greatest(len(t) - 1, 0)) AS n_pairs
  FROM toks)
SELECT tok_a, tok_b, c_ab, ua.c AS c_a, ub.c AS c_b,
       CAST(c_ab AS DOUBLE) * CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE)
         / (CAST(n_pairs AS DOUBLE) * CAST(ua.c AS DOUBLE)
            * CAST(ub.c AS DOUBLE)) AS lift
FROM cab
JOIN uni ua ON tok_a = ua.tok
JOIN uni ub ON tok_b = ub.tok, stats
""")
def text_collocations(spark, sf):
    docs = load_table(spark, sf, "documents")
    return collocation_lift(docs, min_pair_count=5)


# ---------------------------------------------------------------------------
# Label propagation communities (tests/test_label_propagation.py)
# ---------------------------------------------------------------------------

def _lpa_round_sql(i: int) -> str:
    p = f"l{i - 1}"
    return f"""
nbr{i} AS (SELECT e.a AS node, l.lbl FROM e JOIN {p} l ON e.b = l.node),
cnt{i} AS (SELECT node, lbl, count(*) AS c FROM nbr{i} GROUP BY 1, 2),
l{i} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
    FROM cnt{i}) WHERE rn = 1)"""


@register("graph_label_propagation", f"""
WITH d AS (
  SELECT DISTINCT doc_id % 40 AS x, (doc_id * 7 + 3) % 40 AS y
  FROM documents WHERE doc_id % 40 <> (doc_id * 7 + 3) % 40),
e AS (SELECT x AS a, y AS b FROM d UNION SELECT y, x FROM d),
l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM e),
{_lpa_round_sql(1)},
{_lpa_round_sql(2)},
{_lpa_round_sql(3)}
SELECT node, lbl AS community FROM l3
""")
def graph_label_propagation(spark, sf):
    # 3 deterministic sync-LPA rounds over the modular adjacency (the
    # graph_triangle_count certified graph).
    d = load_table(spark, sf, "documents")
    edges = d.select((F.col("doc_id") % 40).alias("src"),
                     ((F.col("doc_id") * 7 + 3) % 40).alias("dst"))
    return label_propagation(edges, iterations=3)


# ---------------------------------------------------------------------------
# Gram matrix (tests/test_linalg.py)
# ---------------------------------------------------------------------------

@register("emb_gram_matrix", """
WITH src AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
el AS (
  SELECT vec_id, CAST(t.i - 1 AS INT) AS i, v[t.i] AS x
  FROM src, unnest(range(1, len(v) + 1)) AS t(i)),
pairs AS (
  SELECT a.i AS i, b.i AS j,
         CAST(floor(a.x * b.x * 1000000000) AS BIGINT) AS u
  FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i <= b.i)
SELECT i, j, CAST(SUM(u) AS BIGINT) AS g_units
FROM pairs GROUP BY 1, 2
""")
def emb_gram_matrix(spark, sf):
    return gram_matrix(load_table(spark, sf, "embeddings"))


# ---------------------------------------------------------------------------
# SimHash banding scorecard (tests/test_simhash_eval.py)
# ---------------------------------------------------------------------------

@register("dedup_simhash_recall_eval", f"""
WITH ex0 AS (
  SELECT doc_id AS doc, unnest({_shingles_sql('text', 2)}) AS sh
  FROM documents
), dfc AS (
  SELECT sh, count(*) AS dfreq FROM ex0 GROUP BY 1
), exc AS (
  SELECT ex0.doc, ex0.sh FROM ex0 JOIN dfc USING (sh) WHERE dfreq <= 1000
), sizes AS (
  SELECT doc, count(*) AS sz FROM exc GROUP BY doc
), tp AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS common
  FROM exc a JOIN exc b ON a.sh = b.sh AND a.doc < b.doc
  GROUP BY 1, 2
), truth AS (
  SELECT doc_a, doc_b FROM tp
  JOIN sizes sa ON doc_a = sa.doc
  JOIN sizes sb ON doc_b = sb.doc
  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.5
), h AS (
  SELECT doc, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS hv FROM ex0
), agg AS (
  SELECT doc, count(*) AS n, {_SIMHASH_BITS} FROM h GROUP BY doc
), sig AS (
  SELECT doc, CAST({_SIMHASH_SIG} AS BIGINT) AS sig FROM agg
), bk AS (
  SELECT doc, sig, b.band, (sig >> (b.band * 15)) & 32767 AS bits
  FROM sig, unnest([0, 1, 2, 3]) AS b(band)
), cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.bits = b.bits
                     AND a.doc < b.doc
  WHERE bit_count(xor(a.sig, b.sig)) <= 3
), j AS (
  SELECT t.doc_a AS t_a, c.doc_a AS c_a
  FROM truth t FULL OUTER JOIN cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT
  CAST(count_if(t_a IS NOT NULL) AS BIGINT) AS n_true,
  CAST(count_if(c_a IS NOT NULL) AS BIGINT) AS n_candidates,
  CAST(count_if(t_a IS NOT NULL AND c_a IS NOT NULL) AS BIGINT) AS n_hits,
  CAST(count_if(t_a IS NOT NULL AND c_a IS NULL) AS BIGINT) AS n_missed,
  CAST(count_if(t_a IS NOT NULL AND c_a IS NOT NULL) AS DOUBLE)
    / CAST(count_if(t_a IS NOT NULL) AS DOUBLE) AS recall,
  CAST(count_if(t_a IS NOT NULL AND c_a IS NOT NULL) AS DOUBLE)
    / CAST(count_if(c_a IS NOT NULL) AS DOUBLE) AS precision
FROM j
""")
def dedup_simhash_recall_eval(spark, sf):
    docs = load_table(spark, sf, "documents")
    truth = shingle_jaccard_pairs(docs, "doc_id", "text", n=2,
                                  threshold=0.5, block_cols=None,
                                  max_shingle_df=1000) \
        .select("doc_a", "doc_b")
    cand = simhash_ham_pairs(
        simhash_portable(docs, "doc_id", "text")) \
        .select("doc_a", "doc_b")
    j = truth.withColumn("t", F.lit(1)).join(
        cand.withColumn("c", F.lit(1)),
        ["doc_a", "doc_b"], "full_outer")
    t_has = F.col("t").isNotNull()
    c_has = F.col("c").isNotNull()
    return j.agg(
        F.count_if(t_has).alias("n_true"),
        F.count_if(c_has).alias("n_candidates"),
        F.count_if(t_has & c_has).alias("n_hits"),
        F.count_if(t_has & ~c_has).alias("n_missed"),
        (F.count_if(t_has & c_has).cast("double")
         / F.count_if(t_has).cast("double")).alias("recall"),
        (F.count_if(t_has & c_has).cast("double")
         / F.count_if(c_has).cast("double")).alias("precision"))


# ---------------------------------------------------------------------------
# Distribution drift (tests/test_distribution_drift.py)
# ---------------------------------------------------------------------------

_DRIFT_CUT = "TIMESTAMP '2024-01-16 00:00:00'"


@register("quality_distribution_drift", f"""
WITH sa AS (SELECT event_type FROM events WHERE ts < {_DRIFT_CUT}),
sb AS (SELECT event_type FROM events WHERE ts >= {_DRIFT_CUT}),
ca AS (SELECT event_type AS va, count(*) AS c_a FROM sa GROUP BY 1),
cb AS (SELECT event_type AS vb, count(*) AS c_b FROM sb GROUP BY 1),
na AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a FROM ca),
nb AS (SELECT CAST(SUM(c_b) AS BIGINT) AS n_b FROM cb)
SELECT COALESCE(va, vb) AS event_type,
       COALESCE(c_a, 0) AS c_a,
       COALESCE(c_b, 0) AS c_b,
       CAST(COALESCE(c_a, 0) AS DOUBLE) / CAST(n_a AS DOUBLE) AS share_a,
       CAST(COALESCE(c_b, 0) AS DOUBLE) / CAST(n_b AS DOUBLE) AS share_b,
       abs(CAST(COALESCE(c_a, 0) AS DOUBLE) / CAST(n_a AS DOUBLE)
           - CAST(COALESCE(c_b, 0) AS DOUBLE) / CAST(n_b AS DOUBLE))
         AS share_delta
FROM ca FULL OUTER JOIN cb ON va IS NOT DISTINCT FROM vb, na, nb
""")
def quality_distribution_drift(spark, sf):
    ev = load_table(spark, sf, "events")
    cut = F.to_timestamp(F.lit("2024-01-16 00:00:00"))
    return distribution_drift(ev.filter(F.col("ts") < cut),
                              ev.filter(F.col("ts") >= cut),
                              "event_type")


# ---------------------------------------------------------------------------
# Corpus release manifest (tests/test_corpus_manifest.py)
# ---------------------------------------------------------------------------

@register("corpus_shard_manifest", """
SELECT
  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       % 16 AS INT) AS shard_id,
  count(*) AS n_rows,
  CAST(SUM(CAST(('0x' || substr(md5(
        CAST(doc_id AS VARCHAR) || chr(31)
        || COALESCE(text, '<NULL>') || chr(31)
        || COALESCE(lang, '<NULL>')), 1, 15)) AS BIGINT))
    AS VARCHAR) AS checksum
FROM documents
GROUP BY 1
""")
def corpus_shard_manifest(spark, sf):
    # checksum exceeds int64 — stringified at the boundary on BOTH
    # sides (pandas renders DuckDB HUGEINT as float otherwise).
    docs = load_table(spark, sf, "documents")
    return (corpus_manifest(docs, "doc_id", ["text", "lang"],
                            n_shards=16)
            .withColumn("checksum", F.col("checksum").cast("string")))


# ---------------------------------------------------------------------------
# Blocking-cost profiler (tests/test_blocking_profile.py)
# ---------------------------------------------------------------------------

@register("dedup_blocking_profile", f"""
WITH ex AS (
  SELECT doc_id AS doc, lang, unnest({_shingles_sql()}) AS sh
  FROM documents
), per_sh AS (
  SELECT lang, sh, count(*) AS d FROM ex GROUP BY 1, 2
), d AS (
  SELECT lang, count(DISTINCT doc) AS n_docs,
         count(*) AS n_occurrences
  FROM ex GROUP BY 1
), agg AS (
  SELECT lang, count(*) AS n_distinct_shingles, max(d) AS max_df,
         CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS candidate_pairs
  FROM per_sh GROUP BY 1
)
SELECT lang, n_docs, n_occurrences, n_distinct_shingles, max_df,
       candidate_pairs
FROM d JOIN agg USING (lang)
""")
def dedup_blocking_profile(spark, sf):
    docs = load_table(spark, sf, "documents")
    return shingle_blocking_profile(docs, "doc_id", "text",
                                    block_cols=["lang"])


# ---------------------------------------------------------------------------
# Distributed exact selection (tests/test_kth_value.py)
# ---------------------------------------------------------------------------

@register("agg_exact_median_global", """
WITH v AS (SELECT l_extendedprice AS x FROM lineitem
           WHERE l_extendedprice IS NOT NULL),
n AS (SELECT count(*) AS c FROM v)
SELECT x AS median_value FROM v, n
ORDER BY x OFFSET (SELECT (c + 1) // 2 - 1 FROM n) LIMIT 1
""")
def agg_exact_median_global(spark, sf):
    # exact_kth_value returns a scalar (the bounded driver artifact,
    # like the k-means centroid collect); wrap it one-row for the
    # driver compare.
    li = load_table(spark, sf, "lineitem")
    n = li.filter(F.col("l_extendedprice").isNotNull()).count()
    v = exact_kth_value(li, "l_extendedprice", (n + 1) // 2)
    return spark.createDataFrame([(float(v),)],
                                 "median_value double")


# ---------------------------------------------------------------------------
# Fixed-point EWMA (tests/test_timeseries.py)
# ---------------------------------------------------------------------------

@register("events_ewma", """
WITH RECURSIVE seq AS (
  SELECT user_id, event_id,
         CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
ew AS (
  SELECT user_id, event_id, rn, v * 1000000 AS s
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT n.user_id, n.event_id, n.rn,
         (1 * n.v * 1000000 + 3 * ew.s) // 4
  FROM ew JOIN seq n ON n.user_id = ew.user_id AND n.rn = ew.rn + 1)
SELECT user_id, event_id,
       CAST(s AS DOUBLE) / 100000000.0 AS ewma
FROM ew
""")
def events_ewma(spark, sf):
    ev = load_table(spark, sf, "events") \
        .select("user_id", "ts", "event_id", "value")
    return (ewma_fixed_point(ev, "user_id", ["ts", "event_id"], "value")
            .select("user_id", "event_id", "ewma"))


# ---------------------------------------------------------------------------
# Product quantization (tests/test_pq_oracle_parity.py)
# ---------------------------------------------------------------------------

_M, _K, _W = 4, 8, 16  # m subspaces, k codes, dim/m width (64-dim corpus)

_L2SQ = ("list_sum(list_transform(range(1, len({a}) + 1), "
         "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))")

_PQ_BOOKS_SQL = f"""
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
  QUALIFY row_number() OVER (PARTITION BY sub_id ORDER BY vec_id) <= {_K}),
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


def _emb_double(spark, sf):
    return (load_table(spark, sf, "embeddings")
            .select("vec_id", F.col("embedding").cast("array<double>")
                    .alias("embedding")))


@register("pq_encode", f"""
WITH {_PQ_BOOKS_SQL}
SELECT vec_id,
       array_to_string(list(code ORDER BY sub_id), ',') AS codes
FROM assign1 GROUP BY vec_id
""")
def pq_encode_q(spark, sf):
    emb = _emb_double(spark, sf)
    books = pq_train(emb, m=_M, k=_K, iters=1)
    codes = pq_encode(emb, books, m=_M)
    return codes.select(
        "vec_id",
        F.array_join(F.transform("codes", lambda c: c.cast("string")), ",")
         .alias("codes"))


@register("pq_adc_topk", f"""
WITH {_PQ_BOOKS_SQL},
qsrc AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS vec
         FROM embeddings WHERE vec_id % 97 = 0),
qsub AS (
  SELECT query_id, s.sub_id,
         vec[s.sub_id * {_W} + 1 : s.sub_id * {_W} + {_W}] AS subvec
  FROM qsrc, (SELECT CAST(unnest(range(0, {_M})) AS INT) AS sub_id) s),
qtab AS (
  SELECT query_id, sub_id, code,
         CAST({_L2SQ.format(a="subvec", b="cvec")} AS DECIMAL(27,12))
           AS qd2
  FROM qsub JOIN books USING (sub_id)),
scored AS (
  SELECT q.query_id, a.vec_id, SUM(q.qd2) AS d
  FROM assign1 a JOIN qtab q
    ON a.sub_id = q.sub_id AND a.code = q.code
  GROUP BY 1, 2)
SELECT query_id, vec_id AS match_id,
       CAST(d AS DOUBLE) AS adc_dist2,
       CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY d, vec_id) AS rank
      FROM scored)
WHERE rank <= 5
""")
def pq_adc_topk_q(spark, sf):
    emb = _emb_double(spark, sf)
    books = pq_train(emb, m=_M, k=_K, iters=1)
    codes = pq_encode(emb, books, m=_M)
    queries = (emb.filter(F.col("vec_id") % 97 == 0)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    return pq_adc_topk(codes, queries, books, k=5) \
        .withColumn("rank", F.col("rank").cast("long"))


_IVFPQ_NPROBE = 3


@register("ivfpq_topk", f"""
WITH {_PQ_BOOKS_SQL},
cent AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cent_vec
         FROM embeddings WHERE vec_id < 22),
c_assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT s.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY {_CSIM.format(a="vec", b="cent_vec")}
                              DESC, c.centroid_id) AS rn
    FROM src s CROSS JOIN cent c) WHERE rn <= 1),
qsrc AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS vec
         FROM embeddings WHERE vec_id % 97 = 0),
q_probe AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_CSIM.format(a="vec", b="cent_vec")}
                              DESC, c.centroid_id) AS rn
    FROM qsrc q CROSS JOIN cent c) WHERE rn <= {_IVFPQ_NPROBE}),
cand AS (
  SELECT q.query_id, a.vec_id
  FROM c_assign a JOIN q_probe q USING (centroid_id)),
qsub AS (
  SELECT query_id, s.sub_id,
         vec[s.sub_id * {_W} + 1 : s.sub_id * {_W} + {_W}] AS subvec
  FROM qsrc, (SELECT CAST(unnest(range(0, {_M})) AS INT) AS sub_id) s),
qtab AS (
  SELECT query_id, sub_id, code,
         CAST({_L2SQ.format(a="subvec", b="cvec")} AS DECIMAL(27,12))
           AS qd2
  FROM qsub JOIN books USING (sub_id)),
scored AS (
  SELECT q.query_id, a.vec_id, SUM(q.qd2) AS d
  FROM assign1 a
  JOIN cand c ON a.vec_id = c.vec_id
  JOIN qtab q ON q.query_id = c.query_id
            AND a.sub_id = q.sub_id AND a.code = q.code
  GROUP BY 1, 2)
SELECT query_id, vec_id AS match_id,
       CAST(d AS DOUBLE) AS adc_dist2,
       CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY d, vec_id) AS rank
      FROM scored)
WHERE rank <= 5
""")
def ivfpq_topk_q(spark, sf):
    emb = _emb_double(spark, sf)
    queries = (emb.filter(F.col("vec_id") % 97 == 0)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    centroids = emb.filter(F.col("vec_id") < 22)
    books = pq_train(emb, m=_M, k=_K, iters=1)
    return ivfpq_topk(emb, queries, centroids, books,
                      k=5, nprobe=_IVFPQ_NPROBE) \
        .withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# Trailing-window distinct counting (tests/test_rolling_distinct.py)
# ---------------------------------------------------------------------------

@register("events_rolling_users_daily", """
WITH pairs AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
  FROM events),
exp AS (
  SELECT event_type, user_id, day + CAST(o.o AS INT) AS window_day
  FROM pairs, (SELECT unnest(range(0, 7)) AS o) o),
counts AS (
  SELECT event_type, window_day,
         count(DISTINCT user_id) AS n_users_7d
  FROM exp GROUP BY 1, 2),
days AS (SELECT DISTINCT CAST(ts AS DATE) AS window_day FROM events)
SELECT c.event_type, CAST(c.window_day AS VARCHAR) AS window_day,
       c.n_users_7d
FROM counts c JOIN days USING (window_day)
""")
def events_rolling_users_daily(spark, sf):
    # trailing-7-day distinct users per (type, day) via offset
    # expansion over distinct daily-active pairs — shuffle bounded by
    # 7·|daily actives|. The per-event RANGE-frame collect_set
    # formulation measured 22.7 s at sf0.1 (O(n·frame) per partition)
    # and was rejected; this exact bucketed plan is the 100 TB shape
    # (equivalence with the naive window definition is pytest-pinned).
    ev = load_table(spark, sf, "events")
    pairs = (ev.select("event_type", F.to_date("ts").alias("day"),
                       "user_id")
               .distinct())
    exp = pairs.select(
        "event_type", "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        F.col("day"))
    exp = exp.select("event_type", "user_id",
                     F.date_add("day", F.col("off")).alias("window_day"))
    counts = (exp.groupBy("event_type", "window_day")
                 .agg(F.count_distinct("user_id").alias("n_users_7d")))
    days = ev.select(F.to_date("ts").alias("window_day")).distinct()
    return (counts.join(days, "window_day")
            .select("event_type",
                    F.date_format("window_day", "yyyy-MM-dd")
                     .alias("window_day"),
                    "n_users_7d"))


# ---------------------------------------------------------------------------
# Composition queries (tests/test_staged_compositions.py)
# ---------------------------------------------------------------------------

@register("sample_stratified_exact", """
SELECT doc_id, lang, pick_rank FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS pick_rank
  FROM documents)
WHERE pick_rank <= 20
""")
def sample_stratified_exact(spark, sf):
    # exactly-n-per-stratum deterministic subsample (md5-rank): the
    # COUNT-guarantee counterpart of the rate-based hash sampler.
    from pyspark.sql.window import Window

    docs = load_table(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (docs.withColumn("pick_rank",
                            F.row_number().over(w).cast("long"))
                .filter(F.col("pick_rank") <= 20)
                .select("doc_id", "lang", "pick_rank"))


@register("events_step_latency", """
WITH pairs AS (
  SELECT event_type || '->' || lead(event_type) OVER w AS step,
         epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
p AS (SELECT step, gap_us FROM pairs WHERE step IS NOT NULL),
r AS (
  SELECT step, gap_us,
         row_number() OVER (PARTITION BY step ORDER BY gap_us) AS rn,
         count(*) OVER (PARTITION BY step) AS n
  FROM p),
med AS (
  SELECT step, SUM(gap_us) / COUNT(*) AS median_gap_us
  FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1),
counts AS (SELECT step, count(*) AS n_transitions FROM p GROUP BY 1)
SELECT c.step, c.n_transitions, m.median_gap_us
FROM counts c JOIN med m USING (step)
""")
def events_step_latency(spark, sf):
    # funnel latency: exact median inter-event gap per transition —
    # microsecond-exact lead() pairs composed with exact_group_median.
    from pyspark.sql.window import Window

    from yougile_etl_pipeline_spark.operators.quality import (
        exact_group_median,
    )

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.lead("event_type").over(w).alias("next_type"),
        (F.unix_micros(F.lead("ts").over(w))
         - F.unix_micros("ts")).alias("gap_us"))
        .filter(F.col("next_type").isNotNull())
        .withColumn("step",
                    F.concat_ws("->", "event_type", "next_type")))
    med = exact_group_median(pairs, "step", "gap_us", "median_gap_us")
    counts = pairs.groupBy("step").agg(
        F.count(F.lit(1)).alias("n_transitions"))
    return counts.join(med, "step")


# ---------------------------------------------------------------------------
# Theil–Sen robust slope (tests/test_theil_sen.py)
# ---------------------------------------------------------------------------

@register("events_theil_sen", """
WITH base AS (
  SELECT user_id, epoch_us(ts) AS t, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL),
pairs AS (
  SELECT a.user_id,
         (b.v - a.v) / CAST(b.t - a.t AS DOUBLE) AS slope
  FROM base a JOIN base b
    ON a.user_id = b.user_id AND a.t < b.t),
r AS (
  SELECT user_id, slope,
         row_number() OVER (PARTITION BY user_id ORDER BY slope) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM pairs),
med AS (
  SELECT user_id, SUM(slope) / COUNT(*) AS sen_slope
  FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1),
cnt AS (SELECT user_id, count(*) AS n_pairs FROM pairs GROUP BY 1)
SELECT c.user_id, c.n_pairs, m.sen_slope
FROM cnt c JOIN med m USING (user_id)
""")
def events_theil_sen(spark, sf):
    # robust per-user value trend: median of pairwise slopes (the
    # enforced max_rows_per_key cap bounds the by-design quadratic).
    from yougile_etl_pipeline_spark.operators.timeseries import (
        theil_sen_slope,
    )

    ev = load_table(spark, sf, "events")
    return theil_sen_slope(ev, "user_id", "ts", "value",
                           max_rows_per_key=5000)


# ---------------------------------------------------------------------------
# Readability scoring (tests/test_readability.py)
# ---------------------------------------------------------------------------

@register("text_readability", """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_words,
       greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
       len(regexp_extract_all(lower(text), '[aeiouy]+'))
         AS n_syllable_groups,
       206.835
         - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
                    / CAST(greatest(1, len(regexp_extract_all(text,
                        '[.!?]+'))) AS DOUBLE))
         - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                        AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE))
         AS flesch
FROM documents
""")
def text_readability(spark, sf):
    # Flesch-style surface readability: integer regexp counts + one
    # fixed float expression, map-only (operators/text.py).
    from yougile_etl_pipeline_spark.operators.text import (
        readability_scores,
    )

    return readability_scores(load_table(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# N-gram novelty (tests/test_novelty.py)
# ---------------------------------------------------------------------------

@register("text_ngram_novelty", f"""
WITH ex AS (
  SELECT doc_id, unnest({_shingles_sql('text', 3)}) AS sh
  FROM documents),
debut AS (SELECT sh, min(doc_id) AS debut_doc FROM ex GROUP BY 1),
per_doc AS (
  SELECT e.doc_id,
         count(*) AS n_shingles,
         CAST(count_if(d.debut_doc = e.doc_id) AS BIGINT) AS n_novel
  FROM ex e JOIN debut d USING (sh)
  GROUP BY 1)
SELECT doc_id, n_shingles, n_novel,
       CAST(n_novel AS DOUBLE) / n_shingles AS novelty
FROM per_doc
""")
def text_ngram_novelty(spark, sf):
    # Share of a doc's distinct trigrams debuting at this doc_id in
    # corpus order — the linear diversity signal (boilerplate-heavy
    # batches score ~0). Pre-certification rework (2.6× at sf0.1,
    # bit-equal): the original joined debut back at the SHINGLE grain;
    # but n_novel per doc is just the debut table re-grouped by its
    # debut_doc, so the only join needed is doc-grain × doc-grain.
    # The raw codegen shingle stream (duplicates kept) feeds both
    # aggregates — min-debut is duplicate-insensitive and the per-doc
    # distinct count moves into count_distinct, so no interpreted
    # per-row distinct lambda either.
    from yougile_etl_pipeline_spark.operators import caching
    from yougile_etl_pipeline_spark.operators.text import shingle_stream

    docs = load_table(spark, sf, "documents")
    # r17: the raw stream feeds two differently-keyed aggregates (per-
    # doc distinct count; per-shingle min debut) — the reuse cache
    # materializes the explode once per session
    ex = caching.persist(shingle_stream(docs, "doc_id", "text", 3))
    n_sh = ex.groupBy("doc_id").agg(
        F.count_distinct("sh").alias("n_shingles"))
    novel = (ex.groupBy("sh").agg(F.min("doc_id").alias("debut_doc"))
               .groupBy("debut_doc")
               .agg(F.count(F.lit(1)).alias("n_novel")))
    return (n_sh.join(novel, n_sh.doc_id == novel.debut_doc, "left")
                .select("doc_id", "n_shingles",
                        F.coalesce("n_novel", F.lit(0).cast("bigint"))
                         .alias("n_novel"))
                .withColumn("novelty", F.col("n_novel").cast("double")
                            / F.col("n_shingles")))


# ---------------------------------------------------------------------------
# Equi-width histogram (oracle-trivial map-side binning)
# ---------------------------------------------------------------------------

@register("agg_price_histogram", """
SELECT CAST(least(15, greatest(0,
         CAST(floor(l_extendedprice / 7500.0) AS INT))) AS INT)
         AS bucket_id,
       CAST(least(15, greatest(0,
         CAST(floor(l_extendedprice / 7500.0) AS INT))) * 7500.0
         AS DOUBLE) AS bucket_lo,
       count(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
         AS total_price
FROM lineitem
WHERE l_extendedprice IS NOT NULL
GROUP BY 1, 2
""")
def agg_price_histogram(spark, sf):
    # fixed-bound equi-width histogram: one map-side binning expression
    # + a 16-group aggregate (bounds are part of the query contract, so
    # the plan is one scan — data-derived bounds are exact_kth_value's
    # territory). DECIMAL sums keep the per-bucket totals exact.
    li = load_table(spark, sf, "lineitem")         .filter(F.col("l_extendedprice").isNotNull())
    bkt = F.least(F.lit(15), F.greatest(F.lit(0), F.floor(
        F.col("l_extendedprice") / 7500.0).cast("int"))).cast("int")
    return (li.groupBy(bkt.alias("bucket_id"),
                       (bkt * 7500.0).cast("double").alias("bucket_lo"))
              .agg(F.count(F.lit(1)).alias("n_rows"),
                   F.sum(F.col("l_extendedprice").cast("decimal(20,6)"))
                    .cast("double").alias("total_price")))


# ---------------------------------------------------------------------------
# k-core peeling (tests/test_kcore.py)
# ---------------------------------------------------------------------------

def _kcore_round_sql(i: int, k: int) -> str:
    p = f"e{i - 1}"
    return f"""
d{i} AS (SELECT a, count(*) AS c FROM {p} GROUP BY 1),
k{i} AS (SELECT a FROM d{i} WHERE c >= {k}),
e{i} AS (
  SELECT e.a, e.b FROM {p} e
  JOIN k{i} x ON e.a = x.a
  JOIN k{i} y ON e.b = y.a)"""


@register("graph_kcore", f"""
WITH d0 AS (
  SELECT DISTINCT doc_id % 40 AS x, (doc_id * 7 + 3) % 40 AS y
  FROM documents WHERE doc_id % 40 <> (doc_id * 7 + 3) % 40),
e0 AS (SELECT x AS a, y AS b FROM d0 UNION SELECT y, x FROM d0),
{_kcore_round_sql(1, 2)},
{_kcore_round_sql(2, 2)},
{_kcore_round_sql(3, 2)}
SELECT a AS node, count(*) AS degree FROM e3 GROUP BY 1
""")
def graph_kcore(spark, sf):
    # 3 synchronous degree-2 peels over the modular adjacency - the
    # cohesive-subgraph / link-farm-pruning primitive, fixed-round for
    # oracle pairing (operators/graph.py::kcore_peel).
    from yougile_etl_pipeline_spark.operators.graph import kcore_peel

    d = load_table(spark, sf, "documents")
    edges = d.select((F.col("doc_id") % 40).alias("src"),
                     ((F.col("doc_id") * 7 + 3) % 40).alias("dst"))
    return kcore_peel(edges, k=2, rounds=3)


# ---------------------------------------------------------------------------
# Exact weighted median (tests/test_weighted_median.py)
# ---------------------------------------------------------------------------

@register("agg_weighted_median", """
WITH grp AS (
  SELECT l_returnflag, l_extendedprice AS v,
         SUM(CAST(l_quantity AS BIGINT)) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND CAST(l_quantity AS BIGINT) > 0
  GROUP BY 1, 2),
c AS (
  SELECT l_returnflag, v, w,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cumw,
         SUM(w) OVER (PARTITION BY l_returnflag) AS totw
  FROM grp)
SELECT l_returnflag, v AS wmedian FROM c
WHERE 2 * cumw >= totw AND 2 * (cumw - w) < totw
""")
def agg_weighted_median(spark, sf):
    # quantity-weighted lower median price per return flag - exact,
    # a member of the data (no averaging), one shuffle
    # (operators/quality.py::weighted_group_median).
    from yougile_etl_pipeline_spark.operators.quality import (
        weighted_group_median,
    )

    li = load_table(spark, sf, "lineitem")
    return weighted_group_median(
        li, "l_returnflag", "l_extendedprice", "l_quantity")


# ---------------------------------------------------------------------------
# Benford first-digit audit (tests/test_benford.py)
# ---------------------------------------------------------------------------

_BENFORD_VALUES = ", ".join(
    f"({d}, {p})" for d, p in
    [(1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
     (6, 66947), (7, 57992), (8, 51153), (9, 45757)])


@register("quality_benford", f"""
WITH base AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1),
obs AS (SELECT digit, count(*) AS n_values FROM base GROUP BY 1),
tot AS (SELECT count(*) AS t FROM base),
spine AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit),
expd AS (SELECT * FROM (VALUES {_BENFORD_VALUES})
         AS e(digit, exp_ppm))
SELECT s.digit,
       COALESCE(o.n_values, 0) AS n_values,
       COALESCE(o.n_values, 0) * 1000000 // greatest(t.t, 1)
         AS obs_ppm,
       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
       COALESCE(o.n_values, 0) * 1000000 // greatest(t.t, 1)
         - e.exp_ppm AS dev_ppm
FROM spine s
LEFT JOIN obs o USING (digit)
JOIN expd e USING (digit)
CROSS JOIN tot t
""")
def quality_benford(spark, sf):
    # first-significant-digit audit of order totals vs Benford's law -
    # pure integer ppm arithmetic, log-free on both engines
    # (operators/quality.py::benford_profile).
    from yougile_etl_pipeline_spark.operators.quality import (
        benford_profile,
    )

    return benford_profile(load_table(spark, sf, "orders"),
                           "o_totalprice")


# ---------------------------------------------------------------------------
# CUSUM change-point alarms (tests/test_cusum.py)
# ---------------------------------------------------------------------------

@register("events_cusum_alarms", """
WITH RECURSIVE seq AS (
  SELECT user_id, event_id,
         CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
cs AS (
  SELECT user_id, event_id, rn,
         greatest(0, v - 6000) AS raw,
         CASE WHEN greatest(0, v - 6000) > 30000 THEN 0
              ELSE greatest(0, v - 6000) END AS carry
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT n.user_id, n.event_id, n.rn,
         greatest(0, cs.carry + n.v - 6000),
         CASE WHEN greatest(0, cs.carry + n.v - 6000) > 30000 THEN 0
              ELSE greatest(0, cs.carry + n.v - 6000) END
  FROM cs JOIN seq n ON n.user_id = cs.user_id AND n.rn = cs.rn + 1)
SELECT user_id, event_id,
       CAST(raw AS DOUBLE) / 100.0 AS cusum,
       raw > 30000 AS is_alarm
FROM cs
""")
def events_cusum_alarms(spark, sf):
    # Page's one-sided CUSUM with reset, exact int64 recurrence folded
    # as one codegen aggregate per user - sequential drift alarms
    # (operators/timeseries.py::cusum_fixed_point).
    from yougile_etl_pipeline_spark.operators.timeseries import (
        cusum_fixed_point,
    )

    ev = load_table(spark, sf, "events") \
        .select("user_id", "ts", "event_id", "value")
    return (cusum_fixed_point(ev, "user_id", ["ts", "event_id"],
                              "value", drift=60.0, threshold=300.0)
            .select("user_id", "event_id", "cusum", "is_alarm"))


# ---------------------------------------------------------------------------
# Trailing-window OLS trend (tests/test_rolling_slope.py)
# ---------------------------------------------------------------------------

@register("events_rolling_slope", """
WITH base AS (
  SELECT user_id, event_id,
         CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT) AS y,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS BIGINT) AS x
  FROM events),
w AS (
  SELECT user_id, event_id,
         count(y) OVER win AS n_window,
         SUM(CASE WHEN y IS NOT NULL THEN x END) OVER win AS sx,
         SUM(y) OVER win AS sy,
         SUM(x * y) OVER win AS sxy,
         SUM(CASE WHEN y IS NOT NULL THEN x * x END) OVER win AS sxx
  FROM base
  WINDOW win AS (PARTITION BY user_id ORDER BY x
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
SELECT user_id, event_id, n_window,
       CASE WHEN n_window * sxx - sx * sx <> 0
            THEN CAST(n_window * sxy - sx * sy AS DOUBLE)
                 / CAST((n_window * sxx - sx * sx) * 100 AS DOUBLE)
       END AS slope
FROM w
""")
def events_rolling_slope(spark, sf):
    # trailing-10 OLS slope from four exact int64 window sums, one
    # IEEE division at the end - the local-trend twin of the staged
    # Theil-Sen (operators/timeseries.py::rolling_slope).
    from yougile_etl_pipeline_spark.operators.timeseries import (
        rolling_slope,
    )

    ev = load_table(spark, sf, "events") \
        .select("user_id", "ts", "event_id", "value")
    return (rolling_slope(ev, "user_id", ["ts", "event_id"], "value",
                          window_n=10)
            .select("user_id", "event_id", "n_window", "slope"))


# ---------------------------------------------------------------------------
# Cross-doc duplicate n-gram span coverage (tests/test_dup_spans.py)
# ---------------------------------------------------------------------------

_DUP_N = 5


@register("text_dup_span_coverage", f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
ex AS (
  SELECT doc_id, s,
         md5(array_to_string(toks[s:s+{_DUP_N - 1}], ' ')) AS fp
  FROM t, LATERAL (SELECT unnest(range(1,
           greatest(len(toks) - {_DUP_N} + 1, 0) + 1)) AS s) ls),
dup AS (SELECT fp FROM ex GROUP BY fp
        HAVING count(DISTINCT doc_id) >= 2),
cov AS (
  SELECT doc_id, count(DISTINCT p) AS n_covered
  FROM ex JOIN dup USING (fp),
       LATERAL (SELECT unnest(range(s, s + {_DUP_N})) AS p) lp
  GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(cov.n_covered, 0) AS BIGINT) AS n_covered,
       CAST(COALESCE(cov.n_covered, 0) AS DOUBLE)
         / CAST(len(t.toks) AS DOUBLE) AS coverage
FROM t LEFT JOIN cov USING (doc_id)
""")
def text_dup_span_coverage(spark, sf):
    # Lee-et-al exact-substring dedup signal: fraction of each doc's
    # token positions inside an n-gram shared with ANOTHER doc -
    # positional span union in codegen array math, fingerprint-sized
    # shuffles (operators/text.py::dup_span_coverage).
    from yougile_etl_pipeline_spark.operators.text import (
        dup_span_coverage,
    )

    return dup_span_coverage(load_table(spark, sf, "documents"),
                             n=_DUP_N)


# ---------------------------------------------------------------------------
# Market-basket co-purchase lift (tests/test_copurchase.py)
# ---------------------------------------------------------------------------

@register("freq_copurchase_lift", """
WITH items AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
pairs AS (
  SELECT a.i AS item_a, b.i AS item_b, count(*) AS c_ab
  FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
  GROUP BY 1, 2
  HAVING count(*) >= 2),
support AS (SELECT i, count(*) AS c FROM items GROUP BY 1),
totals AS (SELECT count(DISTINCT b) AS n_baskets FROM items)
SELECT p.item_a, p.item_b, p.c_ab,
       sa.c AS c_a, sb.c AS c_b, t.n_baskets,
       CAST(p.c_ab AS DOUBLE) * CAST(t.n_baskets AS DOUBLE)
         / (CAST(sa.c AS DOUBLE) * CAST(sb.c AS DOUBLE)) AS lift
FROM pairs p
JOIN support sa ON sa.i = p.item_a
JOIN support sb ON sb.i = p.item_b
CROSS JOIN totals t
""")
def freq_copurchase_lift(spark, sf):
    # parts ordered together ranked by ln-free lift - per-basket
    # self-join bounded by the enforced basket cap, distinct-basket
    # supports (operators/frequency.py::copurchase_lift).
    from yougile_etl_pipeline_spark.operators.frequency import (
        copurchase_lift,
    )

    li = load_table(spark, sf, "lineitem")
    return copurchase_lift(li, "l_orderkey", "l_partkey",
                           min_pair_count=2)


# ---------------------------------------------------------------------------
# Deterministic exact mode (tests/test_exact_mode.py)
# ---------------------------------------------------------------------------

@register("events_mode_type", """
WITH counts AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events WHERE event_type IS NOT NULL
  GROUP BY 1, 2),
ranked AS (
  SELECT user_id, event_type, c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY c DESC, event_type DESC) AS rn
  FROM counts)
SELECT user_id, event_type AS mode, c AS mode_count
FROM ranked WHERE rn = 1
""")
def events_mode_type(spark, sf):
    # per-user most frequent event type with the deterministic
    # largest-value tie-break - argmax-by-struct, two partial-agg
    # shuffles, no window sort (operators/quality.py::exact_mode).
    from yougile_etl_pipeline_spark.operators.quality import exact_mode

    return exact_mode(load_table(spark, sf, "events"),
                      "user_id", "event_type")


# ---------------------------------------------------------------------------
# Neighbor-set Jaccard link prediction (tests/test_neighbor_jaccard.py)
# ---------------------------------------------------------------------------

@register("graph_link_jaccard", """
WITH d0 AS (
  SELECT DISTINCT doc_id % 40 AS x, (doc_id * 7 + 3) % 40 AS y
  FROM documents WHERE doc_id % 40 <> (doc_id * 7 + 3) % 40),
und AS (SELECT x AS a, y AS b FROM d0 UNION SELECT y, x FROM d0),
deg AS (SELECT a, count(*) AS deg FROM und GROUP BY 1),
wedge AS (
  SELECT l.a AS node_a, r.b AS node_b
  FROM und l JOIN und r ON l.b = r.a
  WHERE l.a < r.b),
common AS (
  SELECT node_a, node_b, count(*) AS n_common
  FROM wedge GROUP BY 1, 2),
j AS (
  SELECT c.node_a, c.node_b, c.n_common,
         da.deg AS deg_a, db.deg AS deg_b
  FROM common c
  JOIN deg da ON da.a = c.node_a
  JOIN deg db ON db.a = c.node_b)
SELECT node_a, node_b, n_common, deg_a, deg_b,
       CAST(n_common AS DOUBLE)
         / CAST(deg_a + deg_b - n_common AS DOUBLE) AS jaccard
FROM j
""")
def graph_link_jaccard(spark, sf):
    # neighbor-set Jaccard over the modular adjacency (the certified
    # graph family's fixture): wedge-join candidates, degree join-back,
    # one IEEE division (operators/graph.py::neighbor_jaccard).
    from yougile_etl_pipeline_spark.operators.graph import (
        neighbor_jaccard,
    )

    d = load_table(spark, sf, "documents")
    edges = d.select((F.col("doc_id") % 40).alias("src"),
                     ((F.col("doc_id") * 7 + 3) % 40).alias("dst"))
    return neighbor_jaccard(edges)


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (tests/test_rake.py)
# ---------------------------------------------------------------------------

_RAKE_STOPLIST = "[" + ", ".join(
    f"'{w}'" for w in
    ["the", "a", "of", "and", "to", "in", "is", "on", "for",
     "with"]) + "]"


@register("text_rake_keyphrases", f"""
WITH toked AS (
  SELECT doc_id AS id, i AS pos, toks[i] AS tok,
         (list_contains({_RAKE_STOPLIST}, toks[i]) OR toks[i] = '')
           AS is_stop
  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents) t,
       LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) l),
segged AS (
  SELECT id, pos, tok, is_stop,
         SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
           OVER (PARTITION BY id ORDER BY pos) AS seg
  FROM toked),
words AS (
  SELECT id, seg, pos, tok,
         count(*) OVER (PARTITION BY id, seg) AS plen
  FROM segged WHERE NOT is_stop),
wstats AS (
  SELECT tok,
         CAST(SUM(plen) * 1000000 // count(*) AS BIGINT) AS wppm
  FROM words GROUP BY tok),
phrases AS (
  SELECT id, seg,
         string_agg(w.tok, ' ' ORDER BY w.pos) AS phrase,
         count(*) AS nw, CAST(SUM(ws.wppm) AS BIGINT) AS score
  FROM words w JOIN wstats ws USING (tok)
  GROUP BY 1, 2)
SELECT phrase, CAST(max(nw) AS BIGINT) AS n_words,
       count(*) AS n_occurrences, max(score) AS score_ppm
FROM phrases GROUP BY 1 HAVING count(*) >= 2
""")
def text_rake_keyphrases(spark, sf):
    # RAKE: stopword-delimited phrases scored by summed word
    # degree/frequency in integer ppm - float-free output
    # (operators/text.py::rake_keyphrases).
    from yougile_etl_pipeline_spark.operators.text import (
        rake_keyphrases,
    )

    return rake_keyphrases(load_table(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# Exact per-group quantiles (tests/test_group_quantiles.py)
# ---------------------------------------------------------------------------

@register("agg_exact_quantiles", """
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice AS v,
         CAST(row_number() OVER (PARTITION BY l_returnflag
                                 ORDER BY l_extendedprice) AS BIGINT)
           AS rn,
         CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT)
           AS n
  FROM lineitem WHERE l_extendedprice IS NOT NULL),
fanned AS (
  SELECT l_returnflag, v, rn, n, q.q_ppm
  FROM ranked,
       (VALUES (CAST(250000 AS BIGINT)), (500000), (950000))
         AS q(q_ppm))
SELECT l_returnflag, q_ppm, v AS quantile
FROM fanned
WHERE rn = (n * q_ppm + 999999) // 1000000
""")
def agg_exact_quantiles(spark, sf):
    # exact type-1 p25/p50/p95 per return flag - data-member answers,
    # one key shuffle, map-side level fan-out
    # (operators/quality.py::exact_group_quantiles).
    from yougile_etl_pipeline_spark.operators.quality import (
        exact_group_quantiles,
    )

    li = load_table(spark, sf, "lineitem")
    return exact_group_quantiles(li, "l_returnflag", "l_extendedprice",
                                 q_ppm=[250_000, 500_000, 950_000])


# ---------------------------------------------------------------------------
# Hour-of-week seasonal baseline (tests/test_seasonal_baseline.py)
# ---------------------------------------------------------------------------

@register("events_seasonal_baseline", """
WITH keyed AS (
  SELECT event_id, event_type, value,
         dayofweek(ts) + 1 AS dow, hour(ts) AS hod
  FROM events),
prof AS (
  SELECT event_type, dow, hod,
         CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS baseline_mean
  FROM keyed WHERE value IS NOT NULL
  GROUP BY 1, 2, 3)
SELECT k.event_id, k.event_type, k.value, p.baseline_mean,
       k.value - p.baseline_mean AS baseline_residual
FROM keyed k
LEFT JOIN prof p USING (event_type, dow, hod)
""")
def events_seasonal_baseline(spark, sf):
    # hour-of-week slot means + residuals - the periodic-telemetry
    # anomaly lens; bounded profile broadcasts back (Spark dayofweek
    # = DuckDB dayofweek + 1)
    # (operators/timeseries.py::seasonal_baseline).
    from yougile_etl_pipeline_spark.operators.timeseries import (
        seasonal_baseline,
    )

    ev = load_table(spark, sf, "events") \
        .select("event_id", "event_type", "ts", "value")
    return (seasonal_baseline(ev, "ts", "value",
                              group_cols=["event_type"])
            .select("event_id", "event_type", "value",
                    "baseline_mean", "baseline_residual"))


# ---------------------------------------------------------------------------
# Per-group winsorization (tests/test_winsorize.py)
# ---------------------------------------------------------------------------

@register("quality_winsorize", """
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice AS v,
         CAST(row_number() OVER (PARTITION BY l_returnflag
                                 ORDER BY l_extendedprice) AS BIGINT)
           AS rn,
         CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT)
           AS n
  FROM lineitem WHERE l_extendedprice IS NOT NULL),
cuts AS (
  SELECT l_returnflag,
         MIN(CASE WHEN rn = (n * 50000 + 999999) // 1000000
                  THEN v END) AS q_lo,
         MIN(CASE WHEN rn = (n * 950000 + 999999) // 1000000
                  THEN v END) AS q_hi
  FROM ranked GROUP BY 1)
SELECT li.l_orderkey, li.l_linenumber, li.l_returnflag,
       li.l_extendedprice, c.q_lo, c.q_hi,
       CASE WHEN li.l_extendedprice IS NOT NULL
            THEN greatest(c.q_lo, least(c.q_hi, li.l_extendedprice))
       END AS winsorized,
       li.l_extendedprice IS NOT NULL
         AND greatest(c.q_lo, least(c.q_hi, li.l_extendedprice))
             <> li.l_extendedprice AS was_clipped
FROM lineitem li
LEFT JOIN cuts c USING (l_returnflag)
""")
def quality_winsorize(spark, sf):
    # clip prices into each flag's exact [p5, p95] band - keeps rows,
    # exact data-member cut points, broadcast join-back
    # (operators/quality.py::winsorize_by_group).
    from yougile_etl_pipeline_spark.operators.quality import (
        winsorize_by_group,
    )

    li = load_table(spark, sf, "lineitem") \
        .select("l_orderkey", "l_linenumber", "l_returnflag",
                "l_extendedprice")
    return winsorize_by_group(li, "l_returnflag", "l_extendedprice")


# ---------------------------------------------------------------------------
# Hashing-trick term features (tests/test_hashed_features.py)
# ---------------------------------------------------------------------------

_FH_DIMS = 64


@register("text_hashed_features", f"""
WITH ex AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents)
SELECT doc_id,
       CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % {_FH_DIMS}
         AS bucket,
       count(*) AS tf
FROM ex WHERE tok <> ''
GROUP BY 1, 2
""")
def text_hashed_features(spark, sf):
    # vocabulary-free sparse term features folded into 64 md5 buckets
    # - the hashing trick; shuffle capped at dims rows per doc
    # (operators/text.py::hashed_term_features).
    from yougile_etl_pipeline_spark.operators.text import (
        hashed_term_features,
    )

    return hashed_term_features(load_table(spark, sf, "documents"),
                                dims=_FH_DIMS)


# ---------------------------------------------------------------------------
# RFM segmentation (tests/test_rfm.py)
# ---------------------------------------------------------------------------

def _rfm_cut_sql(metric: str, ppm: int) -> str:
    # rank over NON-NULL metric rows only — exact_group_quantiles
    # excludes NULLs, and an all-NULL-amount entity must not shift
    # the cut ranks (DuckDB would otherwise rank it NULLS LAST and
    # count it in n)
    return (f"(SELECT v FROM (SELECT {metric} AS v, "
            f"row_number() OVER (ORDER BY {metric}) AS rn, "
            f"CAST(count(*) OVER () AS BIGINT) AS n FROM b2 "
            f"WHERE {metric} IS NOT NULL) "
            f"WHERE rn = (n * {ppm} + 999999) // 1000000)")


def _rfm_score_sql(metric: str, invert: bool) -> str:
    terms = " + ".join(
        f"(CASE WHEN {_rfm_cut_sql(metric, p)} < {metric} "
        f"THEN 1 ELSE 0 END)"
        for p in (200000, 400000, 600000, 800000))
    return f"5 - ({terms})" if invert else f"1 + ({terms})"


@register("mart_rfm_scores", f"""
WITH base AS (
  SELECT o_custkey,
         max(CAST(o_orderdate AS DATE)) AS last_d,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE)
           AS monetary
  FROM orders WHERE o_orderdate IS NOT NULL
  GROUP BY 1),
ref AS (SELECT max(last_d) AS ref_d FROM base),
b2 AS (
  SELECT o_custkey,
         CAST(date_diff('day', last_d, ref_d) AS BIGINT)
           AS recency_days,
         frequency, monetary
  FROM base CROSS JOIN ref)
SELECT o_custkey, recency_days, frequency, monetary,
       CAST({_rfm_score_sql('recency_days', True)} AS INT) AS r_score,
       CAST({_rfm_score_sql('frequency', False)} AS INT) AS f_score,
       CAST({_rfm_score_sql('monetary', False)} AS INT) AS m_score,
       CAST(({_rfm_score_sql('recency_days', True)}) * 100
            + ({_rfm_score_sql('frequency', False)}) * 10
            + ({_rfm_score_sql('monetary', False)}) AS INT) AS rfm
FROM b2
""")
def mart_rfm_scores(spark, sf):
    # recency/frequency/monetary quintile-band scoring - exact
    # quantile cuts broadcast back, no global ntile single-task sort
    # (operators/quality.py::rfm_scores).
    from yougile_etl_pipeline_spark.operators.quality import rfm_scores

    return rfm_scores(load_table(spark, sf, "orders"),
                      "o_custkey", "o_orderdate", "o_totalprice")


# ---------------------------------------------------------------------------
# Cross-doc duplicate-span REMOVAL (tests/test_dup_removal.py)
# ---------------------------------------------------------------------------

_DSR_N = 5


@register("text_dup_span_removal", f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
ex AS (
  SELECT doc_id, s,
         md5(array_to_string(toks[s:s+{_DSR_N - 1}], ' ')) AS fp
  FROM t, LATERAL (SELECT unnest(range(1,
           greatest(len(toks) - {_DSR_N} + 1, 0) + 1)) AS s) ls),
debut AS (SELECT fp, min(doc_id) AS d0 FROM ex GROUP BY 1),
cov AS (
  SELECT doc_id, list_distinct(flatten(list(pr))) AS cov
  FROM (
    SELECT e.doc_id,
           list_transform(range(e.s, e.s + {_DSR_N}), x -> x) AS pr
    FROM ex e JOIN debut d USING (fp)
    WHERE d.d0 < e.doc_id)
  GROUP BY 1)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(len(cov.cov), 0) AS BIGINT) AS n_removed,
       COALESCE(array_to_string(
         list_filter(
           list_transform(range(1, len(t.toks) + 1),
                          i -> CASE WHEN cov.cov IS NULL
                                      OR NOT list_contains(cov.cov, i)
                                    THEN t.toks[i] END),
           x -> x IS NOT NULL), ' '), '') AS clean_text
FROM t LEFT JOIN cov USING (doc_id)
""")
def text_dup_span_removal(spark, sf):
    # Lee-et-al exact-substring dedup as an executable rewrite: spans
    # duplicated from an earlier doc are DELETED, debut doc keeps its
    # text (operators/text.py::dup_span_removal). NB DuckDB
    # array_to_string([]) is NULL, hence the oracle's COALESCE.
    from yougile_etl_pipeline_spark.operators.text import (
        dup_span_removal,
    )

    return dup_span_removal(load_table(spark, sf, "documents"),
                            n=_DSR_N)


# ---------------------------------------------------------------------------
# Cohort lifetime-value curve (tests/test_cohort_ltv.py)
# ---------------------------------------------------------------------------

@register("mart_cohort_ltv", """
WITH o AS (
  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         o_totalprice
  FROM orders WHERE o_orderdate IS NOT NULL),
first AS (SELECT o_custkey, min(m) AS cohort_month FROM o GROUP BY 1),
j AS (
  SELECT f.cohort_month,
         CAST(datediff('month', f.cohort_month, o.m) AS BIGINT)
           AS age_months,
         o.o_totalprice
  FROM o JOIN first f USING (o_custkey)),
per AS (
  SELECT cohort_month, age_months,
         SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS rev,
         count(*) AS n_orders
  FROM j GROUP BY 1, 2)
SELECT CAST(cohort_month AS VARCHAR) AS cohort_month, age_months,
       n_orders,
       CAST(SUM(rev) OVER (PARTITION BY cohort_month ORDER BY age_months
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         AS cum_revenue
FROM per
""")
def mart_cohort_ltv(spark, sf):
    # cohort LTV curve: customer-grain cohort tag, (cohort, age)
    # DECIMAL-exact revenue, cumulative window over months (frame is
    # months per cohort - tiny); oracle pinned by
    # tests/test_cohort_ltv.py.
    from pyspark.sql.window import Window

    o = load_table(spark, sf, "orders") \
        .filter(F.col("o_orderdate").isNotNull())
    first = (o.groupBy("o_custkey")
             .agg(F.min(F.trunc(F.col("o_orderdate").cast("timestamp")
                                 .cast("date"), "month"))
                  .alias("cohort_month")))
    j = o.join(first, "o_custkey")
    age = (F.months_between(
        F.trunc(F.col("o_orderdate").cast("timestamp").cast("date"),
                "month"),
        F.col("cohort_month"))).cast("bigint")
    per = (j.withColumn("age_months", age)
            .groupBy("cohort_month", "age_months")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(24,6)"))
                  .alias("__rev"),
                 F.count(F.lit(1)).alias("n_orders")))
    w = (Window.partitionBy("cohort_month").orderBy("age_months")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return per.select(
        F.col("cohort_month").cast("string").alias("cohort_month"),
        "age_months", "n_orders",
        F.sum("__rev").over(w).cast("double").alias("cum_revenue"))


# ---------------------------------------------------------------------------
# Behavioral path mining (tests/test_top_paths.py)
# ---------------------------------------------------------------------------

@register("events_top_paths", """
WITH t AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
FROM t WHERE e1 IS NOT NULL AND e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path
LIMIT 25
""")
def events_top_paths(spark, sf):
    # top-25 user event-type trigram paths: two leads share ONE
    # user-keyed window shuffle; counting is bounded by
    # |event_types|^3; lexicographic tie-break makes the limit
    # deterministic; oracle pinned by tests/test_top_paths.py.
    # Trigrams containing a NULL event_type are dropped on BOTH
    # sides explicitly: concat_ws SKIPS nulls while SQL || propagates
    # them, so an unguarded NULL would emit a bigram masquerading as
    # a trigram on the Spark side only.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events") \
        .select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (ev.select(
            "user_id",
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"))
         .filter(F.col("e1").isNotNull() & F.col("e2").isNotNull()
                 & F.col("e3").isNotNull()))
    return (t.select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
             .groupBy("path")
             .agg(F.count(F.lit(1)).alias("n"))
             .orderBy(F.col("n").desc(), F.col("path"))
             .limit(25))


# ---------------------------------------------------------------------------
# Per-state dwell time (tests/test_dwell_time.py)
# ---------------------------------------------------------------------------

@register("events_dwell_time", """
WITH g AS (
  SELECT user_id, event_type,
         epoch_us(lead(ts, 1) OVER w) - epoch_us(ts) AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, event_type,
       CAST(SUM(gap_us) AS BIGINT) AS dwell_us,
       count(gap_us) AS n_intervals
FROM g GROUP BY 1, 2
""")
def events_dwell_time(spark, sf):
    # time-in-state: gap to the next event attributed to the current
    # event's type; exact microsecond int64 diffs, one user-keyed
    # window shuffle; oracle pinned by tests/test_dwell_time.py.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events") \
        .select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_micros(F.lead("ts", 1).over(w))
           - F.unix_micros(F.col("ts")))
    return (ev.withColumn("__gap_us", gap)
              .groupBy("user_id", "event_type")
              .agg(F.sum("__gap_us").alias("dwell_us"),
                   F.count("__gap_us").alias("n_intervals")))


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (tests/test_lang_confusion.py)
# ---------------------------------------------------------------------------

@register("text_lang_confusion", f"""
WITH pred AS (
  SELECT lang, CASE {_LANG_CASE} ELSE 'und' END AS lang_pred
  FROM (
    SELECT lang,
      {", ".join(f"{_marker_count_sql(m)} AS score_{lang}"
                 for lang, m in _TXM.LANG_MARKERS.items())},
      greatest({", ".join(f"{_marker_count_sql(m)}"
                          for m in _TXM.LANG_MARKERS.values())}) AS best
    FROM documents
  ))
SELECT lang, lang_pred, count(*) AS n
FROM pred GROUP BY 1, 2
""")
def text_lang_confusion(spark, sf):
    # declared lang vs the certified marker predictor, counted - the
    # label-QA matrix; reuses text_lang_id's oracle fragments so the
    # two cannot drift (tests/test_lang_confusion.py).
    docs = load_table(spark, sf, "documents")
    return (_TXM.language_id(docs)
            .groupBy("lang", "lang_pred")
            .agg(F.count(F.lit(1)).alias("n")))


# ---------------------------------------------------------------------------
# Stateful streaming EWMA (tests/test_stream_ewma.py)
# ---------------------------------------------------------------------------

@register("stream_ewma_values", """
WITH RECURSIVE seq AS (
  SELECT user_id, event_id,
         CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
ew AS (
  SELECT user_id, event_id, rn, v * 1000000 AS s
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT n.user_id, n.event_id, n.rn,
         (1 * n.v * 1000000 + 3 * ew.s) // 4
  FROM ew JOIN seq n ON n.user_id = ew.user_id AND n.rn = ew.rn + 1)
SELECT user_id, event_id,
       CAST(s AS DOUBLE) / 100000000.0 AS ewma
FROM ew
""")
def stream_ewma_values(spark, sf):
    # Hash-exact since r07 (was rows-only through r06): the streaming
    # EWMA's emitted (user_id, event_id, ewma) rows ARE deterministic
    # under an availableNow drain — rows are (ts, event_id)-sorted
    # within each micro-batch, the int64 state carries across batches,
    # and a static-snapshot file source replays in one deterministic
    # batch — so the entry pairs directly with the batch op's
    # recursive-CTE oracle (same SQL as `events_ewma`; sharing it is
    # the point: the streaming twin must equal the batch op bit-wise,
    # which tests/test_stream_ewma.py also asserts literally).
    from yougile_etl_pipeline_spark.streaming.stateful import (
        run_ewma_available_now,
    )

    return run_ewma_available_now(spark, sf)


# ---------------------------------------------------------------------------
# ABC revenue classification (tests/test_abc_analysis.py) — registered
# mid-round-6 into the slot freed by promoting f_hash_functions to
# stable, AFTER the VERDICT r05 #6 rework: the part-catalog ranking is
# bucket-partitioned (approx-cut buckets + per-bucket offsets), output
# bit-identical to the single global window the oracle ranks with.
# ---------------------------------------------------------------------------

@register("mart_abc_parts", """
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
SELECT l_partkey, rank,
       CAST(r AS DOUBLE) AS revenue,
       CAST(cum AS DOUBLE) AS cum_revenue,
       CASE WHEN cum * 1000000 <= t * 800000 THEN 'A'
            WHEN cum * 1000000 <= t * 950000 THEN 'B'
            ELSE 'C' END AS abc_band
FROM ranked
""")
def mart_abc_parts(spark, sf):
    from yougile_etl_pipeline_spark.operators.quality import abc_analysis

    return abc_analysis(load_table(spark, sf, "lineitem"),
                        "l_partkey", "l_extendedprice")
