"""Round-10 query registrations.

Every entry landed with its DuckDB oracle proven bit-identical at
sf0.001 AND sf0.01 and a recorded sf0.1 wall time + plan fingerprint
(bench.py's r10 block). Same determinism contract as registry.py's
module docstring.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yougile_etl_pipeline_spark.registry_base import register
from yougile_etl_pipeline_spark.registry_ext import _QSCALE_SQL
from yougile_etl_pipeline_spark.sources.tables import load_table


@register("quality_iqr_outliers", """
WITH ranked AS (
  SELECT event_type, value AS v,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY value) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM events WHERE value IS NOT NULL),
q AS (SELECT event_type,
        MIN(CASE WHEN rn = (n * 250000 + 999999) // 1000000
                 THEN v END) AS q1,
        MIN(CASE WHEN rn = (n * 750000 + 999999) // 1000000
                 THEN v END) AS q3
      FROM ranked GROUP BY event_type),
f AS (SELECT event_type, q1, q3,
        q1 - 1.5 * (q3 - q1) AS lo,
        q3 + 1.5 * (q3 - q1) AS hi FROM q)
SELECT e.event_type, count(*) AS n,
  CAST(SUM(CASE WHEN e.value < f.lo THEN 1 ELSE 0 END) AS BIGINT)
    AS n_low,
  CAST(SUM(CASE WHEN e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT)
    AS n_high,
  MIN(f.q1) AS q1, MIN(f.q3) AS q3
FROM events e JOIN f USING (event_type)
WHERE e.value IS NOT NULL
GROUP BY e.event_type
""")
def quality_iqr_outliers(spark, sf):
    # Tukey-fence outlier audit per key: exact type-1 quartiles
    # (quality.py::exact_group_quantiles — data-member answers, one
    # key shuffle) → 1.5·IQR fences → per-key outlier counts. The
    # fence arithmetic is three double ops in identical operand
    # order on both engines; the |keys|-row fence table broadcasts,
    # so the fact side pays one extra scan and no extra shuffle.
    from yougile_etl_pipeline_spark.operators.quality import (
        exact_group_quantiles,
    )

    ev = (load_table(spark, sf, "events")
          .select("event_type", "value")
          .filter(F.col("value").isNotNull()))
    qs = exact_group_quantiles(ev, "event_type", "value",
                               q_ppm=[250_000, 750_000])
    p = qs.groupBy("event_type").agg(
        F.min(F.when(F.col("q_ppm") == 250_000,
                     F.col("quantile"))).alias("q1"),
        F.min(F.when(F.col("q_ppm") == 750_000,
                     F.col("quantile"))).alias("q3"))
    fence = p.select(
        "event_type", "q1", "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"))
    return (ev.join(F.broadcast(fence), "event_type")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.col("value") < F.col("lo"), 1)
                       .otherwise(0)).cast("bigint").alias("n_low"),
                 F.sum(F.when(F.col("value") > F.col("hi"), 1)
                       .otherwise(0)).cast("bigint").alias("n_high"),
                 F.min("q1").alias("q1"), F.min("q3").alias("q3")))


@register("agg_share_of_parent", """
WITH seg AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS n_cust
  FROM customer GROUP BY 1, 2),
tot AS (SELECT c_nationkey, CAST(SUM(n_cust) AS BIGINT) AS nation_total
        FROM seg GROUP BY 1)
SELECT s.c_nationkey, s.c_mktsegment, s.n_cust, t.nation_total,
       CAST(s.n_cust AS DOUBLE) / CAST(t.nation_total AS DOUBLE)
         AS share
FROM seg s JOIN tot t USING (c_nationkey)
""")
def agg_share_of_parent(spark, sf):
    # Percent-of-parent rollup — the drill-down mart shape (segment
    # share within nation): child aggregate re-aggregated to the
    # parent level and broadcast back for the ratio. Two bounded
    # aggregates, one broadcast, one identical-operand-order double
    # division (hash-exact).
    c = load_table(spark, sf, "customer")
    seg = (c.groupBy("c_nationkey", "c_mktsegment")
           .agg(F.count(F.lit(1)).alias("n_cust")))
    tot = (seg.groupBy("c_nationkey")
           .agg(F.sum("n_cust").cast("bigint").alias("nation_total")))
    return (seg.join(F.broadcast(tot), "c_nationkey")
            .select("c_nationkey", "c_mktsegment", "n_cust",
                    "nation_total",
                    (F.col("n_cust").cast("double")
                     / F.col("nation_total").cast("double"))
                    .alias("share")))


@register("mm_wav_mulaw", """
WITH p AS (SELECT event_id AS id, 50 + event_id % 100 AS n FROM events),
s AS (
  SELECT id, n,
    list_transform(range(0, CAST(n AS BIGINT)),
      i -> (id*31 + i*17) % 65536 - 32768) AS sm
  FROM p),
m AS (
  SELECT id, n, sm,
    list_transform(sm, x -> least(abs(x), 32635) + 132) AS mag
  FROM s),
g AS (
  SELECT id, n, sm, mag,
    list_transform(mag, x ->
      CASE WHEN x >= 16384 THEN 7 WHEN x >= 8192 THEN 6
           WHEN x >= 4096 THEN 5 WHEN x >= 2048 THEN 4
           WHEN x >= 1024 THEN 3 WHEN x >= 512 THEN 2
           WHEN x >= 256 THEN 1 ELSE 0 END) AS seg
  FROM m),
d AS (
  SELECT id, n,
    list_transform(range(1, CAST(n AS BIGINT) + 1), i ->
      (CASE WHEN sm[i] < 0 THEN -1 ELSE 1 END)
      * ((((mag[i] // (1 << (seg[i] + 3))) % 16) * 8 + 132)
         * (1 << seg[i]) - 132)) AS dec
  FROM g)
SELECT id AS media_id, CAST(n AS BIGINT) AS n_samples,
       CAST(list_sum(dec) AS BIGINT) AS dec_sum,
       CAST(list_min(dec) AS BIGINT) AS dec_min,
       CAST(list_max(dec) AS BIGINT) AS dec_max
FROM d
""")
def mm_wav_mulaw(spark, sf):
    # G.711 µ-law round trip — the engine's first LOSSY codec, still
    # hash-exact oracle-pairable because the quantizer (bias, clip,
    # segment, 4-bit mantissa) is pure integer math the oracle states
    # in closed form over the synth signal
    # (media_codec.mulaw_encode/mulaw_decode; same signal family as
    # mm_wav_stats). Map-only mapInPandas pass, one byte per sample.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        mulaw_roundtrip_stats,
        synth_mulaw_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return mulaw_roundtrip_stats(synth_mulaw_payloads(ev, "event_id"))


@register("events_asof_tolerance", """
WITH c AS (
  SELECT user_id, epoch_ms(ts) AS ms, event_id FROM events
  WHERE event_type = 'click'
), p AS (
  SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS purchase_ms
  FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT p.purchase_id, p.user_id, p.purchase_ms,
         c.ms AS click_ms, c.event_id AS click_id,
         row_number() OVER (
           PARTITION BY p.purchase_id
           ORDER BY c.ms DESC NULLS LAST, c.event_id DESC NULLS LAST)
           AS rn
  FROM p LEFT JOIN c ON c.user_id = p.user_id
    AND c.ms <= p.purchase_ms AND c.ms >= p.purchase_ms - 600000
)
SELECT purchase_id, user_id, purchase_ms, click_ms, click_id
FROM j WHERE rn = 1
""")
def events_asof_tolerance(spark, sf):
    # Backward as-of join WITH a tolerance bound (pandas merge_asof's
    # `tolerance` knob): matches farther than 10 minutes before the
    # purchase are voided to NULL rather than carried — the staleness
    # guard every "price as of" lookup needs. Exercises asof_join's
    # tolerance mask (relational.py), which the untolerated entries
    # never touch; same one-shuffle union-sort shape.
    from yougile_etl_pipeline_spark.operators.relational import asof_join

    ev = load_table(spark, sf, "events").withColumn(
        "ms", F.unix_millis("ts"))
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", "ms", "event_id"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select(F.col("event_id").alias("purchase_id"),
                           "user_id", F.col("ms").alias("purchase_ms")))
    out = asof_join(purchases, clicks, on="user_id",
                    left_ts="purchase_ms", right_ts="ms",
                    right_cols=["event_id"], suffix="_asof",
                    tolerance=600_000)
    return out.select("purchase_id", "user_id", "purchase_ms",
                      F.col("ms_asof").alias("click_ms"),
                      F.col("event_id_asof").alias("click_id"))

@register("graph_hits_scores", """
WITH d0 AS (
  SELECT DISTINCT doc_id % 40 AS src, (doc_id * 7 + 3) % 40 AS dst
  FROM documents WHERE doc_id % 40 <> (doc_id * 7 + 3) % 40),
nodes AS (SELECT DISTINCT n FROM (
  SELECT src AS n FROM d0 UNION SELECT dst FROM d0)),
a1 AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS a
       FROM d0 GROUP BY dst),
na1 AS (SELECT n AS node, COALESCE(a1.a, 0) AS a
        FROM nodes LEFT JOIN a1 ON nodes.n = a1.node),
h1 AS (SELECT e.src AS node, CAST(SUM(na1.a) AS BIGINT) AS h
       FROM d0 e JOIN na1 ON e.dst = na1.node GROUP BY e.src),
nh1 AS (SELECT n AS node, COALESCE(h1.h, 0) AS h
        FROM nodes LEFT JOIN h1 ON nodes.n = h1.node),
a2 AS (SELECT e.dst AS node, CAST(SUM(nh1.h) AS BIGINT) AS a
       FROM d0 e JOIN nh1 ON e.src = nh1.node GROUP BY e.dst),
na2 AS (SELECT n AS node, COALESCE(a2.a, 0) AS a
        FROM nodes LEFT JOIN a2 ON nodes.n = a2.node),
h2 AS (SELECT e.src AS node, CAST(SUM(na2.a) AS BIGINT) AS h
       FROM d0 e JOIN na2 ON e.dst = na2.node GROUP BY e.src),
nh2 AS (SELECT n AS node, COALESCE(h2.h, 0) AS h
        FROM nodes LEFT JOIN h2 ON nodes.n = h2.node)
SELECT nh2.node, nh2.h AS hub, na2.a AS auth
FROM nh2 JOIN na2 ON nh2.node = na2.node
""")
def graph_hits_scores(spark, sf):
    # Kleinberg HITS over the modular doc graph (graph.py::
    # hits_scores): unnormalized integer hub/authority sums after two
    # fixed iterations — normalization only rescales the ranking, and
    # skipping it is what keeps a spectral-style algorithm
    # bit-exactly oracle-pairable (two unrolled half-step CTE pairs).
    from yougile_etl_pipeline_spark.operators.graph import hits_scores

    d = load_table(spark, sf, "documents")
    edges = (d.select((F.col("doc_id") % 40).alias("src"),
                      ((F.col("doc_id") * 7 + 3) % 40).alias("dst"))
             .filter(F.col("src") != F.col("dst"))
             .distinct())
    return hits_scores(edges, iterations=2)


@register("text_jaccard_topk_pairs", """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(list_transform(
      range(1, greatest(len(t) - 1, 0) + 1),
      i -> t[i] || ' ' || t[i+1])) AS g
    FROM toks)),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb
          FROM bg GROUP BY doc_id),
rare AS (SELECT g FROM bg GROUP BY g
         HAVING count(*) BETWEEN 2 AND 4),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bg x JOIN rare USING (g) JOIN bg y USING (g)
  WHERE x.doc_id < y.doc_id),
inter AS (
  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN bg xa ON xa.doc_id = c.a
  JOIN bg xb ON xb.doc_id = c.b AND xb.g = xa.g
  GROUP BY c.a, c.b),
scored AS (
  SELECT i.a, i.b, i.n_inter,
         sa.nb + sb.nb - i.n_inter AS n_union,
         (i.n_inter * 1000000) // (sa.nb + sb.nb - i.n_inter)
           AS jacc_ppm
  FROM inter i JOIN sizes sa ON sa.doc_id = i.a
               JOIN sizes sb ON sb.doc_id = i.b)
SELECT a, b, n_inter, n_union, jacc_ppm
FROM scored
ORDER BY jacc_ppm DESC, a, b
LIMIT 20
""")
def text_jaccard_topk_pairs(spark, sf):
    # Top-20 most-similar document pairs by EXACT bigram Jaccard,
    # with the candidate set bounded by RARE-shingle blocking
    # (document frequency 2–4): a pair is considered only if it
    # shares a discriminative bigram, so the quadratic all-pairs
    # product never materializes — the blocking-cost lesson from
    # dedup_blocking_profile applied to a report query. Similarity is
    # integer ppm (floor), making the global top-k (TakeOrdered, no
    # full sort) hash-exact; (ppm DESC, a, b) is a total order.
    from yougile_etl_pipeline_spark.operators import caching
    from yougile_etl_pipeline_spark.operators.text import shingle_stream

    docs = load_table(spark, sf, "documents")
    # r17: the distinct bigram stream feeds FIVE subtrees (sizes, the
    # rare-shingle df filter, both blocked self-join legs, both
    # intersection legs); the reuse cache materializes it once per
    # session instead of leaning on runtime exchange reuse
    bg = caching.persist(
        shingle_stream(docs, "doc_id", "text", n=2).distinct())
    sizes = bg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"))
    rare = (bg.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df").between(2, 4)).select("sh"))
    blocked = bg.join(rare, "sh")
    cand = (blocked.alias("x")
            .join(blocked.alias("y"),
                  (F.col("x.sh") == F.col("y.sh"))
                  & (F.col("x.doc_id") < F.col("y.doc_id")))
            .select(F.col("x.doc_id").alias("a"),
                    F.col("y.doc_id").alias("b"))
            .distinct())
    inter = (cand
             .join(bg.alias("xa"), F.col("xa.doc_id") == F.col("a"))
             .join(bg.alias("xb"),
                   (F.col("xb.doc_id") == F.col("b"))
                   & (F.col("xb.sh") == F.col("xa.sh")))
             .groupBy("a", "b")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter")))
    scored = (inter
              .join(sizes.withColumnRenamed("doc_id", "a")
                    .withColumnRenamed("nb", "na_"), "a")
              .join(sizes.withColumnRenamed("doc_id", "b")
                    .withColumnRenamed("nb", "nb_"), "b")
              .select("a", "b", "n_inter",
                      (F.col("na_") + F.col("nb_") - F.col("n_inter"))
                      .alias("n_union"))
              .withColumn("jacc_ppm",
                          F.expr("(n_inter * 1000000) div n_union")))
    return (scored.orderBy(F.col("jacc_ppm").desc(), "a", "b")
            .limit(20)
            .select("a", "b", "n_inter", "n_union", "jacc_ppm"))


@register("quality_duplicate_key_audit", """
WITH k AS (SELECT l_orderkey, l_linenumber, count(*) AS c
           FROM lineitem GROUP BY 1, 2)
SELECT c AS multiplicity, CAST(count(*) AS BIGINT) AS n_keys,
       CAST(SUM(c) AS BIGINT) AS n_rows
FROM k GROUP BY c
""")
def quality_duplicate_key_audit(spark, sf):
    # Key-integrity audit — the multiplicity histogram of a supposed
    # primary key: how many (orderkey, linenumber) pairs appear once,
    # twice, N times (this testdata genuinely carries duplicate
    # pairs, the gotcha every "deterministic survivor" op must
    # handle). Two bounded keyed aggregates, pure integers; at 100 TB
    # the first groupBy is the only data-sized shuffle and
    # map-side-combines to near-distinct cardinality.
    li = load_table(spark, sf, "lineitem")
    k = (li.groupBy("l_orderkey", "l_linenumber")
         .agg(F.count(F.lit(1)).alias("c")))
    return (k.groupBy(F.col("c").alias("multiplicity"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                 F.sum("c").cast("bigint").alias("n_rows")))


@register("text_vocab_coverage_curve", """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
counts AS (SELECT term, CAST(count(*) AS BIGINT) AS c
           FROM toks WHERE term <> '' GROUP BY term),
total AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM counts),
top AS (SELECT term, c FROM counts
        ORDER BY c DESC, term LIMIT 1000),
ranked AS (
  SELECT term, c,
         CAST(row_number() OVER (ORDER BY c DESC, term) AS BIGINT)
           AS rank,
         CAST(SUM(c) OVER (ORDER BY c DESC, term
                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum
  FROM top)
SELECT rank, cum,
       (cum * 1000000) // (SELECT t FROM total) AS coverage_ppm
FROM ranked WHERE rank IN (10, 100, 1000)
""")
def text_vocab_coverage_curve(spark, sf):
    # Vocabulary coverage curve — what fraction of all token
    # occurrences the top-10/100/1000 terms cover (the Zipf head
    # weight that sizes tokenizer vocabularies and stopword lists).
    # 100x shape: the corpus pays ONE term-count shuffle; the
    # cumulative window runs over the TakeOrdered top-1000 only
    # (never the full vocabulary), and the grand total rides a
    # broadcast one-row aggregate. Coverage in integer ppm
    # (floor) keeps the output hash-exact.
    from pyspark.sql.window import Window

    docs = load_table(spark, sf, "documents")
    toks = (docs.select(F.explode(F.split("text", " ")).alias("term"))
            .filter(F.col("term") != ""))
    counts = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    total = counts.agg(F.sum("c").cast("bigint").alias("t"))
    top = counts.orderBy(F.col("c").desc(), "term").limit(1000)
    w = Window.orderBy(F.col("c").desc(), "term")
    ranked = (top.withColumn("rank",
                             F.row_number().over(w).cast("bigint"))
              .withColumn("cum", F.sum("c").over(
                  w.rowsBetween(Window.unboundedPreceding, 0))
                  .cast("bigint")))
    return (ranked.filter(F.col("rank").isin(10, 100, 1000))
            .crossJoin(F.broadcast(total))
            .select("rank", "cum",
                    F.expr("(cum * 1000000) div t")
                    .alias("coverage_ppm")))


# ---------------------------------------------------------------------------
# Round-10 later registrations
# ---------------------------------------------------------------------------

_D0_EDGES_SQL = """
  SELECT DISTINCT doc_id % 40 AS src, (doc_id * 7 + 3) % 40 AS dst
  FROM documents WHERE doc_id % 40 <> (doc_id * 7 + 3) % 40"""


def _d0_edges(spark, sf):
    d = load_table(spark, sf, "documents")
    return (d.select((F.col("doc_id") % 40).alias("src"),
                     ((F.col("doc_id") * 7 + 3) % 40).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct())


@register("graph_degree_assortativity", f"""
WITH d0 AS ({_D0_EDGES_SQL}),
outd AS (SELECT src, CAST(count(*) AS BIGINT) AS xd FROM d0 GROUP BY src),
ind  AS (SELECT dst, CAST(count(*) AS BIGINT) AS yd FROM d0 GROUP BY dst),
p AS (SELECT xd, yd FROM d0 JOIN outd USING (src) JOIN ind USING (dst)),
s AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
             CAST(SUM(xd) AS BIGINT) AS sx,
             CAST(SUM(yd) AS BIGINT) AS sy,
             CAST(SUM(xd * xd) AS BIGINT) AS sxx,
             CAST(SUM(yd * yd) AS BIGINT) AS syy,
             CAST(SUM(xd * yd) AS BIGINT) AS sxy
      FROM p)
SELECT n_edges, sx, sy, sxx, syy, sxy,
  CASE WHEN n_edges * sxx - sx * sx > 0
        AND n_edges * syy - sy * sy > 0 THEN
    CAST(n_edges * sxy - sx * sy AS DOUBLE)
    / sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE)
           * CAST(n_edges * syy - sy * sy AS DOUBLE))
  END AS assortativity
FROM s
""")
def graph_degree_assortativity(spark, sf):
    # Newman degree-correlation r over the modular doc graph
    # (graph.py::degree_assortativity): exact BIGINT sufficient stats,
    # one fixed-operand-order double expression at the end (sqrt is
    # IEEE-correctly-rounded, so the double is hash-exact).
    from yougile_etl_pipeline_spark.operators.graph import (
        degree_assortativity,
    )

    return degree_assortativity(_d0_edges(spark, sf))


@register("graph_reciprocity", f"""
WITH d0 AS ({_D0_EDGES_SQL}),
rec AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
        FROM d0 a JOIN d0 b ON a.src = b.dst AND a.dst = b.src),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM d0)
SELECT n_edges, n_reciprocal,
       CAST(CASE WHEN n_edges > 0
                 THEN (n_reciprocal * 1000000) // n_edges
            END AS BIGINT) AS reciprocity_ppm
FROM tot, rec
""")
def graph_reciprocity(spark, sf):
    # Mutual-link share of the modular doc graph (graph.py::
    # reciprocity): distinct edges, left-semi self-join on the swapped
    # pair, integer-ppm ratio. The oracle's inner join equals the semi
    # join because d0 is distinct and each edge has at most one
    # reverse.
    from yougile_etl_pipeline_spark.operators.graph import reciprocity

    return reciprocity(_d0_edges(spark, sf))


@register("quality_chi2_lang_source", """
WITH cells AS (
  SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2),
r AS (SELECT a, CAST(SUM(o) AS BIGINT) AS r_tot FROM cells GROUP BY a),
c AS (SELECT b, CAST(SUM(o) AS BIGINT) AS c_tot FROM cells GROUP BY b),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
SELECT cells.a, cells.b, o, r_tot, c_tot, n.n,
       CAST(o * n.n - r_tot * c_tot AS DOUBLE)
       * CAST(o * n.n - r_tot * c_tot AS DOUBLE)
       / CAST(r_tot * c_tot * n.n AS DOUBLE) AS cell_chi2
FROM cells JOIN r USING (a) JOIN c USING (b) CROSS JOIN n
""")
def quality_chi2_lang_source(spark, sf):
    # Pearson chi-squared independence drill-down between declared
    # language and source (quality.py::chi2_independence_cells): which
    # (lang, source) cells deviate from independence. One keyed count
    # is the only data-sized shuffle; marginals broadcast back.
    from yougile_etl_pipeline_spark.operators.quality import (
        chi2_independence_cells,
    )

    docs = load_table(spark, sf, "documents")
    return chi2_independence_cells(docs, "lang", "source")


@register("text_kwic_concordance", """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
p AS (
  SELECT doc_id, t,
         CAST(generate_subscripts(t, 1) - 1 AS INTEGER) AS pos,
         unnest(t) AS tok
  FROM toks)
SELECT doc_id, pos,
  COALESCE(array_to_string(t[greatest(pos - 1, 1):pos], ' '), '')
    AS left_ctx,
  COALESCE(array_to_string(t[pos + 2:pos + 3], ' '), '') AS right_ctx
FROM p WHERE tok = 'spark'
""")
def text_kwic_concordance(spark, sf):
    # Keyword-in-context concordance for the token 'spark'
    # (text.py::kwic_concordance, window=2): MAP-ONLY — posexplode +
    # array slicing on the same token array, zero shuffles
    # (plan-pinned in tests/test_chi2_kwic.py).
    from yougile_etl_pipeline_spark.operators.text import (
        kwic_concordance,
    )

    docs = load_table(spark, sf, "documents")
    return kwic_concordance(docs, "doc_id", "text", "spark", window=2)


@register("mm_bmp_resize_nearest", """
WITH p AS (SELECT event_id AS id,
                  4 + event_id % 5 AS w, 3 + event_id % 4 AS h
           FROM events),
v AS (SELECT id, w, h,
  list_transform(range(0, 144), k ->
    (id + 7 * (((k // 24) * h) // 6)
        + 3 * ((((k % 24) // 3) * w) // 8)
        + (k % 3)) % 256) AS px
  FROM p)
SELECT id AS media_id,
       CAST(w AS INTEGER) AS src_w, CAST(h AS INTEGER) AS src_h,
       CAST(list_sum(px) AS BIGINT) AS out_sum,
       CAST(list_min(px) AS INTEGER) AS out_min,
       CAST(list_max(px) AS INTEGER) AS out_max
FROM v
""")
def mm_bmp_resize_nearest(spark, sf):
    # Thumbnail preprocess under bit-exact verification: real 24-bpp
    # BMP decode (media_codec.bmp_decode_pixels — bottom-up rows +
    # padding undone) then nearest-neighbor resize to 6x8
    # (media_codec.resize_nearest — pure integer floor-index map, so
    # the oracle states the RESIZED grid in closed form over the
    # synthetic image formula: out(rr,cc,ch) = byte((rr*h) div 6,
    # (cc*w) div 8, ch), flattened to k in range(144) with rr = k div
    # 24, cc = (k mod 24) div 3). Map-only mapInPandas pass.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        bmp_resize_stats,
        synth_bmp_payloads,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return bmp_resize_stats(synth_bmp_payloads(ev, "event_id"), 6, 8)


@register("mm_wav_frame_energy", """
WITH p AS (SELECT event_id AS id, 50 + event_id % 100 AS n FROM events),
s AS (SELECT id, n,
  list_transform(range(0, CAST(n AS BIGINT)),
    i -> (id * 31 + i * 17) % 65536 - 32768) AS sm FROM p),
f AS (SELECT id, n, (n + 31) // 32 AS nf, sm FROM p
      JOIN s USING (id, n)),
e AS (SELECT id, n, nf,
  list_transform(range(0, CAST(nf AS BIGINT)), fi ->
    list_sum(list_transform(
      range(fi * 32, least(fi * 32 + 32, CAST(n AS BIGINT))),
      i -> sm[i + 1] * sm[i + 1]))) AS en
  FROM f)
SELECT id AS media_id, CAST(n AS BIGINT) AS n_samples,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(list_max(en) AS BIGINT) AS e_max,
       CAST(list_position(en, list_max(en)) - 1 AS BIGINT) AS f_argmax,
       CAST(len(list_filter(en, x -> x < 10000000000)) AS BIGINT)
         AS n_quiet
FROM e
""")
def mm_wav_frame_energy(spark, sf):
    # Voice-activity-detection features: real WAV decode
    # (media_codec.wav_samples) then non-overlapping 32-sample frames,
    # per-frame int64 energy, peak/first-argmax/quiet-count per media
    # (multimodal.wav_frame_energy). The synth signal (same family as
    # mm_wav_stats) lets the oracle state every frame energy in closed
    # form — nested list_transform over frame then sample index.
    from yougile_etl_pipeline_spark.operators.multimodal import (
        synth_wav_payloads,
        wav_frame_energy,
    )

    ev = load_table(spark, sf, "events").select("event_id")
    return wav_frame_energy(synth_wav_payloads(ev, "event_id"),
                            frame=32, quiet_threshold=10_000_000_000)


@register("events_gaps_islands", """
WITH r AS (
  SELECT user_id, event_type,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
    - row_number() OVER (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id) AS grp
  FROM events),
i AS (SELECT user_id, event_type, grp, count(*) AS len
      FROM r GROUP BY 1, 2, 3)
SELECT event_type, CAST(len AS BIGINT) AS island_len,
       CAST(count(*) AS BIGINT) AS n_islands
FROM i GROUP BY 1, 2
""")
def events_gaps_islands(spark, sf):
    # Classic gaps-and-islands: maximal runs of consecutive same-type
    # events per user (the row_number-difference trick — rn over user
    # minus rn over (user, type) is constant exactly within a run),
    # reported as the island-length histogram per event type. The
    # behavioral-streak metric behind "3 errors in a row" alerting.
    # (ts, event_id) is a total order per user, so the grouping is
    # hash-exact. 100x shape: both windows and both aggregates are
    # user-partitioned — one key shuffle, no global sort.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", "ts", "event_id")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_ut = (Window.partitionBy("user_id", "event_type")
            .orderBy("ts", "event_id"))
    runs = ev.withColumn(
        "grp", F.row_number().over(w_u) - F.row_number().over(w_ut))
    islands = (runs.groupBy("user_id", "event_type", "grp")
               .agg(F.count(F.lit(1)).alias("len")))
    return (islands.groupBy("event_type",
                            F.col("len").cast("bigint")
                            .alias("island_len"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_islands")))


@register("train_shard_planner", """
WITH c AS (
  SELECT lang, doc_id, n_chars,
    CAST(SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM documents),
s AS (SELECT lang, doc_id, n_chars,
             (cum - n_chars) // 20000 AS shard_id FROM c)
SELECT lang, CAST(shard_id AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM s GROUP BY 1, 2
""")
def train_shard_planner(spark, sf):
    # Deterministic shard manifest for a training-data release: per
    # language, docs in doc_id order are packed into ~20k-char shards
    # by START offset (shard = floor(preceding-chars / cap)), then the
    # plan is summarized per shard. The start-offset rule makes shard
    # assignment a pure function of the running total — no sequential
    # bin state, so it distributes. 100x shape: ONE lang-keyed shuffle
    # feeds a RUNNING window frame (incremental, never a shrinking
    # frame — SCALE.md) and a same-key aggregate.
    from pyspark.sql.window import Window

    docs = load_table(spark, sf, "documents").select(
        "lang", "doc_id", "n_chars")
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    c = docs.withColumn(
        "cum", F.sum("n_chars").over(w).cast("bigint"))
    s = c.withColumn("shard_id",
                     F.expr("(cum - n_chars) div 20000"))
    return (s.groupBy("lang",
                      F.col("shard_id").cast("bigint").alias("shard_id"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("total_chars"),
                 F.min("doc_id").cast("bigint").alias("first_doc"),
                 F.max("doc_id").cast("bigint").alias("last_doc")))


@register("graph_katz_centrality", f"""
WITH d0 AS ({_D0_EDGES_SQL}),
nodes AS (SELECT DISTINCT n AS node FROM (
  SELECT src AS n FROM d0 UNION SELECT dst FROM d0)),
x0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS k FROM nodes),
s1 AS (SELECT e.dst AS node, CAST(SUM(x0.k) AS BIGINT) AS s
       FROM d0 e JOIN x0 ON e.src = x0.node GROUP BY e.dst),
x1 AS (SELECT n.node,
         CAST(1000000000 + COALESCE(s1.s, 0) // 5 AS BIGINT) AS k
       FROM nodes n LEFT JOIN s1 USING (node)),
s2 AS (SELECT e.dst AS node, CAST(SUM(x1.k) AS BIGINT) AS s
       FROM d0 e JOIN x1 ON e.src = x1.node GROUP BY e.dst),
x2 AS (SELECT n.node,
         CAST(1000000000 + COALESCE(s2.s, 0) // 5 AS BIGINT) AS k
       FROM nodes n LEFT JOIN s2 USING (node)),
s3 AS (SELECT e.dst AS node, CAST(SUM(x2.k) AS BIGINT) AS s
       FROM d0 e JOIN x2 ON e.src = x2.node GROUP BY e.dst),
x3 AS (SELECT n.node,
         CAST(1000000000 + COALESCE(s3.s, 0) // 5 AS BIGINT) AS k
       FROM nodes n LEFT JOIN s3 USING (node))
SELECT node, k AS katz FROM x3
""")
def graph_katz_centrality(spark, sf):
    # Katz influence over the modular doc graph (graph.py::
    # katz_centrality): x' = scale + (A^T x) div 5, three integer
    # fixed-point iterations vs the three unrolled CTE pairs — the
    # non-degree-normalized counterpart to PageRank in the same
    # bit-deterministic framework.
    from yougile_etl_pipeline_spark.operators.graph import (
        katz_centrality,
    )

    return katz_centrality(_d0_edges(spark, sf), iterations=3,
                           scale=10**9, alpha_inv=5)


@register("quality_cramers_v", """
WITH cells AS (
  SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2),
r AS (SELECT a, CAST(SUM(o) AS BIGINT) AS r_tot FROM cells GROUP BY a),
c AS (SELECT b, CAST(SUM(o) AS BIGINT) AS c_tot FROM cells GROUP BY b),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
q AS (
  SELECT n.n AS n, cells.a, cells.b,
    CAST(floor(CAST(o * n.n - r_tot * c_tot AS DOUBLE)
               * CAST(o * n.n - r_tot * c_tot AS DOUBLE)
               / CAST(r_tot * c_tot * n.n AS DOUBLE)
               * 1000000) AS BIGINT) AS cell_ppm
  FROM cells JOIN r USING (a) JOIN c USING (b) CROSS JOIN n)
SELECT CAST(MIN(n) AS BIGINT) AS n,
       CAST(count(DISTINCT a) AS BIGINT) AS r_cats,
       CAST(count(DISTINCT b) AS BIGINT) AS c_cats,
       CAST(SUM(cell_ppm) AS BIGINT) AS chi2_ppm,
       CASE WHEN MIN(n) * least(count(DISTINCT a) - 1,
                                count(DISTINCT b) - 1) > 0 THEN
         sqrt(CAST(SUM(cell_ppm) AS DOUBLE)
              / (CAST(MIN(n) * least(count(DISTINCT a) - 1,
                                     count(DISTINCT b) - 1) AS DOUBLE)
                 * 1000000.0))
       END AS cramers_v
FROM q
""")
def quality_cramers_v(spark, sf):
    # Cramér's V association between lang and source (quality.py::
    # cramers_v_ppm): per-cell chi2 contributions floor-quantized to
    # integer ppm (floor, NOT a bigint cast — Spark casts truncate
    # while DuckDB casts round), summed exactly, then one
    # fixed-operand-order double sqrt.
    from yougile_etl_pipeline_spark.operators.quality import (
        cramers_v_ppm,
    )

    docs = load_table(spark, sf, "documents")
    return cramers_v_ppm(docs, "lang", "source")


@register("events_user_lifecycle", """
WITH d AS (
  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
l AS (
  SELECT user_id, day,
         lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
  FROM d)
SELECT CAST(day AS BIGINT) AS day_num,
  CASE WHEN prev IS NULL THEN 'new'
       WHEN prev = day - 1 THEN 'retained'
       ELSE 'resurrected' END AS state,
  CAST(count(*) AS BIGINT) AS n_users
FROM l GROUP BY 1, 2
""")
def events_user_lifecycle(spark, sf):
    # Growth accounting: classify every active (user, day) as new
    # (first day ever), retained (also active the day before) or
    # resurrected (returned after a gap) and count the mix per day —
    # the standard DAU decomposition behind retention dashboards.
    # 100x shape: one distinct on (user, day), then a user-partitioned
    # lag window and a small keyed aggregate — day arithmetic is pure
    # integer (epoch-ms div), no calendar functions, no TZ surface.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events")
    d = (ev.select("user_id",
                   F.expr("unix_millis(ts) div 86400000").alias("day"))
         .distinct())
    w = Window.partitionBy("user_id").orderBy("day")
    lagd = d.withColumn("prev", F.lag("day").over(w))
    state = (F.when(F.col("prev").isNull(), "new")
             .when(F.col("prev") == F.col("day") - 1, "retained")
             .otherwise("resurrected"))
    return (lagd.select(F.col("day").cast("bigint").alias("day_num"),
                        state.alias("state"))
            .groupBy("day_num", "state")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users")))


@register("events_peak_concurrency", """
WITH e AS (SELECT event_id, epoch_ms(ts) AS ms FROM events),
d AS (
  SELECT ms // 86400000 AS day, ms AS t, 1 AS delta, event_id FROM e
  UNION ALL
  SELECT ms // 86400000 AS day, ms + 300000 AS t, -1 AS delta, event_id
  FROM e),
r AS (SELECT day, delta,
        SUM(delta) OVER (PARTITION BY day ORDER BY t, delta, event_id
                         ROWS UNBOUNDED PRECEDING) AS run
      FROM d)
SELECT CAST(day AS BIGINT) AS day_num,
       CAST(MAX(run) AS BIGINT) AS peak,
       CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_events
FROM r GROUP BY day
""")
def events_peak_concurrency(spark, sf):
    # Peak concurrency per day — the capacity-planning sweep: each
    # event opens a 5-minute interval; +1/-1 boundary deltas, a
    # running sum over the (t, delta, event_id) total order (ends
    # sort before starts at the same instant, so back-to-back
    # intervals never double-count), max per day. Day-scoped by the
    # START's day (documented: the counter resets at midnight).
    # 100x shape: the union doubles rows map-side, then ONE day-keyed
    # shuffle feeds a RUNNING frame and the same-key aggregate.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events").select(
        "event_id", F.unix_millis("ts").alias("ms"))
    starts = ev.select(
        F.expr("ms div 86400000").alias("day"),
        F.col("ms").alias("t"), F.lit(1).alias("delta"), "event_id")
    ends = ev.select(
        F.expr("ms div 86400000").alias("day"),
        (F.col("ms") + 300000).alias("t"),
        F.lit(-1).alias("delta"), "event_id")
    d = starts.unionAll(ends)
    w = (Window.partitionBy("day").orderBy("t", "delta", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    r = d.withColumn("run", F.sum("delta").over(w))
    return (r.groupBy(F.col("day").cast("bigint").alias("day_num"))
            .agg(F.max("run").cast("bigint").alias("peak"),
                 F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
                 .cast("bigint").alias("n_events")))


@register("mart_revenue_bridge", """
WITH cur AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) AS m,
         SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS rev
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2),
prv AS (SELECT o_custkey, m + 1 AS m, rev AS prev_rev FROM cur),
f AS (
  SELECT COALESCE(cur.o_custkey, prv.o_custkey) AS ck,
         COALESCE(cur.m, prv.m) AS m, cur.rev, prv.prev_rev
  FROM cur FULL OUTER JOIN prv
    ON cur.o_custkey = prv.o_custkey AND cur.m = prv.m)
SELECT CAST(m AS BIGINT) AS month_idx,
  CAST(SUM(CASE WHEN prev_rev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_new,
  CAST(SUM(CASE WHEN rev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_churned,
  CAST(SUM(CASE WHEN rev IS NOT NULL AND prev_rev IS NOT NULL
                 AND rev > prev_rev THEN 1 ELSE 0 END) AS BIGINT)
    AS n_up,
  CAST(SUM(CASE WHEN rev IS NOT NULL AND prev_rev IS NOT NULL
                 AND rev < prev_rev THEN 1 ELSE 0 END) AS BIGINT)
    AS n_down,
  CAST(CAST(SUM(CASE WHEN prev_rev IS NULL THEN rev END) AS VARCHAR)
       AS DOUBLE) AS new_rev,
  CAST(CAST(SUM(CASE WHEN rev IS NULL THEN prev_rev END) AS VARCHAR)
       AS DOUBLE) AS churned_rev,
  CAST(CAST(SUM(CASE WHEN rev IS NOT NULL AND prev_rev IS NOT NULL
                      AND rev > prev_rev THEN rev - prev_rev END)
            AS VARCHAR) AS DOUBLE) AS expansion,
  CAST(CAST(SUM(CASE WHEN rev IS NOT NULL AND prev_rev IS NOT NULL
                      AND rev < prev_rev THEN prev_rev - rev END)
            AS VARCHAR) AS DOUBLE) AS contraction
FROM f GROUP BY m
""")
def mart_revenue_bridge(spark, sf):
    # Month-over-month revenue bridge (growth accounting on money):
    # per month, how much revenue came from NEW customers, how much
    # left with CHURNED ones, and the expansion/contraction split
    # among customers active in both months. DECIMAL-exact sums
    # (double money never sums raw — the repo-wide rule); the
    # decimal→double boundary goes through VARCHAR on the oracle side
    # because DuckDB's direct cast double-rounds once the unscaled
    # value passes 2^53 (SCALE.md gotcha). 100x shape: one (custkey,
    # month) aggregate, a self-shifted FULL OUTER join on the same
    # key, one month-keyed rollup.
    o = (load_table(spark, sf, "orders")
         .filter(F.col("o_orderdate").isNotNull()))
    cur = (o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
        F.col("o_totalprice").cast("decimal(24,6)").alias("p"))
        .groupBy("o_custkey", "m")
        .agg(F.sum("p").alias("rev")))
    prv = cur.select("o_custkey", (F.col("m") + 1).alias("m"),
                     F.col("rev").alias("prev_rev"))
    f = (cur.join(prv, ["o_custkey", "m"], "full_outer"))
    both = F.col("rev").isNotNull() & F.col("prev_rev").isNotNull()

    def _dbl(c):
        return c.cast("string").cast("double")

    return (f.groupBy(F.col("m").cast("bigint").alias("month_idx"))
            .agg(
        F.sum(F.when(F.col("prev_rev").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_new"),
        F.sum(F.when(F.col("rev").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_churned"),
        F.sum(F.when(both & (F.col("rev") > F.col("prev_rev")), 1)
              .otherwise(0)).cast("bigint").alias("n_up"),
        F.sum(F.when(both & (F.col("rev") < F.col("prev_rev")), 1)
              .otherwise(0)).cast("bigint").alias("n_down"),
        _dbl(F.sum(F.when(F.col("prev_rev").isNull(), F.col("rev"))))
        .alias("new_rev"),
        _dbl(F.sum(F.when(F.col("rev").isNull(), F.col("prev_rev"))))
        .alias("churned_rev"),
        _dbl(F.sum(F.when(both & (F.col("rev") > F.col("prev_rev")),
                          F.col("rev") - F.col("prev_rev"))))
        .alias("expansion"),
        _dbl(F.sum(F.when(both & (F.col("rev") < F.col("prev_rev")),
                          F.col("prev_rev") - F.col("rev"))))
        .alias("contraction")))


@register("events_missing_days", """
WITH d AS (
  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
g AS (SELECT MAX(day) AS gmax FROM d),
u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_active,
             MIN(day) AS first_day
      FROM d GROUP BY user_id)
SELECT CAST(gmax - first_day + 1 - n_active AS BIGINT) AS missing_days,
       CAST(count(*) AS BIGINT) AS n_users
FROM u CROSS JOIN g GROUP BY 1
""")
def events_missing_days(spark, sf):
    # Heartbeat-absence audit: for each user, days with NO activity
    # between their first active day and the corpus's last day, as a
    # histogram (how leaky is the daily engagement?). Pure integer
    # epoch-day arithmetic — no calendar spine explode needed, because
    # missing = span − active count. One distinct + one user-keyed
    # aggregate + a broadcast one-row max.
    ev = load_table(spark, sf, "events")
    d = (ev.select("user_id",
                   F.expr("unix_millis(ts) div 86400000").alias("day"))
         .distinct())
    g = d.agg(F.max("day").alias("gmax"))
    u = (d.groupBy("user_id")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"),
              F.min("day").alias("first_day")))
    return (u.crossJoin(F.broadcast(g))
            .select((F.col("gmax") - F.col("first_day") + 1
                     - F.col("n_active")).cast("bigint")
                    .alias("missing_days"))
            .groupBy("missing_days")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users")))


# registry_ext's int8 scale CTEs plus the quantized codes.
_Q_SQL = _QSCALE_SQL.rstrip("\n") + """,
qq AS (SELECT vec_id,
         CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
              ELSE list_transform(v, x -> CAST(greatest(-127.0,
                least(127.0, floor(x / scale + 0.5))) AS INTEGER))
         END AS q
       FROM qs)
"""


@register("sim_margin_audit", f"""
WITH {_Q_SQL},
q AS (SELECT vec_id AS query_id, q AS a FROM qq WHERE vec_id < 8),
c AS (SELECT vec_id AS match_id, q AS b FROM qq),
scored AS (
  SELECT query_id, match_id,
    CAST(list_sum(list_transform(range(1, len(a) + 1),
         i -> CAST(a[i] AS BIGINT) * b[i])) AS BIGINT) AS dot
  FROM q CROSS JOIN c WHERE query_id != match_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dot DESC, match_id) AS rk
      FROM scored)
SELECT a1.query_id, a1.match_id AS top_id, a1.dot AS top_dot,
       a2.match_id AS second_id, a2.dot AS second_dot,
       a1.dot - a2.dot AS margin
FROM r a1 JOIN r a2 ON a1.query_id = a2.query_id
WHERE a1.rk = 1 AND a2.rk = 2
""")
def sim_margin_audit(spark, sf):
    # Nearest-neighbor confidence audit: per query, the INTEGER dot
    #-product gap between the best and second-best int8-quantized
    # neighbor — the margin that tells a retrieval pipeline which
    # matches are decisive vs coin-flips. Quantized codes make the
    # score and the margin exact BIGINTs (no float comparison
    # anywhere); same broadcast-query brute-force shape as
    # sim_topk_int8.
    from pyspark.sql.window import Window

    from yougile_etl_pipeline_spark.operators.quantize import (
        quantize_int8,
    )

    emb = load_table(spark, sf, "embeddings")
    qq = quantize_int8(emb).select("vec_id", "qvec")
    q = (qq.filter(F.col("vec_id") < 8)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("qvec").alias("a")))
    c = qq.select(F.col("vec_id").alias("match_id"),
                  F.col("qvec").alias("b"))
    scored = (F.broadcast(q).crossJoin(c)
              .filter(F.col("query_id") != F.col("match_id"))
              .select("query_id", "match_id",
                      F.expr("aggregate(zip_with(a, b, (x, y) -> "
                             "CAST(x AS BIGINT) * y), 0L, "
                             "(acc, v) -> acc + v)").alias("dot")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), "match_id")
    r = scored.withColumn("rk", F.row_number().over(w)) \
              .filter(F.col("rk") <= 2)
    a1 = r.filter(F.col("rk") == 1).select(
        "query_id", F.col("match_id").alias("top_id"),
        F.col("dot").alias("top_dot"))
    a2 = r.filter(F.col("rk") == 2).select(
        "query_id", F.col("match_id").alias("second_id"),
        F.col("dot").alias("second_dot"))
    return (a1.join(a2, "query_id")
            .select("query_id", "top_id", "top_dot", "second_id",
                    "second_dot",
                    (F.col("top_dot") - F.col("second_dot"))
                    .alias("margin")))


@register("text_hapax_ratio", """
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
counts AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS c
           FROM toks WHERE term <> '' GROUP BY 1, 2)
SELECT lang,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(SUM(c) AS BIGINT) AS tokens,
       CAST((SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS hapax_share_ppm
FROM counts GROUP BY lang
""")
def text_hapax_ratio(spark, sf):
    # Hapax legomena share per language — the vocabulary-tail weight
    # (complement of text_vocab_coverage_curve's Zipf head): what
    # fraction of the vocabulary occurs exactly once. High hapax share
    # flags noisy/OCR-ish corpora and sizes subword-tokenizer budgets.
    # One (lang, term) shuffle map-side-combined to near-vocab
    # cardinality, then a lang-keyed rollup; integer ppm.
    docs = load_table(spark, sf, "documents")
    toks = (docs.select("lang",
                        F.explode(F.split("text", " ")).alias("term"))
            .filter(F.col("term") != ""))
    counts = toks.groupBy("lang", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    return (counts.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("vocab"),
                 F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                 .cast("bigint").alias("hapax"),
                 F.sum("c").cast("bigint").alias("tokens"))
            .select("lang", "vocab", "hapax", "tokens",
                    F.expr("(hapax * 1000000) div vocab")
                    .alias("hapax_share_ppm")))


@register("graph_clustering_coeff", f"""
WITH d0 AS ({_D0_EDGES_SQL}),
und AS (SELECT DISTINCT u, v FROM (
  SELECT src AS u, dst AS v FROM d0
  UNION ALL SELECT dst AS u, src AS v FROM d0) s
  WHERE u <> v),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS k FROM und GROUP BY u),
w AS (SELECT a.u AS u, a.v AS x, b.v AS y
      FROM und a JOIN und b ON a.u = b.u AND a.v < b.v),
closed AS (SELECT w.u FROM w JOIN und e ON e.u = w.x AND e.v = w.y),
tri AS (SELECT u, CAST(count(*) AS BIGINT) AS t FROM closed GROUP BY u)
SELECT deg.u AS node, deg.k AS degree,
       CAST(COALESCE(tri.t, 0) AS BIGINT) AS triangles,
       CAST(CASE WHEN deg.k >= 2 THEN
         (2 * COALESCE(tri.t, 0) * 1000000) // (deg.k * (deg.k - 1))
       END AS BIGINT) AS coeff_ppm
FROM deg LEFT JOIN tri USING (u)
""")
def graph_clustering_coeff(spark, sf):
    # Per-node local clustering over the modular doc graph
    # (graph.py::clustering_coefficients): wedge self-join + one
    # closing semi-join, integer-ppm coefficient — the node-level
    # refinement of graph_triangle_count's global number. The oracle's
    # inner closing join equals the semi join because the undirected
    # edge set is distinct.
    from yougile_etl_pipeline_spark.operators.graph import (
        clustering_coefficients,
    )

    return clustering_coefficients(_d0_edges(spark, sf))


@register("events_conversion_latency", """
WITH c AS (SELECT user_id, MIN(epoch_ms(ts)) AS c_ms FROM events
           WHERE event_type = 'click' GROUP BY 1),
p AS (SELECT e.user_id, MIN(epoch_ms(e.ts)) AS p_ms
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= c.c_ms
      GROUP BY e.user_id)
SELECT CAST((p_ms - c_ms) // 3600000 AS BIGINT) AS hours_bucket,
       CAST(count(*) AS BIGINT) AS n_users
FROM c JOIN p USING (user_id) GROUP BY 1
""")
def events_conversion_latency(spark, sf):
    # Funnel latency distribution: per user, milliseconds from the
    # FIRST click to the first purchase at-or-after it, bucketed into
    # hours — the "how long does conversion take" histogram behind
    # attribution-window sizing (complements events_funnel's
    # conversion COUNTS and the asof family's per-event pairing).
    # Pure integer epoch-ms arithmetic; two user-keyed aggregates and
    # one user join.
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("ms"))
    c = (ev.filter(F.col("event_type") == "click")
         .groupBy("user_id").agg(F.min("ms").alias("c_ms")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(F.col("ms") >= F.col("c_ms"))
         .groupBy("user_id").agg(F.min("ms").alias("p_ms")))
    return (c.join(p, "user_id")
            .select(F.expr("(p_ms - c_ms) div 3600000").cast("bigint")
                    .alias("hours_bucket"))
            .groupBy("hours_bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users")))


@register("mart_order_fill_latency", """
WITH l AS (SELECT l_orderkey, MAX(l_shipdate) AS last_ship
           FROM lineitem GROUP BY 1),
j AS (SELECT o.o_orderpriority AS priority,
        date_diff('day', CAST(o.o_orderdate AS DATE),
                  CAST(l.last_ship AS DATE)) AS lag_days
      FROM orders o JOIN l ON o.o_orderkey = l.l_orderkey)
SELECT priority, CAST(lag_days AS BIGINT) AS lag_days,
       CAST(count(*) AS BIGINT) AS n_orders
FROM j GROUP BY 1, 2
""")
def mart_order_fill_latency(spark, sf):
    # Order-completion latency matrix: days from order placement to
    # the LAST line shipment, as a histogram per order priority — the
    # SLA view of fulfilment ("are URGENT orders actually filled
    # faster?"). One orderkey-grain aggregate on lineitem (map-side
    # combined), one key join to orders, one small rollup; day math on
    # DATE-cast values (Spark datediff(end, start) = DuckDB
    # date_diff('day', start, end)).
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    l = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship"))
    j = (o.join(l, o["o_orderkey"] == l["l_orderkey"])
         .select(F.col("o_orderpriority").alias("priority"),
                 F.datediff(F.col("last_ship").cast("date"),
                            F.col("o_orderdate").cast("date"))
                 .alias("lag_days")))
    return (j.groupBy("priority",
                      F.col("lag_days").cast("bigint").alias("lag_days"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders")))


@register("events_autocorr_daily", """
WITH d AS (
  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
p AS (
  SELECT event_type, x AS y,
         lag(x) OVER (PARTITION BY event_type ORDER BY day) AS xp,
         day - lag(day) OVER (PARTITION BY event_type ORDER BY day)
           AS dgap
  FROM d),
q AS (SELECT event_type, xp AS x, y FROM p
      WHERE xp IS NOT NULL AND dgap = 1),
s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM q GROUP BY event_type)
SELECT event_type, n AS n_pairs,
  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
    CAST(n * sxy - sx * sy AS DOUBLE)
    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
           * CAST(n * syy - sy * sy AS DOUBLE))
  END AS acf1
FROM s
""")
def events_autocorr_daily(spark, sf):
    # Lag-1 autocorrelation of the daily event-count series per type —
    # the burst/momentum probe (is a busy day followed by a busy
    # day?). Consecutive-day pairs only (a gap breaks the pair), exact
    # BIGINT sufficient stats, and the same fixed-operand-order
    # Pearson tail as graph_degree_assortativity — correlation
    # coefficients stay hash-exact when everything up to one final
    # double expression is integer.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events")
    d = (ev.select("event_type",
                   F.expr("unix_millis(ts) div 86400000").alias("day"))
         .groupBy("event_type", "day")
         .agg(F.count(F.lit(1)).cast("bigint").alias("x")))
    w = Window.partitionBy("event_type").orderBy("day")
    p = (d.select("event_type", F.col("x").alias("y"),
                  F.lag("x").over(w).alias("xp"),
                  (F.col("day") - F.lag("day").over(w)).alias("dgap"))
         .filter(F.col("xp").isNotNull() & (F.col("dgap") == 1)))
    s = (p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xp").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("xp") * F.col("xp")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("xp") * F.col("y")).cast("bigint").alias("sxy")))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    acf = F.when((denx > 0) & (deny > 0),
                 num.cast("double")
                 / F.sqrt(denx.cast("double") * deny.cast("double")))
    return s.select("event_type", F.col("n").alias("n_pairs"),
                    acf.alias("acf1"))


@register("mart_revenue_hhi", """
WITH sup AS (
  SELECT s.s_nationkey AS nation, l.l_suppkey,
         CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2),
tot AS (SELECT nation, CAST(SUM(cents) AS BIGINT) AS total
        FROM sup GROUP BY nation),
sh AS (SELECT sup.nation, (cents * 1000000) // total AS p
       FROM sup JOIN tot USING (nation))
SELECT nation, CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(p * p) // 1000000 AS BIGINT) AS hhi_ppm
FROM sh GROUP BY nation
""")
def mart_revenue_hhi(spark, sf):
    # Herfindahl-Hirschman revenue concentration per nation: is one
    # supplier dominating? Money becomes exact integer cents at the
    # scan, shares are integer ppm (floor), HHI = sum of squared
    # shares div 1e6 — monopoly = 1e6 ppm, perfectly even across k
    # suppliers ~ 1e6/k. All-BIGINT pipeline: supplier-grain
    # aggregate, nation totals broadcast back, one nation rollup.
    li = load_table(spark, sf, "lineitem")
    sup = load_table(spark, sf, "supplier").select(
        F.col("s_suppkey"), F.col("s_nationkey").alias("nation"))
    cents = (li.select("l_suppkey",
                       (F.col("l_extendedprice").cast("decimal(18,2)")
                        * 100).cast("bigint").alias("c"))
             .join(F.broadcast(sup),
                   F.col("l_suppkey") == F.col("s_suppkey"))
             .groupBy("nation", "l_suppkey")
             .agg(F.sum("c").cast("bigint").alias("cents")))
    tot = cents.groupBy("nation").agg(
        F.sum("cents").cast("bigint").alias("total"))
    sh = (cents.join(F.broadcast(tot), "nation")
          .select("nation",
                  F.expr("(cents * 1000000) div total").alias("p")))
    return (sh.groupBy("nation")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
                 F.expr("sum(p * p) div 1000000").cast("bigint")
                 .alias("hhi_ppm")))


@register("events_engagement_transitions", """
WITH d AS (
  SELECT user_id, epoch_ms(ts) // 86400000 AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
b AS (SELECT user_id, day,
        CASE WHEN n >= 10 THEN 'high' WHEN n >= 3 THEN 'mid'
             ELSE 'low' END AS band
      FROM d),
t AS (SELECT band AS to_band,
        lag(band) OVER (PARTITION BY user_id ORDER BY day) AS from_band,
        day - lag(day) OVER (PARTITION BY user_id ORDER BY day) AS dgap
      FROM b)
SELECT from_band, to_band, CAST(count(*) AS BIGINT) AS n
FROM t WHERE from_band IS NOT NULL AND dgap = 1 GROUP BY 1, 2
""")
def events_engagement_transitions(spark, sf):
    # Day-over-day engagement Markov matrix: users banded by daily
    # event volume (low 1-2 / mid 3-9 / high 10+), transitions counted
    # only across CONSECUTIVE active days — the churn-risk signal
    # (high->low flows) behind engagement alerting. One (user, day)
    # aggregate, a user-partitioned lag, one small rollup.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events")
    d = (ev.select("user_id",
                   F.expr("unix_millis(ts) div 86400000").alias("day"))
         .groupBy("user_id", "day")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    band = (F.when(F.col("n") >= 10, "high")
            .when(F.col("n") >= 3, "mid").otherwise("low"))
    b = d.select("user_id", "day", band.alias("band"))
    w = Window.partitionBy("user_id").orderBy("day")
    t = (b.select(F.col("band").alias("to_band"),
                  F.lag("band").over(w).alias("from_band"),
                  (F.col("day") - F.lag("day").over(w)).alias("dgap"))
         .filter(F.col("from_band").isNotNull() & (F.col("dgap") == 1)))
    return (t.groupBy("from_band", "to_band")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")))


@register("events_ab_assignment_audit", """
WITH u AS (
  SELECT user_id,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 AS arm
  FROM (SELECT DISTINCT user_id FROM events)),
p AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_purch
      FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
       CAST(SUM(COALESCE(n_purch, 0)) AS BIGINT) AS n_purchases,
       CAST((SUM(COALESCE(n_purch, 0)) * 1000000) // count(*)
            AS BIGINT) AS purchases_per_user_ppm
FROM u LEFT JOIN p USING (user_id) GROUP BY arm
""")
def events_ab_assignment_audit(spark, sf):
    # Deterministic A/B experiment audit: users split into two arms by
    # the engine-portable md5 hash bucket (the quality.py::hash_bucket
    # primitive — re-runs, engines, and repartitions never move a
    # user), then per-arm purchase volume and rate in integer ppm —
    # the assignment-balance + outcome readout every experimentation
    # pipeline checks before trusting a lift number. Two user-keyed
    # aggregates, one key join.
    from yougile_etl_pipeline_spark.operators.quality import hash_bucket

    ev = load_table(spark, sf, "events")
    u = (ev.select("user_id").distinct()
         .select("user_id", hash_bucket("user_id", 2).alias("arm")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .groupBy("user_id")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_purch")))
    j = u.join(p, "user_id", "left").select(
        "arm", F.coalesce("n_purch", F.lit(0)).alias("n_purch"))
    return (j.groupBy("arm")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"),
                 F.sum("n_purch").cast("bigint").alias("n_purchases"))
            .withColumn("purchases_per_user_ppm",
                        F.expr("(n_purchases * 1000000) div n_users")
                        .cast("bigint")))


@register("events_hour_dow_heatmap", """
WITH e AS (
  SELECT ((epoch_ms(ts) // 86400000) + 4) % 7 AS dow,
         (epoch_ms(ts) // 3600000) % 24 AS hour
  FROM events),
c AS (SELECT dow, hour, CAST(count(*) AS BIGINT) AS n
      FROM e GROUP BY 1, 2),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour, n,
       CAST((n * 1000000) // total AS BIGINT) AS share_ppm
FROM c CROSS JOIN t
""")
def events_hour_dow_heatmap(spark, sf):
    # Load heatmap: event share per (day-of-week, hour-of-day) cell in
    # integer ppm — the capacity-planning view. The calendar is PURE
    # INTEGER epoch arithmetic (dow = (epoch_day + 4) mod 7, the
    # 1970-01-01-was-Thursday convention; hour = (epoch_ms div 3600000)
    # mod 24): no dialect surface, no session-TZ surface, unlike
    # year()/dayofweek() (SCALE.md calendar note). One keyed count +
    # a broadcast one-row total.
    ev = load_table(spark, sf, "events").select(
        F.expr("((unix_millis(ts) div 86400000) + 4) % 7").alias("dow"),
        F.expr("(unix_millis(ts) div 3600000) % 24").alias("hour"))
    c = ev.groupBy("dow", "hour").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    t = c.agg(F.sum("n").cast("bigint").alias("total"))
    return (c.crossJoin(F.broadcast(t))
            .select(F.col("dow").cast("bigint").alias("dow"),
                    F.col("hour").cast("bigint").alias("hour"), "n",
                    F.expr("(n * 1000000) div total").cast("bigint")
                    .alias("share_ppm")))


@register("events_session_depth_hist", """
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS ms, event_id FROM events),
b AS (
  SELECT user_id, ms, event_id,
    CASE WHEN ms - lag(ms) OVER w > 1800000
          OR lag(ms) OVER w IS NULL THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
s AS (
  SELECT user_id,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM b),
d AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS depth
      FROM s GROUP BY 1, 2)
SELECT depth, CAST(count(*) AS BIGINT) AS n_sessions
FROM d GROUP BY depth
""")
def events_session_depth_hist(spark, sf):
    # Session depth histogram: 30-minute-gap sessions (the
    # events_sessionize rule, with the (ms, event_id) tie-break the
    # session family standardized on in r09), counted by events per
    # session — the engagement-depth distribution behind "how many
    # actions does a visit contain". One user-keyed shuffle feeds the
    # lag, the RUNNING session-id sum, and the per-session count.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events").select(
        "user_id", F.unix_millis("ts").alias("ms"), "event_id")
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    b = ev.withColumn(
        "brk",
        F.when(F.lag("ms").over(w).isNull()
               | ((F.col("ms") - F.lag("ms").over(w)) > 1800000),
               1).otherwise(0))
    s = b.withColumn(
        "sid", F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    d = (s.groupBy("user_id", "sid")
         .agg(F.count(F.lit(1)).cast("bigint").alias("depth")))
    return (d.groupBy("depth")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions")))


@register("text_doclen_quartiles_by_source", """
WITH ranked AS (
  SELECT source, n_chars AS v,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY n_chars) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM documents WHERE n_chars IS NOT NULL)
SELECT source,
  MIN(CASE WHEN rn = (n * 250000 + 999999) // 1000000 THEN v END) AS q1,
  MIN(CASE WHEN rn = (n * 500000 + 999999) // 1000000 THEN v END)
    AS median,
  MIN(CASE WHEN rn = (n * 750000 + 999999) // 1000000 THEN v END) AS q3
FROM ranked GROUP BY source
""")
def text_doclen_quartiles_by_source(spark, sf):
    # Corpus length profile: exact type-1 quartiles of document length
    # per source (quality.py::exact_group_quantiles — the certified
    # data-member-answer machinery from quality_iqr_outliers, pointed
    # at the corpus) — the length-mix report that catches a truncated
    # or boilerplate-heavy crawl before it trains.
    from yougile_etl_pipeline_spark.operators.quality import (
        exact_group_quantiles,
    )

    docs = (load_table(spark, sf, "documents")
            .select("source", "n_chars")
            .filter(F.col("n_chars").isNotNull()))
    qs = exact_group_quantiles(docs, "source", "n_chars",
                               q_ppm=[250_000, 500_000, 750_000])
    return (qs.groupBy("source").agg(
        F.min(F.when(F.col("q_ppm") == 250_000,
                     F.col("quantile"))).alias("q1"),
        F.min(F.when(F.col("q_ppm") == 500_000,
                     F.col("quantile"))).alias("median"),
        F.min(F.when(F.col("q_ppm") == 750_000,
                     F.col("quantile"))).alias("q3")))


@register("graph_degree_histogram", f"""
WITH d0 AS ({_D0_EDGES_SQL}),
outd AS (SELECT src, CAST(count(*) AS BIGINT) AS k FROM d0 GROUP BY src),
ind  AS (SELECT dst, CAST(count(*) AS BIGINT) AS k FROM d0 GROUP BY dst)
SELECT 'out' AS direction, k AS degree,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM outd GROUP BY k
UNION ALL
SELECT 'in' AS direction, k AS degree,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM ind GROUP BY k
""")
def graph_degree_histogram(spark, sf):
    # In/out degree distribution of the doc graph — the first thing a
    # link-graph QA looks at (power-law tail? truncation?). Two keyed
    # counts re-aggregated to histogram grain; nodes with zero
    # in/out-degree are absent by definition (documented).
    e = _d0_edges(spark, sf)
    outd = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"))
    ind = e.groupBy("dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"))
    o = (outd.groupBy("k")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
         .select(F.lit("out").alias("direction"),
                 F.col("k").alias("degree"), "n_nodes"))
    i = (ind.groupBy("k")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
         .select(F.lit("in").alias("direction"),
                 F.col("k").alias("degree"), "n_nodes"))
    return o.unionAll(i)


@register("corpus_source_overlap", """
WITH f AS (SELECT DISTINCT md5(text) AS fp, source FROM documents)
SELECT a.source AS s1, b.source AS s2,
       CAST(count(*) AS BIGINT) AS n_shared
FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2
""")
def corpus_source_overlap(spark, sf):
    # Cross-source duplicate crosstab: how many exact-duplicate
    # fingerprints each PAIR of sources shares — which crawls overlap,
    # the planning input for source-level dedup priorities
    # (complements corpus_dedup_rate_report's per-source view). Only
    # 16-byte fingerprints shuffle; the pair join is fp-keyed
    # (bounded by duplicate multiplicity, never all-pairs of docs).
    docs = load_table(spark, sf, "documents")
    f = docs.select(F.md5("text").alias("fp"), "source").distinct()
    pairs = (f.alias("a")
             .join(f.alias("b"),
                   (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a.source") < F.col("b.source")))
             .select(F.col("a.source").alias("s1"),
                     F.col("b.source").alias("s2")))
    return (pairs.groupBy("s1", "s2")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared")))


@register("quality_effect_size_cohens_d", """
WITH v AS (SELECT event_type AS t,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
           FROM events WHERE event_type IN ('click', 'purchase')),
s AS (SELECT t, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS sm,
             CAST(SUM(c * c) AS BIGINT) AS ss FROM v GROUP BY t),
a AS (SELECT n, sm, ss FROM s WHERE t = 'click'),
b AS (SELECT n AS n2, sm AS sm2, ss AS ss2 FROM s WHERE t = 'purchase')
SELECT a.n AS n1, b.n2 AS n2, a.sm AS sum1, b.sm2 AS sum2,
       a.ss AS ss1, b.ss2 AS ss2,
  (CAST(a.sm AS DOUBLE) / CAST(a.n AS DOUBLE)
   - CAST(b.sm2 AS DOUBLE) / CAST(b.n2 AS DOUBLE))
  / sqrt(((CAST(a.n AS DOUBLE) * CAST(a.ss AS DOUBLE)
           - CAST(a.sm AS DOUBLE) * CAST(a.sm AS DOUBLE))
            / CAST(a.n AS DOUBLE)
          + (CAST(b.n2 AS DOUBLE) * CAST(b.ss2 AS DOUBLE)
             - CAST(b.sm2 AS DOUBLE) * CAST(b.sm2 AS DOUBLE))
            / CAST(b.n2 AS DOUBLE))
         / CAST(a.n + b.n2 - 2 AS DOUBLE)) AS cohens_d
FROM a, b
""")
def quality_effect_size_cohens_d(spark, sf):
    # Cohen's d standardized mean difference between click and
    # purchase values — the effect-size readout an experimentation /
    # drift pipeline reports next to a p-value. Money enters as exact
    # integer cents; n/Σx/Σx² stay BIGINT; the mean difference and
    # pooled SD are one fixed-operand-order double expression
    # (Σ(x−m)² computed as (n·ss − s²)/n — exact-integer numerators
    # until the final casts), so yet another real-valued statistic is
    # hash-exact.
    ev = (load_table(spark, sf, "events")
          .filter(F.col("event_type").isin("click", "purchase"))
          .select(F.col("event_type").alias("t"),
                  (F.col("value").cast("decimal(18,2)") * 100)
                  .cast("bigint").alias("c")))
    s = (ev.groupBy("t")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.sum("c").cast("bigint").alias("sm"),
              F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss")))
    a = s.filter(F.col("t") == "click").select("n", "sm", "ss")
    b = (s.filter(F.col("t") == "purchase")
         .select(F.col("n").alias("n2"), F.col("sm").alias("sm2"),
                 F.col("ss").alias("ss2")))
    j = a.crossJoin(b)
    nd = F.col("n").cast("double")
    n2d = F.col("n2").cast("double")
    ssq1 = (nd * F.col("ss").cast("double")
            - F.col("sm").cast("double") * F.col("sm").cast("double")) / nd
    ssq2 = (n2d * F.col("ss2").cast("double")
            - F.col("sm2").cast("double")
            * F.col("sm2").cast("double")) / n2d
    d = ((F.col("sm").cast("double") / nd
          - F.col("sm2").cast("double") / n2d)
         / F.sqrt((ssq1 + ssq2)
                  / (F.col("n") + F.col("n2") - 2).cast("double")))
    return j.select(F.col("n").alias("n1"), "n2",
                    F.col("sm").alias("sum1"),
                    F.col("sm2").alias("sum2"),
                    F.col("ss").alias("ss1"),
                    F.col("ss2").alias("ss2"),
                    d.alias("cohens_d"))


@register("graph_pagerank_convergence", f"""
WITH d0 AS ({_D0_EDGES_SQL}),
nodes AS (SELECT DISTINCT n AS node FROM (
  SELECT src AS n FROM d0 UNION SELECT dst FROM d0)),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM d0 GROUP BY src),
cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
x0 AS (SELECT node, CAST(1000000000000 // n AS BIGINT) AS r
       FROM nodes CROSS JOIN cnt),
s1 AS (SELECT e.dst AS node, CAST(SUM(x0.r // deg.od) AS BIGINT) AS s
       FROM d0 e JOIN x0 ON e.src = x0.node
       JOIN deg ON e.src = deg.src GROUP BY e.dst),
x1 AS (SELECT nodes.node,
         CAST((15 * 1000000000000) // (100 * cnt.n)
              + (85 * COALESCE(s1.s, 0)) // 100 AS BIGINT) AS r
       FROM nodes CROSS JOIN cnt
       LEFT JOIN s1 ON nodes.node = s1.node),
s2 AS (SELECT e.dst AS node, CAST(SUM(x1.r // deg.od) AS BIGINT) AS s
       FROM d0 e JOIN x1 ON e.src = x1.node
       JOIN deg ON e.src = deg.src GROUP BY e.dst),
x2 AS (SELECT nodes.node,
         CAST((15 * 1000000000000) // (100 * cnt.n)
              + (85 * COALESCE(s2.s, 0)) // 100 AS BIGINT) AS r
       FROM nodes CROSS JOIN cnt
       LEFT JOIN s2 ON nodes.node = s2.node)
SELECT cnt.n AS n_nodes,
       CAST(SUM(ABS(x2.r - x1.r)) AS BIGINT) AS l1_delta,
       CAST(MAX(ABS(x2.r - x1.r)) AS BIGINT) AS max_delta
FROM x1 JOIN x2 USING (node) CROSS JOIN cnt GROUP BY cnt.n
""")
def graph_pagerank_convergence(spark, sf):
    # Fixed-point convergence diagnostic: the L1/L∞ distance between
    # PageRank after 1 and after 2 iterations — the "has the ranking
    # settled?" gate an iterative-graph pipeline checks before
    # stopping early. Integer fixed-point makes even the CONVERGENCE
    # metric hash-exact (two unrolled oracle iterations); engine side
    # takes the SHARED-PREFIX trajectory (VERDICT r10 #3): rank₁ is
    # localCheckpoint'ed once and iteration 2 extends it, instead of
    # the two independent lineages that redid the depth-1 work.
    from yougile_etl_pipeline_spark.operators.graph import (
        pagerank_fixed_point,
    )

    e = _d0_edges(spark, sf)
    traj = pagerank_fixed_point(e, iterations=2, return_trajectory=True)
    r1 = traj[0].withColumnRenamed("rank", "r1")
    r2 = traj[1].withColumnRenamed("rank", "r2")
    j = r1.join(r2, "node")
    return (j.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
                  F.sum(F.abs(F.col("r2") - F.col("r1")))
                  .cast("bigint").alias("l1_delta"),
                  F.max(F.abs(F.col("r2") - F.col("r1")))
                  .cast("bigint").alias("max_delta")))


@register("train_shuffle_order_sample", """
WITH k AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS sk
           FROM documents),
t AS (SELECT doc_id, sk FROM k ORDER BY sk, doc_id LIMIT 100)
SELECT CAST(row_number() OVER (ORDER BY sk, doc_id) AS BIGINT) AS pos,
       doc_id, sk
FROM t
""")
def train_shuffle_order_sample(spark, sf):
    # Deterministic corpus shuffle order — reproducible training-epoch
    # ordering: documents sort by md5(doc_id) (engine-portable, no RNG
    # state), here the first 100 positions as the auditable sample.
    # TakeOrdered top-100 (never a full sort); the row_number window
    # runs over 100 rows only.
    from pyspark.sql.window import Window

    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("sk"))
    t = docs.orderBy("sk", "doc_id").limit(100)
    w = Window.orderBy("sk", "doc_id")
    return t.select(F.row_number().over(w).cast("bigint").alias("pos"),
                    "doc_id", "sk")
