"""Round-15 query registrations.

Every entry landed with its DuckDB oracle proven bit-identical at
sf0.001 AND sf0.01 and a recorded sf0.1 wall time + plan fingerprint
(bench.py's r15 block). Same determinism contract as registry.py's
module docstring.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yougile_etl_pipeline_spark.operators import caching
from yougile_etl_pipeline_spark.registry_base import register
from yougile_etl_pipeline_spark.registry_ext import _COS, _lsh_buckets_union
from yougile_etl_pipeline_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Simpson diversity index per document (tests/test_registry_r15_bank.py)
# ---------------------------------------------------------------------------

@register("text_simpson_diversity", """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents),
cnt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS f
        FROM tok GROUP BY 1, 2),
agg AS (SELECT doc_id,
               CAST(SUM(f) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(SUM(f * (f - 1)) AS BIGINT) AS rep_pairs
        FROM cnt GROUP BY 1)
SELECT doc_id, n_tokens, n_distinct, rep_pairs,
       CAST(CASE WHEN n_tokens >= 2
            THEN rep_pairs * 1000000 // (n_tokens * (n_tokens - 1))
            ELSE 0 END AS BIGINT) AS simpson_ppm,
       CASE WHEN n_tokens >= 2
            THEN rep_pairs * 1000000 // (n_tokens * (n_tokens - 1))
            ELSE 0 END <= 200000 AS diverse_ok
FROM agg
""")
def text_simpson_diversity(spark, sf):
    # Simpson repetition index per document — the probability that
    # two token draws (without replacement) collide: Σf(f−1) div
    # N(N−1) in exact integer ppm. The Gopher-style repetition
    # filters (text_repetition_stats) see only the TOP element's
    # share and the distinct ratio; Simpson integrates the whole
    # frequency profile, catching docs padded by several medium-
    # frequency phrases that no single top-gram dominates. Exact
    # BIGINT pair counts (Σf² bounded by the doc's token count
    # squared — per-doc, never corpus-wide), one (doc, token) partial
    # agg + one doc-keyed agg, all codegen; gate at 0.2 (a fifth of
    # random pair draws colliding marks boilerplate).
    toks = F.split(F.col("text"), " ")
    cnt = (load_table(spark, sf, "documents")
           .select("doc_id", F.explode(toks).alias("tok"))
           .groupBy("doc_id", "tok")
           .agg(F.count(F.lit(1)).cast("bigint").alias("f")))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("f").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.expr("f * (f - 1)")).cast("bigint").alias("rep_pairs"))
    ppm = F.when(
        F.col("n_tokens") >= 2,
        F.expr("rep_pairs * 1000000 div (n_tokens * (n_tokens - 1))")) \
        .otherwise(F.lit(0)).cast("bigint")
    return agg.select(
        "doc_id", "n_tokens", "n_distinct", "rep_pairs",
        ppm.alias("simpson_ppm"),
        (ppm <= 200000).alias("diverse_ok"))


# ---------------------------------------------------------------------------
# Greedy token-budget selection (tests/test_registry_r15_bank.py)
# ---------------------------------------------------------------------------

@register("train_token_budget_select", """
WITH t AS (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT)
                    AS n_tokens
           FROM documents),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM t),
c AS (SELECT doc_id, n_tokens,
        CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cum_tokens
      FROM t)
SELECT doc_id, n_tokens, cum_tokens,
       cum_tokens * 2 <= (SELECT total FROM tot) AS selected
FROM c
""")
def train_token_budget_select(spark, sf):
    # Deterministic greedy selection under a token budget (half the
    # corpus total, scale-free): docs ranked longest-first with the
    # doc id as the total-order tie-break, running token prefix sum,
    # selected while the cumulative stays within budget — the
    # training-mix counterpart of train_shard_planner (which packs
    # AFTER selection). Exact BIGINT prefix sums; the budget
    # comparison is cross-multiplied (cum·2 ≤ total) so no division
    # exists at all. Scale shape: a global prefix scan — at 100 TB
    # this runs as the standard two-pass (per-partition token
    # subtotals to the driver, broadcast cumulative offsets back,
    # the same recipe train_shard_planner documents); at bench scale
    # the single-range window expresses it directly, and the scalar
    # total rides a one-row broadcast crossJoin.
    from pyspark.sql.window import Window

    t = load_table(spark, sf, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint")
        .alias("n_tokens"))
    total = t.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    w = (Window.orderBy(F.col("n_tokens").desc(), F.col("doc_id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = t.select("doc_id", "n_tokens",
                 F.sum("n_tokens").over(w).cast("bigint")
                 .alias("cum_tokens"))
    return (c.crossJoin(F.broadcast(total))
             .select("doc_id", "n_tokens", "cum_tokens",
                     (F.col("cum_tokens") * 2 <= F.col("total"))
                     .alias("selected")))


# ---------------------------------------------------------------------------
# Deterministic weighted bottom-k sample (tests/test_registry_r15_bank.py)
# ---------------------------------------------------------------------------

_WBK_K = 50


@register("sample_weighted_bottomk", f"""
WITH p AS (
  SELECT doc_id, n_chars,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT)
           // greatest(n_chars, 1) AS priority
  FROM documents)
SELECT doc_id, n_chars, CAST(priority AS BIGINT) AS priority
FROM p ORDER BY priority, doc_id LIMIT {_WBK_K}
""")
def sample_weighted_bottomk(spark, sf):
    # Weighted bottom-k sampling, fully deterministic: priority =
    # md5-derived 60-bit uniform integer div weight (longer docs get
    # proportionally smaller priorities, the integer analogue of the
    # Efraimidis–Spirakis exponential-rank trick without pow/ln —
    # those are banned from hash-paired values), k smallest win, doc
    # id breaks ties totally. Mergeable by construction: the bottom-k
    # of a union is the bottom-k of the per-partition bottom-ks, so
    # Spark executes it as per-partition TakeOrdered + a k-row driver
    # merge — no global sort materializes at any scale. 60 bits
    # (15 hex chars) keeps the numerator exact in int64.
    p = load_table(spark, sf, "documents").select(
        "doc_id", "n_chars",
        F.expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15),"
               " 16, 10) AS BIGINT) div greatest(n_chars, 1L)")
        .alias("priority"))
    return (p.orderBy("priority", "doc_id").limit(_WBK_K)
             .select("doc_id", "n_chars", "priority"))


# ---------------------------------------------------------------------------
# Page–Hinkley drift statistic on the daily value stream
# ---------------------------------------------------------------------------

@register("events_page_hinkley_drift", """
WITH v AS (
  SELECT epoch_ms(ts) // 86400000 AS day,
         CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
d AS (SELECT day, CAST(SUM(cents) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM v GROUP BY 1),
tot AS (SELECT CAST(SUM(s) AS BIGINT) AS gs,
               CAST(SUM(n) AS BIGINT) AS gn FROM d),
dev AS (SELECT day, s, n,
               s * (SELECT gn FROM tot) - n * (SELECT gs FROM tot)
                 AS dev
        FROM d),
c AS (SELECT day, dev,
        SUM(dev) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM dev),
p AS (SELECT day, dev, cum,
        MAX(cum) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM c),
ph AS (SELECT day,
         CAST(dev // (SELECT gn FROM tot) AS BIGINT) AS dev_cents,
         CAST((peak - cum) // (SELECT gn FROM tot) AS BIGINT)
           AS ph_cents
       FROM p),
mx AS (SELECT MAX(ph_cents) AS ph_max FROM ph)
SELECT day, dev_cents, ph_cents,
       ph_cents * 2 > (SELECT ph_max FROM mx) AS in_drift_half
FROM ph
""")
def events_page_hinkley_drift(spark, sf):
    # Page–Hinkley change detection over the daily value stream in
    # EXACT integers: per-day deviation from the global mean is
    # cross-multiplied (s·N − n·S — no division exists until the
    # final per-event rescale), the PH statistic is the running peak
    # of the cumulative deviation minus the current cumulative —
    # the standard drift alarm for data-quality monitors, here as a
    # day-keyed trajectory. The relative flag (above half the run's
    # own PH range) exercises both outcomes at every scale, unlike a
    # fixed cents threshold (the random-walk magnitude grows with
    # corpus size). Overflow bound: daily-cents-sum × total-events
    # < 2⁶³ ⇒ safe to ~3·10⁹ events of $100 average value; beyond
    # that, pre-divide the day sums by a fixed 10³. Shape: one
    # day-keyed aggregate, the trajectory windows ride one
    # single-partition sort over the ~|days| relation (bounded by
    # the calendar, never by corpus size), scalars broadcast.
    from pyspark.sql.window import Window

    v = (load_table(spark, sf, "events")
         .filter(F.col("value").isNotNull())
         .select(F.expr("unix_millis(ts) div 86400000").alias("day"),
                 F.expr("CAST(CAST(value AS DECIMAL(20,2)) * 100 "
                        "AS BIGINT)").alias("cents")))
    d = v.groupBy("day").agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = d.agg(F.sum("s").cast("bigint").alias("gs"),
                F.sum("n").cast("bigint").alias("gn"))
    dev = (d.crossJoin(F.broadcast(tot))
            .select("day", "gn",
                    F.expr("s * gn - n * gs").alias("dev")))
    wo = (Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = dev.select("day", "gn", "dev",
                   F.sum("dev").over(wo).alias("cum"))
    p = c.select("day", "gn", "dev", "cum",
                 F.max("cum").over(wo).alias("peak"))
    ph = p.select(
        "day",
        F.expr("CAST(dev div gn AS BIGINT)").alias("dev_cents"),
        F.expr("CAST((peak - cum) div gn AS BIGINT)").alias("ph_cents"))
    mx = ph.agg(F.max("ph_cents").alias("ph_max"))
    return (ph.crossJoin(F.broadcast(mx))
              .select("day", "dev_cents", "ph_cents",
                      (F.col("ph_cents") * 2 > F.col("ph_max"))
                      .alias("in_drift_half")))


# ---------------------------------------------------------------------------
# Jarque–Bera normality profile per return flag
# ---------------------------------------------------------------------------

@register("quality_jarque_bera", """
WITH b AS (SELECT l_returnflag AS flag,
                  CAST(l_quantity AS BIGINT) AS q
           FROM lineitem),
s AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
        CAST(SUM(q) AS BIGINT) AS s1,
        CAST(SUM(q * q) AS BIGINT) AS s2,
        CAST(SUM(q * q * q) AS BIGINT) AS s3,
        CAST(SUM(q * q * q * q) AS BIGINT) AS s4
      FROM b GROUP BY 1),
r AS (SELECT flag, n,
        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
        CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
        CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
      FROM s),
m AS (SELECT flag, n,
        r2 - mean * mean AS m2,
        r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
        r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2
           - 3.0 * mean * mean * mean * mean AS m4
      FROM r),
jb AS (SELECT flag, n,
         m3 / (m2 * sqrt(m2)) AS skewness,
         m4 / (m2 * m2) - 3.0 AS kurt,
         CAST(n AS DOUBLE) / 6.0
           * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
              + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0)
           AS jb_stat
       FROM m),
mx AS (SELECT MAX(jb_stat) AS jb_max FROM jb)
SELECT flag, n, jb_stat,
       jb_stat > 5.991464547107979 AS normal_rejected,
       jb_stat = (SELECT jb_max FROM mx) AS most_nonnormal
FROM jb
""")
def quality_jarque_bera(spark, sf):
    # Jarque–Bera normality statistic per return flag — n/6·(S² +
    # K²/4) composed from the SAME BIGINT raw-moment sufficient
    # statistics and staged double expressions as
    # agg_skewness_kurtosis (every double materializes through
    # identical operand-ordered expressions in both engines, so the
    # statistic hash-pairs bit-for-bit). `normal_rejected` is the
    # χ²(2df, 95%) gate — uniformly-distributed quantities reject at
    # any corpus size (the statistically correct answer); the argmax
    # flag (`most_nonnormal`) exercises both boolean outcomes at
    # every scale. One flag-keyed aggregate; the moment algebra runs
    # on the |flags|-row relation; the max broadcasts back.
    b = load_table(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("q"))
    s = b.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s1"),
        F.sum(F.expr("q * q")).cast("bigint").alias("s2"),
        F.sum(F.expr("q * q * q")).cast("bigint").alias("s3"),
        F.sum(F.expr("q * q * q * q")).cast("bigint").alias("s4"))
    r = s.select(
        "flag", "n",
        F.expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)").alias("mean"),
        F.expr("CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)").alias("r2"),
        F.expr("CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)").alias("r3"),
        F.expr("CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)").alias("r4"))
    m = r.select(
        "flag", "n",
        F.expr("r2 - mean * mean").alias("m2"),
        F.expr("r3 - 3.0D * mean * r2 + 2.0D * mean * mean * mean")
        .alias("m3"),
        F.expr("r4 - 4.0D * mean * r3 + 6.0D * mean * mean * r2 "
               "- 3.0D * mean * mean * mean * mean").alias("m4"))
    jb = m.select(
        "flag", "n",
        F.expr("CAST(n AS DOUBLE) / 6.0D "
               "* ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2))) "
               "+ (m4 / (m2 * m2) - 3.0D) * (m4 / (m2 * m2) - 3.0D) "
               "/ 4.0D)").alias("jb_stat"))
    mx = jb.agg(F.max("jb_stat").alias("jb_max"))
    return (jb.crossJoin(F.broadcast(mx))
              .select("flag", "n", "jb_stat",
                      (F.col("jb_stat") > F.lit(5.991464547107979))
                      .alias("normal_rejected"),
                      (F.col("jb_stat") == F.col("jb_max"))
                      .alias("most_nonnormal")))


# ---------------------------------------------------------------------------
# IDF-weighted shingle Jaccard near-dup pairs
# ---------------------------------------------------------------------------

@register("dedup_idf_jaccard", """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
           FROM documents),
sh AS (
  SELECT DISTINCT doc_id, lang,
         array_to_string(toks[s:s+2], ' ') AS sh
  FROM t, LATERAL (SELECT unnest(range(1,
           greatest(len(toks) - 3 + 1, 0) + 1)) AS s) ls),
dfreq AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
w AS (SELECT sh, greatest(1, (SELECT n FROM nd) // df) AS w
      FROM dfreq WHERE df <= 50),
shw AS (SELECT sh.doc_id, sh.lang, sh.sh, w.w FROM sh JOIN w USING (sh)),
dw AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS tw FROM shw GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(a.w) AS BIGINT) AS inter_w
  FROM shw a JOIN shw b ON a.sh = b.sh AND a.lang = b.lang
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2),
j AS (
  SELECT doc_a, doc_b, inter_w,
         CAST(wa.tw + wb.tw - inter_w AS BIGINT) AS union_w
  FROM pairs JOIN dw wa ON pairs.doc_a = wa.doc_id
             JOIN dw wb ON pairs.doc_b = wb.doc_id)
SELECT doc_a, doc_b, inter_w, union_w,
       CAST(inter_w * 1000000 // union_w AS BIGINT) AS jaccard_w_ppm
FROM j WHERE inter_w * 1000000 // union_w >= 300000
""")
def dedup_idf_jaccard(spark, sf):
    # Rarity-aware near-dup lens (operators/dedup.py::
    # idf_weighted_jaccard_pairs): shared RARE shingles are copy
    # evidence, shared common ones are noise — integer IDF weights
    # max(1, N div df), pair score Σw(A∩B)/Σw(A∪B) in exact ppm,
    # language-blocked, mandatory stop-shingle cap (df ≤ 50). On
    # this corpus the unweighted Jaccard entry and this one agree on
    # the planted wholesale copies but differ on partially-
    # overlapping docs whose shared text is boilerplate — exactly
    # the split the weighting exists to make.
    from yougile_etl_pipeline_spark.operators.dedup import (
        idf_weighted_jaccard_pairs,
    )

    return idf_weighted_jaccard_pairs(
        load_table(spark, sf, "documents"), "doc_id", "text",
        n=3, threshold_ppm=300000, block_cols=["lang"],
        max_shingle_df=50)


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth curve
# ---------------------------------------------------------------------------

@register("text_heaps_curve", """
WITH d AS (SELECT doc_id,
                  row_number() OVER (ORDER BY doc_id) AS rn
           FROM documents),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
dd AS (SELECT doc_id,
              CAST(1 + (rn - 1) * 10 // (SELECT n FROM nd) AS BIGINT)
                AS decile
       FROM d),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
debut AS (SELECT tok, min(doc_id) AS d0 FROM tok GROUP BY 1),
newt AS (SELECT dd.decile,
                CAST(count(*) AS BIGINT) AS new_tokens
         FROM debut JOIN dd ON debut.d0 = dd.doc_id GROUP BY 1),
docs AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs
         FROM dd GROUP BY 1)
SELECT docs.decile, docs.n_docs,
       CAST(SUM(docs.n_docs) OVER (ORDER BY docs.decile
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS docs_cum,
       CAST(COALESCE(newt.new_tokens, 0) AS BIGINT) AS new_tokens,
       CAST(SUM(COALESCE(newt.new_tokens, 0)) OVER (ORDER BY docs.decile
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab_cum
FROM docs LEFT JOIN newt USING (decile)
""")
def text_heaps_curve(spark, sf):
    # Heaps-law vocabulary growth in ten corpus-order deciles: each
    # token is attributed to the decile of its DEBUT document (the
    # min-doc-id debut aggregate the dedup family already uses), so
    # vocab_cum(d) is exactly |vocabulary of the first d/10 of the
    # corpus| without materializing per-prefix distinct counts — the
    # curve that says whether a corpus is still yielding new types
    # (steep tail) or saturating (flat tail), the standard check
    # before deciding more data vs more epochs. Shapes: one
    # vocab-keyed debut aggregate, a broadcast-join of debuts to doc
    # deciles, and the final windows run on a 10-row relation. The
    # doc ranking window is a row_number over doc ids — at 100 TB
    # the same decile assignment comes from a count(≤id) two-pass;
    # the SQL twin uses the identical row_number form.
    from pyspark.sql.window import Window

    docs = load_table(spark, sf, "documents")
    d = docs.select(
        "doc_id",
        F.row_number().over(Window.orderBy("doc_id")).alias("rn"))
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    dd = (d.crossJoin(F.broadcast(nd))
           .select("doc_id",
                   F.expr("CAST(1 + (rn - 1) * 10 div n AS BIGINT)")
                   .alias("decile")))
    tok = docs.select("doc_id",
                      F.explode(F.split(F.col("text"), " "))
                      .alias("tok"))
    debut = tok.groupBy("tok").agg(F.min("doc_id").alias("d0"))
    newt = (debut.join(dd.withColumnRenamed("doc_id", "d0"), "d0")
                 .groupBy("decile")
                 .agg(F.count(F.lit(1)).cast("bigint")
                      .alias("new_tokens")))
    byd = dd.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    wo = (Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (byd.join(newt, "decile", "left")
              .withColumn("new_tokens",
                          F.coalesce("new_tokens",
                                     F.lit(0).cast("bigint"))))
    return out.select(
        "decile", "n_docs",
        F.sum("n_docs").over(wo).cast("bigint").alias("docs_cum"),
        "new_tokens",
        F.sum("new_tokens").over(wo).cast("bigint").alias("vocab_cum"))


# ---------------------------------------------------------------------------
# Pareto quality front over (length, lexical richness)
# ---------------------------------------------------------------------------

@register("quality_pareto_front", """
WITH m AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
           AS n_distinct
  FROM documents),
pts AS (SELECT n_tokens, n_distinct,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM m GROUP BY 1, 2),
w AS (SELECT n_tokens, n_distinct, n_docs,
        MAX(n_distinct) OVER (ORDER BY n_tokens DESC
          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS best_larger
      FROM pts)
SELECT n_tokens, n_distinct, n_docs
FROM w
WHERE (best_larger IS NULL OR n_distinct > best_larger)
""")
def quality_pareto_front(spark, sf):
    # Pareto-optimal (length, lexical-richness) points: a point is on
    # the front iff no point with MORE tokens has at-least-equal
    # distinct-token count — the multi-criteria skyline a curation
    # pipeline reads before trading length against richness with a
    # single weighted score. Classic skyline-by-window: sort distinct
    # points by x descending, a point survives iff its y strictly
    # exceeds the running max over strictly-larger x (RANGE …
    # 1 PRECEDING keeps same-x points out of their own frame, and
    # same-x domination resolves because only the max-y point at
    # each x can beat the larger-x running max). The window runs on
    # the DISTINCT-point relation (bounded by the metric domain, not
    # the corpus); the per-doc metrics are map-only.
    from pyspark.sql.window import Window

    toks = F.split(F.col("text"), " ")
    m = load_table(spark, sf, "documents").select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint")
        .alias("n_distinct"))
    pts = m.groupBy("n_tokens", "n_distinct").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    w = (Window.orderBy(F.col("n_tokens").desc())
         .rangeBetween(Window.unboundedPreceding, -1))
    scored = pts.select(
        "n_tokens", "n_distinct", "n_docs",
        F.max("n_distinct").over(w).alias("best_larger"))
    return (scored.filter(F.col("best_larger").isNull()
                          | (F.col("n_distinct")
                             > F.col("best_larger")))
                  .select("n_tokens", "n_distinct", "n_docs"))


# ---------------------------------------------------------------------------
# Dedup cascade attribution (exact -> near-dup marginals)
# ---------------------------------------------------------------------------

@register("dedup_cascade_attribution", """
WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks
           FROM documents),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
efp AS (SELECT doc_id, md5(text) AS f FROM t),
edeb AS (SELECT f, min(doc_id) AS d0 FROM efp GROUP BY 1),
exact_rm AS (SELECT e.doc_id FROM efp e JOIN edeb d USING (f)
             WHERE e.doc_id > d.d0),
sh AS (SELECT DISTINCT doc_id, lang,
              array_to_string(toks[s:s+2], ' ') AS sh
       FROM t, LATERAL (SELECT unnest(range(1,
             greatest(len(toks) - 3 + 1, 0) + 1)) AS s) ls),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
shc AS (SELECT sh.*
        FROM sh JOIN (SELECT sh FROM sh GROUP BY sh
                      HAVING count(*) <= 50) keep USING (sh)),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS common
  FROM shc a JOIN shc b ON a.sh = b.sh AND a.lang = b.lang
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
near AS (
  SELECT doc_b AS doc_id
  FROM common JOIN sz za ON common.doc_a = za.doc_id
              JOIN sz zb ON common.doc_b = zb.doc_id
  WHERE common.common * 10 >= (za.sz + zb.sz - common.common) * 6),
stage1 AS (SELECT DISTINCT doc_id FROM exact_rm),
stage2 AS (SELECT DISTINCT doc_id FROM near
           WHERE doc_id NOT IN (SELECT doc_id FROM stage1))
SELECT * FROM (
  SELECT 1 AS stage, 'exact' AS lens,
         CAST((SELECT count(*) FROM stage1) AS BIGINT) AS n_removed,
         CAST((SELECT n FROM nd)
              - (SELECT count(*) FROM stage1) AS BIGINT) AS n_remaining
  UNION ALL
  SELECT 2, 'jaccard_06',
         CAST((SELECT count(*) FROM stage2) AS BIGINT),
         CAST((SELECT n FROM nd) - (SELECT count(*) FROM stage1)
              - (SELECT count(*) FROM stage2) AS BIGINT))
""")
def dedup_cascade_attribution(spark, sf):
    # Stage-marginal dedup accounting — the report a pipeline owner
    # reads before ordering the lenses: how many docs each successive
    # lens removes BEYOND the previous one (exact full-text debut
    # dups first, then 0.6-Jaccard near-dups among the survivors,
    # language-blocked with the standard stop-shingle cap). On this
    # corpus exact removes zero (the planted dups are near- not
    # byte-identical) and the near lens fires — exactly the split
    # the attribution exists to show. Cross-multiplied threshold
    # (common*10 >= union*6) keeps it integer-exact. Shapes are the
    # certified exact-dedup and shingle-jaccard plans; the stage
    # rollup runs on two scalar counts.
    from yougile_etl_pipeline_spark.operators.dedup import (
        shingle_jaccard_pairs,
    )

    docs = load_table(spark, sf, "documents")
    nd = docs.count()
    efp = docs.select("doc_id", F.md5("text").alias("f"))
    edeb = efp.groupBy("f").agg(F.min("doc_id").alias("d0"))
    stage1 = (efp.join(edeb, "f")
                 .filter(F.col("doc_id") > F.col("d0"))
                 .select("doc_id").distinct())
    pairs = shingle_jaccard_pairs(docs, "doc_id", "text", n=3,
                                  threshold=0.6, block_cols=["lang"],
                                  max_shingle_df=50)
    near = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    stage2 = near.join(stage1, "doc_id", "left_anti")
    n1 = stage1.count()
    n2 = stage2.count()
    return spark.createDataFrame(
        [(1, "exact", n1, nd - n1),
         (2, "jaccard_06", n2, nd - n1 - n2)],
        "stage int, lens string, n_removed bigint, n_remaining bigint")


# ---------------------------------------------------------------------------
# Boilerplate edge (header/footer) sharing profile
# ---------------------------------------------------------------------------

@register("text_boilerplate_edges", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
h AS (SELECT doc_id,
             md5(array_to_string(toks[1:8], ' ')) AS hfp,
             md5(array_to_string(toks[-8:], ' ')) AS ffp
      FROM t),
hc AS (SELECT hfp, CAST(count(*) AS BIGINT) AS hdf FROM h GROUP BY 1),
fc AS (SELECT ffp, CAST(count(*) AS BIGINT) AS fdf FROM h GROUP BY 1)
SELECT h.doc_id, hc.hdf AS header_df, fc.fdf AS footer_df,
       hc.hdf >= 2 AS shared_header, fc.fdf >= 2 AS shared_footer
FROM h JOIN hc USING (hfp) JOIN fc USING (ffp)
""")
def text_boilerplate_edges(spark, sf):
    # Header/footer boilerplate detector: docs sharing their first or
    # last 8 tokens with another doc (site templates, license blocks,
    # navigation) — the positional complement of line_dedup's
    # anywhere-segments. 16-byte md5 edge fingerprints, two
    # fingerprint-keyed aggregates joined back; everything else
    # map-only. On this corpus headers do collide (the planted
    # near-dups share openings) and footers do not — both columns
    # certify the slice arithmetic (Spark slice(toks, -8, 8) vs
    # DuckDB toks[-8:], including the shorter-than-8-token edge).
    toks = F.split(F.col("text"), " ")
    h = load_table(spark, sf, "documents").select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(toks, 1, 8))).alias("hfp"),
        F.md5(F.concat_ws(
            " ", F.slice(toks, F.greatest(F.size(toks) - 7, F.lit(1)),
                         8))).alias("ffp"))
    hc = h.groupBy("hfp").agg(F.count(F.lit(1)).cast("bigint")
                              .alias("header_df"))
    fc = h.groupBy("ffp").agg(F.count(F.lit(1)).cast("bigint")
                              .alias("footer_df"))
    return (h.join(hc, "hfp").join(fc, "ffp")
             .select("doc_id", "header_df", "footer_df",
                     (F.col("header_df") >= 2).alias("shared_header"),
                     (F.col("footer_df") >= 2).alias("shared_footer")))


# ---------------------------------------------------------------------------
# Interarrival burstiness coefficient per event type
# ---------------------------------------------------------------------------

@register("events_burstiness_index", """
WITH s AS (
  SELECT event_type, epoch_ms(ts) AS ms, event_id,
         lead(epoch_ms(ts)) OVER (PARTITION BY event_type
                                  ORDER BY epoch_ms(ts), event_id) AS nxt
  FROM events),
g AS (SELECT event_type, CAST(nxt - ms AS BIGINT) AS gap
      FROM s WHERE nxt IS NOT NULL),
agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(gap) AS BIGINT) AS s1,
               CAST(SUM(gap * gap) AS BIGINT) AS s2
        FROM g GROUP BY 1),
m AS (SELECT event_type, n, s1, s2,
        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2
      FROM agg)
SELECT event_type, n,
       sqrt(r2 - mean * mean) AS sd,
       mean,
       (sqrt(r2 - mean * mean) - mean)
         / (sqrt(r2 - mean * mean) + mean) AS burstiness
FROM m
""")
def events_burstiness_index(spark, sf):
    # Goh–Barabási burstiness coefficient B = (σ−μ)/(σ+μ) of the
    # per-type interarrival gaps: −1 = metronome, 0 = Poisson, →1 =
    # bursty — the single-number regularity diagnostic next to the
    # dispersion gate (events_poisson_dispersion_gate tests counts
    # per window; this tests the gap process itself). Exact BIGINT
    # gap sufficient statistics (Σg² of ms gaps stays under 2⁶³ to
    # ~10⁹ gaps/type at day-scale gaps), then the same staged
    # double-expression discipline as agg_skewness_kurtosis — one
    # mean, one raw second moment, one IEEE-exact sqrt, so the
    # coefficient hash-pairs bit-for-bit. One type-keyed window
    # (lead), one type-keyed aggregate.
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events").select(
        "event_type", F.unix_millis("ts").alias("ms"), "event_id")
    w = Window.partitionBy("event_type").orderBy("ms", "event_id")
    g = (ev.withColumn("nxt", F.lead("ms").over(w))
           .filter(F.col("nxt").isNotNull())
           .select("event_type",
                   (F.col("nxt") - F.col("ms")).cast("bigint")
                   .alias("gap")))
    agg = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("gap").cast("bigint").alias("s1"),
        F.sum(F.expr("gap * gap")).cast("bigint").alias("s2"))
    m = agg.select(
        "event_type", "n",
        F.expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)").alias("mean"),
        F.expr("CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)").alias("r2"))
    return m.select(
        "event_type", "n",
        F.expr("sqrt(r2 - mean * mean)").alias("sd"),
        "mean",
        F.expr("(sqrt(r2 - mean * mean) - mean) "
               "/ (sqrt(r2 - mean * mean) + mean)").alias("burstiness"))


# ---------------------------------------------------------------------------
# Per-source epoch-factor plan toward a uniform training mix
# ---------------------------------------------------------------------------

@register("train_mix_epochs_plan", """
WITH t AS (SELECT source,
                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                    AS tokens
           FROM documents GROUP BY 1),
tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_sources FROM t)
SELECT source, tokens,
       CAST(tokens * 1000000 // (SELECT total FROM tot) AS BIGINT)
         AS share_ppm,
       CAST(((SELECT total FROM tot) // (SELECT n_sources FROM tot))
            * 1000000 // tokens AS BIGINT) AS epoch_factor_ppm,
       ((SELECT total FROM tot) // (SELECT n_sources FROM tot))
         * 1000000 // tokens > 1000000 AS upsampled
FROM t
""")
def train_mix_epochs_plan(spark, sf):
    # Epoch-factor plan toward a uniform per-source token mix: each
    # source's repeat rate = target-tokens div actual-tokens in exact
    # integer ppm (>1e6 ⇒ the source is seen more than once per
    # epoch; <1e6 ⇒ subsampled) — the upsampling complement of
    # corpus_mixture_rebalance's downsampling view, and the number a
    # data-mix config actually records (the Pile/ROOTS "epochs"
    # column). One source-keyed aggregate; scalars broadcast.
    t = load_table(spark, sf, "documents").select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint")
        .alias("tk"))
    agg = t.groupBy("source").agg(
        F.sum("tk").cast("bigint").alias("tokens"))
    tot = agg.agg(F.sum("tokens").cast("bigint").alias("total"),
                  F.count(F.lit(1)).cast("bigint").alias("n_sources"))
    out = agg.crossJoin(F.broadcast(tot))
    return out.select(
        "source", "tokens",
        F.expr("CAST(tokens * 1000000 div total AS BIGINT)")
        .alias("share_ppm"),
        F.expr("CAST((total div n_sources) * 1000000 div tokens "
               "AS BIGINT)").alias("epoch_factor_ppm"),
        F.expr("(total div n_sources) * 1000000 div tokens > 1000000")
        .alias("upsampled"))


# ---------------------------------------------------------------------------
# Single most-likely changepoint on the daily value stream
# ---------------------------------------------------------------------------

@register("events_changepoint_scan", """
WITH v AS (
  SELECT epoch_ms(ts) // 86400000 AS day,
         CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
d AS (SELECT day, CAST(SUM(cents) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM v GROUP BY 1),
tot AS (SELECT CAST(SUM(s) AS BIGINT) AS gs,
               CAST(SUM(n) AS BIGINT) AS gn FROM d),
c AS (SELECT day, s, n,
        SUM(s * (SELECT gn FROM tot) - n * (SELECT gs FROM tot))
          OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS cum
      FROM d),
cp AS (SELECT day AS cp_day FROM c
       ORDER BY abs(cum) DESC, day LIMIT 1),
sides AS (
  SELECT CASE WHEN day <= (SELECT cp_day FROM cp)
              THEN 0 ELSE 1 END AS side,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(SUM(s) AS BIGINT) AS s, CAST(SUM(n) AS BIGINT) AS n
  FROM d GROUP BY 1)
SELECT (SELECT cp_day FROM cp) AS cp_day,
       MAX(CASE WHEN side = 0 THEN n_days END) AS pre_days,
       MAX(CASE WHEN side = 1 THEN n_days END) AS post_days,
       CAST(MAX(CASE WHEN side = 0 THEN s // n END) AS BIGINT)
         AS pre_mean_cents,
       CAST(MAX(CASE WHEN side = 1 THEN s // n END) AS BIGINT)
         AS post_mean_cents,
       CAST(MAX(CASE WHEN side = 1 THEN s // n END)
            - MAX(CASE WHEN side = 0 THEN s // n END) AS BIGINT)
         AS shift_cents
FROM sides
""")
def events_changepoint_scan(spark, sf):
    # CUSUM-argmax changepoint: the split day maximizing the absolute
    # cumulative deviation from the global mean (the binary-
    # segmentation first step, and the location readout for the
    # Page–Hinkley alarm next door — PH says WHETHER the stream
    # drifted, this says WHERE). Same cross-multiplied integer
    # deviations as events_page_hinkley_drift (no division until the
    # per-side mean readout), earliest-day tie-break, pre/post means
    # in exact cents. The argmax and the two-sided rollup run on the
    # |days| relation.
    from pyspark.sql.window import Window

    v = (load_table(spark, sf, "events")
         .filter(F.col("value").isNotNull())
         .select(F.expr("unix_millis(ts) div 86400000").alias("day"),
                 F.expr("CAST(CAST(value AS DECIMAL(20,2)) * 100 "
                        "AS BIGINT)").alias("cents")))
    d = v.groupBy("day").agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = d.agg(F.sum("s").cast("bigint").alias("gs"),
                F.sum("n").cast("bigint").alias("gn"))
    wo = (Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = (d.crossJoin(F.broadcast(tot))
          .select("day", "s", "n",
                  F.sum(F.expr("s * gn - n * gs")).over(wo)
                  .alias("cum")))
    cp = (c.orderBy(F.abs(F.col("cum")).desc(), F.col("day"))
           .limit(1).select(F.col("day").alias("cp_day")))
    sides = (d.crossJoin(F.broadcast(cp))
              .groupBy(F.when(F.col("day") <= F.col("cp_day"), 0)
                        .otherwise(1).alias("side"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"),
                   F.sum("s").cast("bigint").alias("s"),
                   F.sum("n").cast("bigint").alias("n")))
    pre = F.max(F.when(F.col("side") == 0, F.col("n_days")))
    post = F.max(F.when(F.col("side") == 1, F.col("n_days")))
    pre_m = F.max(F.when(F.col("side") == 0, F.expr("s div n")))
    post_m = F.max(F.when(F.col("side") == 1, F.expr("s div n")))
    return (sides.crossJoin(F.broadcast(cp))
            .groupBy("cp_day")
            .agg(pre.alias("pre_days"), post.alias("post_days"),
                 pre_m.cast("bigint").alias("pre_mean_cents"),
                 post_m.cast("bigint").alias("post_mean_cents"),
                 (post_m - pre_m).cast("bigint").alias("shift_cents")))


# ---------------------------------------------------------------------------
# LSH recall-vs-tables sweep (the tuning curve for the L knob)
# ---------------------------------------------------------------------------

def _lsh_sweep_oracle() -> str:
    base = """
WITH qsrc AS (SELECT vec_id AS query_id, embedding,
                     embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 8),
csrc AS (SELECT vec_id AS match_id, embedding, embedding::DOUBLE[] AS cv
         FROM embeddings),
truth AS (
  SELECT query_id, match_id FROM (
    SELECT q.query_id, c.match_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {cos} DESC, c.match_id) AS rank
    FROM qsrc q CROSS JOIN csrc c WHERE q.query_id != c.match_id)
  WHERE rank <= 5),
tn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM truth)""".format(
        cos=_COS.replace("qv", "q.qv").replace("cv", "c.cv"))
    arms = []
    for L in (2, 6, 18):
        base += f""",
qb{L} AS ({_lsh_buckets_union('qsrc', 'query_id', 'qv', L, 4)}),
cb{L} AS ({_lsh_buckets_union('csrc', 'match_id', 'cv', L, 4)}),
cand{L} AS (
  SELECT DISTINCT query_id, match_id, qv, cv
  FROM qb{L} JOIN cb{L} USING (tbl, key) WHERE query_id != match_id),
top{L} AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY {_COS} DESC, match_id) AS rank
    FROM cand{L})
  WHERE rank <= 5),
hit{L} AS (SELECT CAST(count(*) AS BIGINT) AS h
           FROM top{L} JOIN truth USING (query_id, match_id))"""
        arms.append(
            f"SELECT CAST({L} AS BIGINT) AS n_tables, "
            f"(SELECT n FROM tn) AS truth_pairs, "
            f"(SELECT h FROM hit{L}) AS hits, "
            f"CAST((SELECT h FROM hit{L}) * 1000000 "
            f"// (SELECT n FROM tn) AS BIGINT) AS recall_ppm")
    return base + "\n" + " UNION ALL ".join(arms)


@register("sim_lsh_recall_sweep", _lsh_sweep_oracle())
def sim_lsh_recall_sweep(spark, sf):
    # The L-knob tuning curve, hash-exact: recall@5 of the LSH bucket
    # path at L ∈ {2, 6, 18} tables (P=4 planes) against the exact
    # brute-force truth, in ONE certified query — the lsh analogue of
    # sim_ivf_recall_sweep (VERDICT r11 asked recall to ride the
    # official record, not just bench's side-channel). Monotone
    # recovery expected as L grows (collision probability
    # 1-(1-p^P)^L); the sf0.01 sizing reads low-to-high exactly like
    # the collision formula predicts. Truth and every arm are
    # deterministic (seeded planes, id tie-breaks), so the recall
    # itself oracle-pairs bit-for-bit.
    # Shared-stream shape (VERDICT r14 #3: the naive form rebuilt the
    # bucketed relation per sweep leg — 2+6+18 = 26 corpus bucketing
    # tables and FOUR brute-force truth computations). The seeded
    # `hyperplanes` RNG is consumed table-by-table, so table t's
    # planes are independent of n_tables (asserted in
    # tests/test_dedup_similarity.py): the L-table relation is exactly
    # ``tbl < L`` of the 18-table one. Bucket ONCE at L=18, persist,
    # and filter per arm; persist the truth relation its four
    # consumers (tn + three hit joins) share. Both persists go through
    # the reuse cache (operators/caching.py); at cluster scale they are
    # staging tables.
    from yougile_etl_pipeline_spark.operators.similarity import (
        _bucketed_np,
        brute_force_topk_np,
        lsh_topk_from_bucketed,
    )

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    truth = caching.persist(
        brute_force_topk_np(emb, queries, k=5)
        .select("query_id", "match_id"))
    tn = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cb18 = caching.persist(
        _bucketed_np(emb, "match_id", "c_vec", "vec_id", "embedding",
                     18, 4))
    qb18 = _bucketed_np(queries, "query_id", "q_vec", "vec_id",
                        "embedding", 18, 4, fan_out=False)
    arms = []
    for L in (2, 6, 18):
        top = lsh_topk_from_bucketed(
            cb18.filter(F.col("tbl") < L),
            qb18.filter(F.col("tbl") < L),
            queries, k=5).select("query_id", "match_id")
        h = (top.join(truth, ["query_id", "match_id"])
                .agg(F.count(F.lit(1)).cast("bigint").alias("h")))
        arms.append(
            h.crossJoin(F.broadcast(tn)).select(
                F.lit(L).cast("bigint").alias("n_tables"),
                F.col("n").alias("truth_pairs"),
                F.col("h").alias("hits"),
                F.expr("CAST(h * 1000000 div n AS BIGINT)")
                .alias("recall_ppm")))
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# ---------------------------------------------------------------------------
# Streaming twin of the burstiness sufficient statistics
# ---------------------------------------------------------------------------

@register("stream_gap_burstiness", """
WITH s AS (
  SELECT event_type, epoch_ms(ts) AS ms, event_id,
         lead(epoch_ms(ts)) OVER (PARTITION BY event_type
                                  ORDER BY epoch_ms(ts), event_id) AS nxt
  FROM events),
g AS (SELECT event_type, CAST(nxt - ms AS BIGINT) AS gap
      FROM s WHERE nxt IS NOT NULL),
agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(gap) AS BIGINT) AS s1,
               CAST(SUM(gap * gap) AS BIGINT) AS s2
        FROM g GROUP BY 1),
m AS (SELECT event_type, n, s1, s2,
        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2
      FROM agg)
SELECT event_type, n,
       sqrt(r2 - mean * mean) AS sd,
       mean,
       (sqrt(r2 - mean * mean) - mean)
         / (sqrt(r2 - mean * mean) + mean) AS burstiness
FROM m
""")
def stream_gap_burstiness(spark, sf):
    # Streaming twin of events_burstiness_index (shares its oracle
    # VERBATIM): the per-type gap tracker runs as
    # applyInPandasWithState carrying FIVE int64s of state — last
    # (ms, event_id) + the gap count and first two raw moments
    # (streaming/stateful.py::gap_stats_stateful). Emissions are
    # monotone, so the MAX-per-type rollup equals the batch lead()
    # aggregate at any micro-batch slicing; the burstiness doubles
    # are computed AFTER the rollup through the identical staged
    # expressions (one mean, one raw second moment, one IEEE-exact
    # sqrt), so the streaming entry hash-pairs with the batch twin's
    # SQL bit-for-bit.
    from yougile_etl_pipeline_spark.streaming.stateful import (
        run_gap_stats_available_now,
    )

    parts = run_gap_stats_available_now(
        spark, sf, table_name="stream_gap_stats_r15")
    agg = (parts.groupBy("event_type")
           .agg(F.max("n").cast("bigint").alias("n"),
                F.max("s1").cast("bigint").alias("s1"),
                F.max("s2").cast("bigint").alias("s2")))
    m = agg.select(
        "event_type", "n",
        F.expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)").alias("mean"),
        F.expr("CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)").alias("r2"))
    return m.select(
        "event_type", "n",
        F.expr("sqrt(r2 - mean * mean)").alias("sd"),
        "mean",
        F.expr("(sqrt(r2 - mean * mean) - mean) "
               "/ (sqrt(r2 - mean * mean) + mean)").alias("burstiness"))


# ---------------------------------------------------------------------------
# Token-level dedup shrinkage rollup (post-trio staged addition)
# ---------------------------------------------------------------------------

@register("text_dup_span_shrinkage", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
ex AS (
  SELECT doc_id, s,
         md5(array_to_string(toks[s:s+4], ' ')) AS fp
  FROM t, LATERAL (SELECT unnest(range(1,
           greatest(len(toks) - 5 + 1, 0) + 1)) AS s) ls),
debut AS (SELECT fp, min(doc_id) AS d0 FROM ex GROUP BY 1),
cov AS (
  SELECT doc_id, CAST(len(list_distinct(flatten(list(pr)))) AS BIGINT)
           AS n_removed
  FROM (
    SELECT e.doc_id,
           list_transform(range(e.s, e.s + 5), x -> x) AS pr
    FROM ex e JOIN debut d USING (fp)
    WHERE d.d0 < e.doc_id)
  GROUP BY 1),
per AS (
  SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         CAST(COALESCE(cov.n_removed, 0) AS BIGINT) AS n_removed
  FROM t LEFT JOIN cov USING (doc_id))
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_before,
       CAST(SUM(n_tokens - n_removed) AS BIGINT) AS tokens_after,
       CAST(count_if(n_removed > 0) AS BIGINT) AS docs_touched,
       CAST(SUM(n_removed) * 1000000 // SUM(n_tokens) AS BIGINT)
         AS removed_ppm
FROM per
""")
def text_dup_span_shrinkage(spark, sf):
    # The corpus-level readout of exact-substring dedup: how many
    # tokens the Lee-et-al removal would delete (the token-level
    # complement of corpus_dedup_rate_report's doc-level shares) —
    # the single inflation number a data-mix owner quotes when
    # deciding whether span-level dedup is worth a pass. Composes the
    # certified dup_span_removal lineage (same n=5, parallelism
    # guard, shared gram-stream persist) and rolls it up to one row;
    # the SQL twin restates the debut-join shape independently.
    from yougile_etl_pipeline_spark.operators.text import (
        dup_span_removal,
    )

    per = dup_span_removal(load_table(spark, sf, "documents"), n=5)
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("tokens_before"),
        F.sum(F.col("n_tokens") - F.col("n_removed")).cast("bigint")
        .alias("tokens_after"),
        F.count_if(F.col("n_removed") > 0).cast("bigint")
        .alias("docs_touched"),
        F.expr("CAST(SUM(n_removed) * 1000000 div SUM(n_tokens) "
               "AS BIGINT)").alias("removed_ppm"))
