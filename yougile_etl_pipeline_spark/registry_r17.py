"""Round-17 query registrations — the one staged bank.

registry.py does not import this module, so the driver's query set
stays at 430. Importing it appends its entries after every other
query; ``list(QUERIES)[:50]`` (registry.WINDOW) does not move. Every
entry carries its DuckDB oracle, proven bit-identical at sf0.001 AND
sf0.01 by scripts/check_staged.py, and a recorded sf0.1 wall time
(bench.py's `staged` block runs R17_ENTRIES).

NO media entries in this bank (the media completion boundary declared
in COVERAGE.md §E4 holds; the new-entry budget goes to LLM-pipeline
depth). Per VERDICT r15 #4 the bank LEADS with the end-to-end
training-mix capstone (`train_corpus_build`) that chains the
certified pieces in ONE lineage: near-dup canonicalization
(dedup_quality_canonical's survivor policy) → benchmark
decontamination (minhash_decontam, benchmark-as-set) → quality gates
(quality_rule_attribution's rule set) → largest-remainder
apportionment (train_token_apportionment's algorithm over a real
token budget) → greedy packed selection with per (lang, source)
token accounting — the LLM-pipeline analogue of `mart_flagship`,
oracle-paired end to end.

tests/test_registry_r17_staged.py imports this module in a
SUBPROCESS and verifies every entry registers with an oracle and runs
green at sf0.001. Tests that need an r17 entry in-process must
snapshot/restore QUERIES/ORACLES or run in a subprocess: an in-process
import appends to the global registry for the rest of the session.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from yougile_etl_pipeline_spark.operators import caching
from yougile_etl_pipeline_spark.registry_base import register
from yougile_etl_pipeline_spark.registry_ext import _MH_MINS, _shingles_sql
from yougile_etl_pipeline_spark.registry_r16 import _mh_bands_sql
from yougile_etl_pipeline_spark.sources.tables import load_table

# The corpus-build capstone and its funnel readout share the canon +
# gated relations, the decontam readouts share the lens outputs, and the
# two cluster entries share the ranked component relation. They go
# through the NAMED lookup of the reuse cache (caching.shared), keyed
# by (sf dir, stage name): connected_components localCheckpoints its
# frontier, so two builds of the "same" lineage carry different
# checkpoint RDD ids and never compare semantically equal. At cluster
# scale these are the staging tables the pipeline writes between stages.


# Recursive-CTE connected components over the (8,4) MinHash-LSH pair
# graph of a document relation named `{src}` — the twin of
# minhash_lsh_pairs + graph.connected_components. Small-data oracle:
# the recursion is fine at certification SFs; the ENGINE side is the
# O(log d) pointer-jumping implementation.
def _cc_sql(src: str = "documents") -> str:
    return f"""
ex AS (
  SELECT doc_id AS doc, unnest({_shingles_sql()}) AS sh FROM {src}
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
  SELECT doc_id, doc_id FROM {src}
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
), comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)"""


# The quality-gate predicate pair (engine + SQL) shared by the
# corpus-build entries and quality_rule_overlap — the
# quality_rule_attribution rule set: short (< 8 tokens), repetitive
# (top token share > 0.2 exact ppm), longtok (mean token length > 9
# via the separator identity nc − (n_tok − 1) > 9·n_tok).
_GATE_SQL = ("NOT (len(t) < 8) "
             "AND NOT (top_cnt * 1000000 // len(t) > 200000) "
             "AND NOT ((nc - (len(t) - 1)) > 9 * len(t))")


def _bench_pred():
    return F.col("source").isin("src0", "src1")


# Shared decontam CTE block: bench-as-set signatures + banded buckets
# of a train-side relation named `{train_src}` (must expose doc_id,
# text) → `contam(doc)`.
def _decontam_sql(train_src: str) -> str:
    return f"""
bdocs AS (
  SELECT min(doc_id) AS doc, text FROM documents
  WHERE source IN ('src0', 'src1') GROUP BY text
), bex AS (
  SELECT doc, unnest({_shingles_sql()}) AS sh FROM bdocs
), bsig AS (SELECT doc, {_MH_MINS} FROM bex GROUP BY doc),
csig AS (SELECT doc, {_MH_MINS}
         FROM (SELECT doc_id AS doc,
                      unnest({_shingles_sql()}) AS sh FROM {train_src})
         GROUP BY doc),
tbk AS ({_mh_bands_sql(4, 'csig')}),
bbk AS ({_mh_bands_sql(4, 'bsig', doc_alias='bench_doc')}),
contam AS (SELECT DISTINCT doc FROM tbk JOIN bbk USING (band, key))"""


# Shared SQL from train → canon → clean → gated (the capstone funnel's
# first four stages), used by both corpus-build entries.
_BUILD_PREFIX_SQL = f"""
train AS (
  SELECT doc_id, lang, source, text, n_chars FROM documents
  WHERE source NOT IN ('src0', 'src1')),
{_cc_sql('train')},
canon AS (
  SELECT doc_id, lang, source, text FROM (
    SELECT d.*, row_number() OVER (
        PARTITION BY c.component
        ORDER BY d.n_chars DESC, d.doc_id) AS rn
    FROM train d JOIN comp c ON c.node = d.doc_id)
  WHERE rn = 1),
{_decontam_sql('canon')},
clean AS (
  SELECT * FROM canon WHERE doc_id NOT IN (SELECT doc FROM contam)),
qbase AS (
  SELECT doc_id, lang, source, string_split(text, ' ') AS t,
         length(text) AS nc
  FROM clean),
qtop AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_cnt FROM (
    SELECT doc_id, tok, count(*) AS c FROM (
      SELECT doc_id, unnest(t) AS tok FROM qbase) GROUP BY 1, 2)
  GROUP BY 1),
gated AS (
  SELECT b.doc_id, lang, source, CAST(len(t) AS BIGINT) AS n_tokens
  FROM qbase b JOIN qtop USING (doc_id)
  WHERE {_GATE_SQL}),
per_lang AS (
  SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens
  FROM gated GROUP BY 1),
tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS t,
               CAST(SUM(lang_tokens) // 2 AS BIGINT) AS b
        FROM per_lang),
basea AS (
  SELECT lang, lang_tokens,
         CAST(lang_tokens * b // t AS BIGINT) AS floor_quota,
         CAST(lang_tokens * b % t AS BIGINT) AS remainder, b
  FROM per_lang CROSS JOIN tot),
short AS (
  SELECT CAST(max(b) - SUM(floor_quota) AS BIGINT) AS k FROM basea),
quota AS (
  SELECT lang,
         CAST(CASE WHEN rnk <= k THEN floor_quota + 1
              ELSE floor_quota END AS BIGINT) AS quota
  FROM (SELECT *, row_number() OVER
          (ORDER BY remainder DESC, lang) AS rnk
        FROM basea) CROSS JOIN short),
packed AS (
  SELECT g.lang, g.source, g.n_tokens, q.quota,
         CAST(SUM(g.n_tokens) OVER (
           PARTITION BY g.lang
           ORDER BY g.n_tokens DESC, g.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum
  FROM gated g JOIN quota q USING (lang))"""


# --- shared engine lineages -------------------------------------------------

def _corpus_stages(spark, sf):
    """train → canon (persisted) → clean → gated (persisted): the
    capstone's first four stages, shared by train_corpus_build and
    train_build_funnel through the plan-keyed cache. Stage semantics:

    - canon: per MinHash-LSH near-dup cluster keep the HIGHEST-QUALITY
      member (n_chars desc, doc_id tie-break) — dedup_quality_canonical's
      survivor policy (registry_r16.py), here over the train split;
    - clean: drop survivors band-colliding with the benchmark set
      (operators/dedup.py::minhash_decontam, benchmark-as-set);
    - gated: keep docs passing the quality_rule_attribution rule set.

    Scale shape: every stage is a certified piece — banded equi-join
    candidates (never all-pairs), O(log d) pointer-jumping components,
    a broadcast bench bucket relation (train is never shuffled by
    decontam), one (doc, token) partial agg for the gate. canon and
    gated are shared persisted relations (caching.shared) — the
    local-mode stand-in for the staging tables a 100 TB pipeline
    would write between stages."""
    from yougile_etl_pipeline_spark.operators.dedup import (
        minhash_decontam,
        minhash_lsh_pairs,
    )
    from yougile_etl_pipeline_spark.operators.graph import (
        connected_components,
    )
    from yougile_etl_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf, "documents")
    train = docs.filter(~_bench_pred())
    bench = docs.filter(_bench_pred())

    def build_canon():
        pairs = minhash_lsh_pairs(train, "doc_id", "text",
                                  n_hashes=8, bands=4)
        comp = connected_components(pairs, train.select("doc_id"),
                                    src="doc_a", dst="doc_b",
                                    node_col="doc_id")
        joined = train.select("doc_id", "lang", "source", "text",
                              "n_chars").join(
            comp.select(F.col("node").alias("doc_id"), "component"),
            "doc_id")
        w = Window.partitionBy("component")
        return (joined
                .withColumn("rn", F.row_number().over(
                    w.orderBy(F.col("n_chars").desc(), F.col("doc_id"))))
                .filter(F.col("rn") == 1)
                .drop("rn", "component"))

    canon = caching.shared(spark, (sf, "build_canon"), build_canon)
    # r17 note: persisting `clean` itself was measured and rejected
    # (funnel 1.42→1.50 s, no consumer wins) — the expensive half of
    # the decontam stage is the canon-side signature, which already
    # rides the shared signature persist inside minhash_decontam;
    # the remaining anti-join is cheaper than materializing clean.
    contam = minhash_decontam(canon, bench, "doc_id", "text")
    clean = canon.join(contam.select("doc_id"), "doc_id", "left_anti")

    def build_gated():
        base = clean.select("doc_id", "lang", "source",
                            tokens("text").alias("t"),
                            F.length("text").alias("nc"))
        top = (base.select("doc_id", F.explode("t").alias("tok"))
                   .groupBy("doc_id", "tok")
                   .agg(F.count(F.lit(1)).alias("c"))
                   .groupBy("doc_id")
                   .agg(F.max("c").cast("bigint").alias("top_cnt")))
        return (base.join(top, "doc_id")
                .filter(~(F.size("t") < 8)
                        & ~(F.expr("top_cnt * 1000000 div size(t)")
                            > 200000)
                        & ~((F.col("nc") - (F.size("t") - 1))
                            > 9 * F.size("t")))
                .select("doc_id", "lang", "source",
                        F.size("t").cast("bigint").alias("n_tokens")))

    gated = caching.shared(spark, (sf, "build_gated"), build_gated)
    return train, canon, clean, gated


def _apportion_and_pack(gated):
    """Largest-remainder apportionment of B = Σtokens div 2 across
    languages (train_token_apportionment's exact Hamilton algorithm,
    here over a REAL token budget) + greedy longest-first packing per
    language under its quota. Returns the gated relation with
    (quota, cum, selected) attached. All BIGINT; the per-lang relation
    is |langs| rows, so the quota side rides one-row-scale broadcasts;
    the prefix sum is one lang-keyed window."""
    per_lang = gated.groupBy("lang").agg(
        F.sum("n_tokens").cast("bigint").alias("lang_tokens"))
    tot = (per_lang.agg(F.sum("lang_tokens").cast("bigint").alias("t"))
           .select("t", F.expr("t div 2").cast("bigint").alias("b")))
    base = (per_lang.crossJoin(F.broadcast(tot))
            .select("lang", "lang_tokens",
                    F.expr("lang_tokens * b div t").cast("bigint")
                     .alias("floor_quota"),
                    F.expr("lang_tokens * b % t").cast("bigint")
                     .alias("remainder"),
                    "b"))
    short = base.agg(
        (F.max("b") - F.sum("floor_quota")).cast("bigint").alias("k"))
    wq = Window.orderBy(F.col("remainder").desc(), F.col("lang"))
    quota = (base.withColumn("rnk", F.row_number().over(wq))
             .crossJoin(F.broadcast(short))
             .select("lang",
                     F.when(F.col("rnk") <= F.col("k"),
                            F.col("floor_quota") + 1)
                      .otherwise(F.col("floor_quota")).cast("bigint")
                      .alias("quota")))
    wp = (Window.partitionBy("lang")
          .orderBy(F.col("n_tokens").desc(), F.col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (gated
            .withColumn("cum", F.sum("n_tokens").over(wp).cast("bigint"))
            .join(quota, "lang")
            .withColumn("selected", F.col("cum") <= F.col("quota")))


def _decontam_lenses(spark, sf):
    """Shared decontamination lens outputs over the train/bench split
    — memoized persisted relations (r17, VERDICT r16 #2: the staged
    readouts band-margin, lens-agreement and per-source ppm each
    re-ran the full 8-gram explode and the MinHash banding per entry).
    Both outputs are TINY (one row per flagged doc), so the persists
    cost ~nothing while the expensive train-side passes run once per
    session. Returns (train, ngram_hits, mh_hits)."""
    from yougile_etl_pipeline_spark.operators.dedup import (
        minhash_decontam,
    )
    from yougile_etl_pipeline_spark.operators.text import (
        ngram_contamination,
    )

    docs = load_table(spark, sf, "documents")
    train = docs.filter(~_bench_pred())
    bench = docs.filter(_bench_pred())
    ng = caching.shared(spark, (sf, "decontam_ngram_hits"),
                        lambda: ngram_contamination(train, bench, n=8))
    mh = caching.shared(spark, (sf, "decontam_mh_hits"),
                        lambda: minhash_decontam(train, bench,
                                                 "doc_id", "text"))
    return train, ng, mh


def _doc_clusters(spark, sf):
    """Full-corpus MinHash-LSH components with the quality-survivor
    ranking and exact token counts — a memoized persisted relation
    (shared by dedup_cluster_profile and dedup_token_savings through
    the named lookup of the reuse cache)."""
    from yougile_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from yougile_etl_pipeline_spark.operators.graph import (
        connected_components,
    )
    from yougile_etl_pipeline_spark.operators.text import tokens

    def build():
        docs = load_table(spark, sf, "documents")
        pairs = minhash_lsh_pairs(docs, "doc_id", "text",
                                  n_hashes=8, bands=4)
        comp = connected_components(pairs, docs.select("doc_id"),
                                    src="doc_a", dst="doc_b",
                                    node_col="doc_id")
        joined = (docs.select("doc_id", "lang", "source", "n_chars",
                              F.size(tokens("text")).cast("bigint")
                              .alias("n_tokens"))
                  .join(comp.select(F.col("node").alias("doc_id"),
                                    "component"), "doc_id"))
        w = Window.partitionBy("component")
        return joined.withColumn(
            "rn", F.row_number().over(
                w.orderBy(F.col("n_chars").desc(), F.col("doc_id"))))

    return caching.shared(spark, (sf, "doc_clusters"), build)


# ---------------------------------------------------------------------------
# 1. THE CAPSTONE: end-to-end training-mix build (VERDICT r15 #4)
# ---------------------------------------------------------------------------

@register("train_corpus_build", f"""
WITH RECURSIVE
{_BUILD_PREFIX_SQL}
SELECT lang, source,
       CAST(max(quota) AS BIGINT) AS lang_quota,
       CAST(count(*) AS BIGINT) AS n_docs_gated,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_gated,
       CAST(SUM(CASE WHEN cum <= quota THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_selected,
       CAST(SUM(CASE WHEN cum <= quota THEN n_tokens ELSE 0 END)
            AS BIGINT) AS tokens_selected
FROM packed GROUP BY 1, 2
""")
def train_corpus_build(spark, sf):
    # The LLM-pipeline analogue of mart_flagship: ONE lazy lineage
    # chaining five certified stages — near-dup canonicalization
    # (survivor = highest quality), benchmark decontamination
    # (minhash, benchmark-as-set), quality gating (the
    # rule-attribution rule set), largest-remainder token
    # apportionment (B = half the gated tokens), greedy longest-first
    # packing per language — emitting the per (lang, source) token
    # accounting a training-mix manifest needs. Every number is an
    # exact BIGINT. Scale: the only corpus-sized shuffles are the
    # banded-LSH candidate join, the component join and one (doc,
    # token) gate agg — each individually certified; apportionment
    # and quotas live at |langs| scale on broadcasts.
    _train, _canon, _clean, gated = _corpus_stages(spark, sf)
    packed = _apportion_and_pack(gated)
    return (packed.groupBy("lang", "source")
            .agg(F.max("quota").cast("bigint").alias("lang_quota"),
                 F.count(F.lit(1)).cast("bigint").alias("n_docs_gated"),
                 F.sum("n_tokens").cast("bigint").alias("tokens_gated"),
                 F.sum(F.when(F.col("selected"), 1).otherwise(0))
                  .cast("bigint").alias("n_docs_selected"),
                 F.sum(F.when(F.col("selected"), F.col("n_tokens"))
                        .otherwise(0)).cast("bigint")
                  .alias("tokens_selected")))


# ---------------------------------------------------------------------------
# 2. Funnel readout of the same build (stage-by-stage attrition)
# ---------------------------------------------------------------------------

@register("train_build_funnel", f"""
WITH RECURSIVE
{_BUILD_PREFIX_SQL},
sel AS (SELECT lang, n_tokens FROM packed WHERE cum <= quota)
SELECT '1_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
FROM train
UNION ALL
SELECT '2_canonical', CAST(count(*) AS BIGINT),
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) FROM canon
UNION ALL
SELECT '3_decontaminated', CAST(count(*) AS BIGINT),
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) FROM clean
UNION ALL
SELECT '4_quality_gated', CAST(count(*) AS BIGINT),
       CAST(SUM(n_tokens) AS BIGINT) FROM gated
UNION ALL
SELECT '5_selected', CAST(count(*) AS BIGINT),
       CAST(SUM(n_tokens) AS BIGINT) FROM sel
""")
def train_build_funnel(spark, sf):
    # Stage-by-stage doc/token attrition through the capstone build —
    # the readout a pipeline owner checks before blaming a stage for
    # over- or under-pruning. Shares the capstone's canon + gated
    # persists through the plan-keyed cache, so building both (the
    # bench order) pays the LSH + components lineage once; the five
    # stage aggregates are map-side collapsible one-row scans.
    train, canon, clean, gated = _corpus_stages(spark, sf)
    packed = _apportion_and_pack(gated)

    def stage(df, name, tok_expr):
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(tok_expr).cast("bigint").alias("n_tokens"))

    toks_of_text = F.size(F.split(F.col("text"), " ")).cast("bigint")
    return (stage(train, "1_raw", toks_of_text)
            .unionByName(stage(canon, "2_canonical", toks_of_text))
            .unionByName(stage(clean, "3_decontaminated", toks_of_text))
            .unionByName(stage(gated, "4_quality_gated",
                               F.col("n_tokens")))
            .unionByName(stage(packed.filter(F.col("selected")),
                               "5_selected", F.col("n_tokens"))))


# ---------------------------------------------------------------------------
# 3. Decontamination lens agreement (exact 8-gram vs MinHash banding)
# ---------------------------------------------------------------------------

@register("decontam_lens_agreement", f"""
WITH train AS (
  SELECT doc_id, text FROM documents
  WHERE source NOT IN ('src0', 'src1')),
tg AS (
  SELECT doc_id, unnest({_shingles_sql("text", 8)}) AS g FROM train),
bg AS (
  SELECT DISTINCT unnest({_shingles_sql("text", 8)}) AS g
  FROM documents WHERE source IN ('src0', 'src1')),
ng AS (SELECT DISTINCT doc_id FROM tg JOIN bg USING (g)),
{_decontam_sql('train').lstrip()},
mh AS (SELECT DISTINCT doc AS doc_id FROM contam),
flags AS (
  SELECT t.doc_id,
         t.doc_id IN (SELECT doc_id FROM ng) AS f_ng,
         t.doc_id IN (SELECT doc_id FROM mh) AS f_mh
  FROM train t),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN f_ng AND f_mh THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN f_ng AND NOT f_mh THEN 1 ELSE 0 END) AS BIGINT)
      AS n_only,
    CAST(SUM(CASE WHEN f_mh AND NOT f_ng THEN 1 ELSE 0 END) AS BIGINT)
      AS m_only,
    CAST(SUM(CASE WHEN NOT f_ng AND NOT f_mh THEN 1 ELSE 0 END)
         AS BIGINT) AS nei
  FROM flags)
SELECT 'both' AS lens, b AS n_docs FROM agg
UNION ALL SELECT 'ngram_only', n_only FROM agg
UNION ALL SELECT 'minhash_only', m_only FROM agg
UNION ALL SELECT 'neither', nei FROM agg
""")
def decontam_lens_agreement(spark, sf):
    # 2x2 agreement between the two certified decontamination lenses
    # (exact 8-gram overlap vs MinHash banding) — the calibration
    # readout for "is the fuzzy lens adding recall or just noise":
    # minhash_only counts the paraphrase-shifted docs only banding
    # catches; ngram_only the short verbatim quotes below the shingle
    # signal. Both lenses broadcast the benchmark side; the train
    # corpus is scanned twice map-side and shuffled only for the
    # (rare) hits and the final four-cell conditional aggregate.
    # r17: both lens outputs ride the _decontam_lenses memoized
    # persists shared with the band-margin and per-source readouts.
    train, ng_hits, mh_hits = _decontam_lenses(spark, sf)
    ng = ng_hits.select("doc_id", F.lit(True).alias("f_ng"))
    mh = mh_hits.select("doc_id", F.lit(True).alias("f_mh"))
    flags = (train.select("doc_id")
             .join(ng, "doc_id", "left")
             .join(mh, "doc_id", "left")
             .select(F.coalesce("f_ng", F.lit(False)).alias("f_ng"),
                     F.coalesce("f_mh", F.lit(False)).alias("f_mh")))

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    ngc, mhc = F.col("f_ng"), F.col("f_mh")
    agg = flags.agg(cnt(ngc & mhc).alias("b"),
                    cnt(ngc & ~mhc).alias("n_only"),
                    cnt(~ngc & mhc).alias("m_only"),
                    cnt(~ngc & ~mhc).alias("nei"))
    return agg.selectExpr(
        "stack(4, 'both', b, 'ngram_only', n_only, "
        "'minhash_only', m_only, 'neither', nei) AS (lens, n_docs)")


# ---------------------------------------------------------------------------
# 4. Contamination strength histogram (band-agreement margin)
# ---------------------------------------------------------------------------

@register("decontam_band_margin", f"""
WITH tex AS (
  SELECT doc_id AS doc, unnest({_shingles_sql()}) AS sh
  FROM documents WHERE source NOT IN ('src0', 'src1')),
tsig AS (SELECT doc, {_MH_MINS} FROM tex GROUP BY doc),
bdocs AS (
  SELECT min(doc_id) AS doc, text FROM documents
  WHERE source IN ('src0', 'src1') GROUP BY text),
bex AS (SELECT doc, unnest({_shingles_sql()}) AS sh FROM bdocs),
bsig AS (SELECT doc, {_MH_MINS} FROM bex GROUP BY doc),
tbk AS ({_mh_bands_sql(4, 'tsig')}),
bbk AS ({_mh_bands_sql(4, 'bsig', doc_alias='bench_doc')}),
hits AS (
  SELECT doc, bench_doc, CAST(count(*) AS BIGINT) AS n_bands
  FROM tbk JOIN bbk USING (band, key) GROUP BY 1, 2),
per_doc AS (
  SELECT doc, CAST(count(*) AS BIGINT) AS n_bench_docs,
         CAST(max(n_bands) AS BIGINT) AS max_bands
  FROM hits GROUP BY 1)
SELECT max_bands, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bench_docs) AS BIGINT) AS total_bench_matches
FROM per_doc GROUP BY 1
""")
def decontam_band_margin(spark, sf):
    # How STRONG the flagged contamination is: histogram of the
    # per-doc max band agreement from minhash_decontam (max_bands = 4
    # ≈ near-verbatim; 1 = borderline collision) — the threshold-
    # setting readout before anyone drops flagged docs wholesale.
    # Same broadcast-bench plan as decontam_minhash plus one
    # hits-scale histogram aggregate. r17: the hits relation rides the
    # _decontam_lenses memoized persist shared with the agreement and
    # per-source readouts.
    _train, _ng, hits = _decontam_lenses(spark, sf)
    return (hits.groupBy("max_bands")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_bench_docs").cast("bigint")
                  .alias("total_bench_matches")))


# ---------------------------------------------------------------------------
# 5. Near-dup cluster profile (size-banded anatomy)
# ---------------------------------------------------------------------------

@register("dedup_cluster_profile", f"""
WITH RECURSIVE {_cc_sql('documents').lstrip()},
j AS (
  SELECT d.doc_id, d.source, d.n_chars,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         c.component,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, d.doc_id) AS rn
  FROM documents d JOIN comp c ON c.node = d.doc_id),
per_cluster AS (
  SELECT component,
         CAST(count(*) AS BIGINT) AS cluster_size,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(SUM(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
           AS survivor_tokens,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
  FROM j GROUP BY 1)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(SUM(total_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(survivor_tokens) AS BIGINT) AS survivor_tokens,
       CAST(SUM(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS cross_source_clusters
FROM per_cluster GROUP BY 1
""")
def dedup_cluster_profile(spark, sf):
    # Anatomy of the near-dup graph by cluster size: how many
    # clusters, how many tokens they hold vs what the quality
    # survivor keeps, and how many span sources (cross-source
    # clusters = syndication, not re-crawls). Shares the persisted
    # ranked-components relation with dedup_token_savings; the
    # banded-LSH candidate join never materializes all-pairs.
    ranked = _doc_clusters(spark, sf)
    per_cluster = ranked.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_tokens")).otherwise(0))
         .cast("bigint").alias("survivor_tokens"),
        F.countDistinct("source").cast("bigint").alias("n_sources"))
    return (per_cluster.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
                 F.sum("total_tokens").cast("bigint")
                  .alias("total_tokens"),
                 F.sum("survivor_tokens").cast("bigint")
                  .alias("survivor_tokens"),
                 F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0))
                  .cast("bigint").alias("cross_source_clusters")))


# ---------------------------------------------------------------------------
# 6. Dedup token savings by language
# ---------------------------------------------------------------------------

@register("dedup_token_savings", f"""
WITH RECURSIVE {_cc_sql('documents').lstrip()},
j AS (
  SELECT d.doc_id, d.lang,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, d.doc_id) AS rn
  FROM documents d JOIN comp c ON c.node = d.doc_id)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
         AS survivor_tokens,
       CAST((SUM(n_tokens) - SUM(CASE WHEN rn = 1 THEN n_tokens
                                  ELSE 0 END)) * 1000000
            // SUM(n_tokens) AS BIGINT) AS saved_ppm
FROM j GROUP BY 1
""")
def dedup_token_savings(spark, sf):
    # Per-language answer to "what does near-dup dedup buy us":
    # total vs quality-survivor tokens and the exact-ppm saving —
    # the number that justifies (or kills) the dedup stage per
    # language. Shares the persisted ranked-components relation with
    # dedup_cluster_profile (plan-keyed cache).
    ranked = _doc_clusters(spark, sf)
    return (ranked.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("total_tokens"),
                 F.sum(F.when(F.col("rn") == 1, F.col("n_tokens"))
                        .otherwise(0)).cast("bigint")
                  .alias("survivor_tokens"))
            .select("lang", "n_docs", "total_tokens", "survivor_tokens",
                    F.expr("(total_tokens - survivor_tokens) * 1000000 "
                           "div total_tokens").cast("bigint")
                     .alias("saved_ppm")))


# ---------------------------------------------------------------------------
# 7. Duplicated-prefix families (truncation / re-crawl lens)
# ---------------------------------------------------------------------------

@register("dedup_prefix_families", """
WITH pref AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         md5(array_to_string(string_split(text, ' ')[1:16], ' ')) AS pfp
  FROM documents
  WHERE len(string_split(text, ' ')) >= 16),
fam AS (
  SELECT pfp, CAST(count(*) AS BIGINT) AS family_size,
         CAST(SUM(n_tokens) AS BIGINT) AS family_tokens,
         CAST(max(n_tokens) AS BIGINT) AS longest,
         CAST(min(n_tokens) AS BIGINT) AS shortest
  FROM pref GROUP BY 1)
SELECT family_size,
       CAST(count(*) AS BIGINT) AS n_families,
       CAST(SUM(family_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(longest - shortest) AS BIGINT) AS length_spread_tokens
FROM fam WHERE family_size >= 2 GROUP BY 1
""")
def dedup_prefix_families(spark, sf):
    # Shared-prefix families: docs (≥ 16 tokens) whose first 16
    # tokens md5-collide — the truncation/re-crawl lens whole-doc
    # MinHash under-weights (a full page and its truncated first
    # fetch share a prefix but diverge in shingle mass). A 16-byte
    # fingerprint groupBy — the dedup_exact scale shape: bodies are
    # never shuffled, only (fp, n_tokens) pairs.
    from yougile_etl_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf, "documents")
    t = tokens("text")
    pref = (docs.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.slice(t, 1, 16))).alias("pfp"))
        .filter(F.col("n_tokens") >= 16))
    fam = pref.groupBy("pfp").agg(
        F.count(F.lit(1)).cast("bigint").alias("family_size"),
        F.sum("n_tokens").cast("bigint").alias("family_tokens"),
        F.max("n_tokens").cast("bigint").alias("longest"),
        F.min("n_tokens").cast("bigint").alias("shortest"))
    return (fam.filter(F.col("family_size") >= 2)
            .groupBy("family_size")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_families"),
                 F.sum("family_tokens").cast("bigint")
                  .alias("total_tokens"),
                 F.sum(F.col("longest") - F.col("shortest"))
                  .cast("bigint").alias("length_spread_tokens")))


# ---------------------------------------------------------------------------
# 8. Shard-assignment token skew audit
# ---------------------------------------------------------------------------

@register("corpus_shard_skew", """
WITH sh AS (
  SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 32 AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
per AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
  FROM sh GROUP BY 1),
tot AS (SELECT CAST(SUM(shard_tokens) AS BIGINT) AS t FROM per)
SELECT CAST(shard AS BIGINT) AS shard, n_docs, shard_tokens,
       CAST(shard_tokens * 32 * 1000000 // t AS BIGINT)
         AS share_of_ideal_ppm
FROM per CROSS JOIN tot
""")
def corpus_shard_skew(spark, sf):
    # Token skew of a hash-sharded layout (32 shards off the doc-id
    # md5 — the portable-hash rule, since engine hash() functions
    # differ): per-shard doc/token counts and each shard's share of
    # the ideal equal split in exact ppm. The pre-flight audit for
    # "will shard 17 straggle" — at 100 TB the same two aggregates
    # run over the shard manifest instead of the corpus.
    from yougile_etl_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf, "documents")
    sh = docs.select(
        F.expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), "
               "16, 10) AS BIGINT) % 32").alias("shard"),
        F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    per = sh.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"))
    tot = per.agg(F.sum("shard_tokens").cast("bigint").alias("t"))
    return (per.crossJoin(F.broadcast(tot))
            .select(F.col("shard").cast("bigint").alias("shard"),
                    "n_docs", "shard_tokens",
                    F.expr("shard_tokens * 32 * 1000000 div t")
                     .cast("bigint").alias("share_of_ideal_ppm")))


# ---------------------------------------------------------------------------
# 9. Quality-rule pairwise overlap (complement of the sole-kill readout)
# ---------------------------------------------------------------------------

@register("quality_rule_overlap", """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS t, length(text) AS nc
  FROM documents),
top AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_cnt FROM (
    SELECT doc_id, tok, count(*) AS c FROM (
      SELECT doc_id, unnest(t) AS tok FROM base) GROUP BY 1, 2)
  GROUP BY 1),
flags AS (
  SELECT len(t) < 8 AS s,
         top_cnt * 1000000 // len(t) > 200000 AS r,
         (nc - (len(t) - 1)) > 9 * len(t) AS l
  FROM base JOIN top USING (doc_id)),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN s AND r THEN 1 ELSE 0 END) AS BIGINT) AS sr,
    CAST(SUM(CASE WHEN s AND l THEN 1 ELSE 0 END) AS BIGINT) AS sl,
    CAST(SUM(CASE WHEN r AND l THEN 1 ELSE 0 END) AS BIGINT) AS rl,
    CAST(SUM(CASE WHEN s AND r AND l THEN 1 ELSE 0 END) AS BIGINT)
      AS srl
  FROM flags)
SELECT 'short_rep' AS pair, sr AS n_docs FROM agg
UNION ALL SELECT 'short_long', sl FROM agg
UNION ALL SELECT 'rep_long', rl FROM agg
UNION ALL SELECT 'all_three', srl FROM agg
""")
def quality_rule_overlap(spark, sf):
    # Pairwise (and triple) overlap of the three quality gates —
    # quality_rule_attribution reports each rule's SOLE kills; this
    # reports the redundancy structure between them (a pair that
    # always co-fires is one rule in two costumes). Same exact
    # integer rule expressions, one conditional aggregate.
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
             .select((F.size("t") < 8).alias("s"),
                     (F.expr("top_cnt * 1000000 div size(t)") > 200000)
                     .alias("r"),
                     ((F.col("nc") - (F.size("t") - 1))
                      > 9 * F.size("t")).alias("l")))

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    s, r, ln = F.col("s"), F.col("r"), F.col("l")
    agg = flags.agg(cnt(s & r).alias("sr"), cnt(s & ln).alias("sl"),
                    cnt(r & ln).alias("rl"),
                    cnt(s & r & ln).alias("srl"))
    return agg.selectExpr(
        "stack(4, 'short_rep', sr, 'short_long', sl, "
        "'rep_long', rl, 'all_three', srl) AS (pair, n_docs)")


# ---------------------------------------------------------------------------
# 10. Per-source vocabulary exclusivity
# ---------------------------------------------------------------------------

@register("text_source_vocab_overlap", """
WITH st AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
  FROM documents),
src_cnt AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n_src FROM st GROUP BY 1)
SELECT source, CAST(count(*) AS BIGINT) AS vocab,
       CAST(SUM(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS exclusive,
       CAST(SUM(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS exclusive_ppm
FROM st JOIN src_cnt USING (tok) GROUP BY 1
""")
def text_source_vocab_overlap(spark, sf):
    # Per-source vocabulary size and EXCLUSIVE vocabulary (tokens no
    # other source uses) — the diversity readout for mixture design:
    # a source whose vocabulary is wholly contained elsewhere adds
    # volume, not coverage. Two (token)-keyed partial aggs + one
    # join back on the distinct (source, token) relation; token
    # strings shuffle once, counts after.
    from yougile_etl_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf, "documents")
    st = (docs.select("source", F.explode(tokens("text")).alias("tok"))
              .distinct())
    src_cnt = st.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_src"))
    return (st.join(src_cnt, "tok")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("vocab"),
                 F.sum(F.when(F.col("n_src") == 1, 1).otherwise(0))
                  .cast("bigint").alias("exclusive"))
            .select("source", "vocab", "exclusive",
                    F.expr("exclusive * 1000000 div vocab")
                     .cast("bigint").alias("exclusive_ppm")))


# ---------------------------------------------------------------------------
# 11. Per-source contamination rates (both lenses, union ppm)
# ---------------------------------------------------------------------------

@register("quality_contamination_by_source", f"""
WITH train AS (
  SELECT doc_id, source, text FROM documents
  WHERE source NOT IN ('src0', 'src1')),
tg AS (
  SELECT doc_id, unnest({_shingles_sql("text", 8)}) AS g FROM train),
bg AS (
  SELECT DISTINCT unnest({_shingles_sql("text", 8)}) AS g
  FROM documents WHERE source IN ('src0', 'src1')),
ng AS (SELECT DISTINCT doc_id FROM tg JOIN bg USING (g)),
{_decontam_sql('train').lstrip()},
mh AS (SELECT DISTINCT doc AS doc_id FROM contam),
flags AS (
  SELECT t.source,
         t.doc_id IN (SELECT doc_id FROM ng) AS f_ng,
         t.doc_id IN (SELECT doc_id FROM mh) AS f_mh
  FROM train t)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN f_ng THEN 1 ELSE 0 END) AS BIGINT) AS n_ngram,
       CAST(SUM(CASE WHEN f_mh THEN 1 ELSE 0 END) AS BIGINT)
         AS n_minhash,
       CAST(SUM(CASE WHEN f_ng OR f_mh THEN 1 ELSE 0 END) AS BIGINT)
         AS n_union,
       CAST(SUM(CASE WHEN f_ng OR f_mh THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS contaminated_ppm
FROM flags GROUP BY 1
""")
def quality_contamination_by_source(spark, sf):
    # WHERE the leakage lives: per training source, docs flagged by
    # the exact-8-gram lens, the MinHash lens, and their union, in
    # exact ppm — the readout that turns "the corpus is 0.4%
    # contaminated" into "drop src7's scrape, it is 9% benchmark
    # text". Same broadcast-bench plans as the two certified lenses;
    # one source-keyed conditional aggregate on top. r17: both lens
    # outputs ride the _decontam_lenses memoized persists shared with
    # the band-margin and lens-agreement readouts.
    train, ng_hits, mh_hits = _decontam_lenses(spark, sf)
    ng = ng_hits.select("doc_id", F.lit(True).alias("f_ng"))
    mh = mh_hits.select("doc_id", F.lit(True).alias("f_mh"))
    flags = (train.select("doc_id", "source")
             .join(ng, "doc_id", "left")
             .join(mh, "doc_id", "left")
             .select("source",
                     F.coalesce("f_ng", F.lit(False)).alias("f_ng"),
                     F.coalesce("f_mh", F.lit(False)).alias("f_mh")))

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    return (flags.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 cnt(F.col("f_ng")).alias("n_ngram"),
                 cnt(F.col("f_mh")).alias("n_minhash"),
                 cnt(F.col("f_ng") | F.col("f_mh")).alias("n_union"))
            .select("source", "n_docs", "n_ngram", "n_minhash",
                    "n_union",
                    F.expr("n_union * 1000000 div n_docs")
                     .cast("bigint").alias("contaminated_ppm")))


# ---------------------------------------------------------------------------
# 12. Physical layout of the selected corpus (the capstone's write plan)
# ---------------------------------------------------------------------------

@register("train_selected_shard_manifest", f"""
WITH RECURSIVE
{_BUILD_PREFIX_SQL},
sel AS (
  SELECT lang,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 8 AS shard,
         n_tokens
  FROM (SELECT g.lang, g.doc_id, g.n_tokens, q.quota,
               CAST(SUM(g.n_tokens) OVER (
                 PARTITION BY g.lang
                 ORDER BY g.n_tokens DESC, g.doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
        FROM gated g JOIN quota q USING (lang))
  WHERE cum <= quota)
SELECT lang, CAST(shard AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM sel GROUP BY 1, 2
""")
def train_selected_shard_manifest(spark, sf):
    # The capstone's WRITE plan: the selected training mix hashed into
    # 8 per-language shards (portable md5 hash — engine hash()
    # functions differ) with per-shard doc/token counts — what the
    # writer would hand to a `partitionBy(lang, shard)` parquet job,
    # and what an auditor diffs against corpus_shard_skew to confirm
    # the selection did not concentrate tokens. Reuses the memoized
    # canon/gated relations; the only new work is one lang-keyed
    # window (already paid by the capstone when built together) and a
    # (lang, shard)-keyed aggregate.
    _train, _canon, _clean, gated = _corpus_stages(spark, sf)
    packed = _apportion_and_pack(gated)
    sh = packed.filter(F.col("selected")).select(
        "lang",
        F.expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), "
               "16, 10) AS BIGINT) % 8").alias("shard"),
        "n_tokens")
    return (sh.groupBy("lang", "shard")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("n_tokens"))
            .select("lang", F.col("shard").cast("bigint").alias("shard"),
                    "n_docs", "n_tokens"))


# ---------------------------------------------------------------------------
# 13. Embedding label-centroid purity (embedding-quality audit)
# ---------------------------------------------------------------------------

@register("emb_label_centroid_purity", """
WITH src AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
flat AS (
  SELECT label, CAST(t.i - 1 AS INTEGER) AS pos, vec[t.i] AS val
  FROM src, unnest(range(1, len(vec) + 1)) AS t(i)),
m AS (
  SELECT label, pos,
         CAST(SUM(CAST(val AS DECIMAL(20,9))) AS DOUBLE) / count(*)
           AS mean_val
  FROM flat GROUP BY 1, 2),
cent AS (
  SELECT label AS centroid_id,
         list(mean_val ORDER BY pos) AS cent_vec
  FROM m GROUP BY 1),
a AS (
  SELECT vec_id, label, centroid_id FROM (
    SELECT s.vec_id, s.label, c.centroid_id,
           row_number() OVER (
             PARTITION BY s.vec_id
             ORDER BY list_dot_product(s.vec, c.cent_vec) /
                      (sqrt(list_dot_product(s.vec, s.vec)) *
                       sqrt(list_dot_product(c.cent_vec, c.cent_vec)))
               DESC, c.centroid_id) AS rn
    FROM src s CROSS JOIN cent c)
  WHERE rn = 1)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN centroid_id = label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_own,
       CAST(SUM(CASE WHEN centroid_id = label THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS purity_ppm
FROM a GROUP BY 1
""")
def emb_label_centroid_purity(spark, sf):
    # Embedding-quality audit: per-label centroid (fixed-point
    # DECIMAL(20,9) per-dimension mean — kmeans_update's
    # partition-order-independent, engine-portable arithmetic), then
    # the fraction of vectors whose nearest centroid (cosine, label
    # tie-break — ivf_assign's broadcast argmax) is their OWN label,
    # in exact ppm. The standard "do the embeddings separate the
    # classes" readout a pipeline runs before trusting embedding-based
    # dedup/decontam. Scale shape: one (label, pos) partial aggregate
    # (∝ labels·dim after map-side combine, not corpus size), a
    # |labels|-row centroid broadcast, one label-keyed count — the
    # corpus is scanned once and its vectors are never shuffled.
    from yougile_etl_pipeline_spark.operators.similarity import (
        ivf_assign,
    )

    emb = load_table(spark, sf, "embeddings")
    flat = emb.select("label",
                      F.posexplode("embedding").alias("pos", "val"))
    n = F.count(F.lit(1))
    m = (flat.groupBy("label", "pos")
         .agg((F.sum(F.col("val").cast("double").cast("decimal(20,9)"))
                .cast("double") / n).alias("mean_val")))
    cent = (m.groupBy("label")
            .agg(F.array_sort(F.collect_list(
                F.struct("pos", "mean_val"))).alias("__s"))
            .select(F.col("label").alias("vec_id"),
                    F.transform("__s", lambda x: x["mean_val"])
                     .alias("embedding")))
    assign = ivf_assign(emb.select("vec_id", "embedding"), cent,
                        nprobe=1)
    own = F.sum(F.when(F.col("centroid_id") == F.col("label"), 1)
                 .otherwise(0)).cast("bigint")
    return (emb.select("vec_id", "label")
            .join(assign.select("vec_id", "centroid_id"), "vec_id")
            .groupBy("label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                 own.alias("n_own"))
            .select("label", "n_vecs", "n_own",
                    F.expr("n_own * 1000000 div n_vecs")
                     .cast("bigint").alias("purity_ppm")))


# ---------------------------------------------------------------------------
# 14. Token-budget sensitivity of the training mix (25/50/75%)
# ---------------------------------------------------------------------------

@register("train_quota_sensitivity", f"""
WITH RECURSIVE
{_BUILD_PREFIX_SQL},
g2 AS MATERIALIZED (SELECT lang, doc_id, n_tokens FROM gated),
pk AS (
  SELECT lang, n_tokens,
         CAST(SUM(n_tokens) OVER (
           PARTITION BY lang
           ORDER BY n_tokens DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum
  FROM g2),
pl AS (
  SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens
  FROM g2 GROUP BY 1),
tt AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS t FROM pl),
budgets AS (
  SELECT CAST(pct AS BIGINT) AS pct,
         CAST(t * pct // 100 AS BIGINT) AS b, t
  FROM tt, (SELECT unnest([25, 50, 75]) AS pct)),
sbase AS (
  SELECT pct, lang, lang_tokens, b,
         CAST(lang_tokens * b // t AS BIGINT) AS floor_quota,
         CAST(lang_tokens * b % t AS BIGINT) AS remainder
  FROM pl CROSS JOIN budgets),
sshort AS (
  SELECT pct, CAST(max(b) - SUM(floor_quota) AS BIGINT) AS k
  FROM sbase GROUP BY 1),
squota AS (
  SELECT pct, lang,
         CAST(CASE WHEN rnk <= k THEN floor_quota + 1
              ELSE floor_quota END AS BIGINT) AS quota
  FROM (SELECT *, row_number() OVER (
          PARTITION BY pct ORDER BY remainder DESC, lang) AS rnk
        FROM sbase) JOIN sshort USING (pct))
SELECT pct AS budget_pct, lang,
       CAST(max(q.quota) AS BIGINT) AS quota,
       CAST(SUM(CASE WHEN p.cum <= q.quota THEN 1 ELSE 0 END)
            AS BIGINT) AS n_selected,
       CAST(SUM(CASE WHEN p.cum <= q.quota THEN p.n_tokens ELSE 0 END)
            AS BIGINT) AS tokens_selected,
       CAST(CASE WHEN max(q.quota) = 0 THEN 0
            ELSE SUM(CASE WHEN p.cum <= q.quota THEN p.n_tokens
                     ELSE 0 END) * 1000000 // max(q.quota)
            END AS BIGINT) AS quota_fill_ppm
FROM pk p JOIN squota q USING (lang)
GROUP BY 1, 2
""")
def train_quota_sensitivity(spark, sf):
    # Budget-sweep of the capstone's apportionment: the SAME gated
    # corpus and the SAME greedy longest-first ranking, Hamilton-
    # apportioned at 25 / 50 / 75 % of the gated tokens — per
    # (budget, lang): quota, docs/tokens actually packed, and exact
    # quota-fill ppm. The planning readout ("what does the mix look
    # like if the budget doubles") a training-data team runs before
    # committing compute. Scale shape: the per-doc prefix sum (cum) is
    # budget-independent and computed ONCE (shared with the capstone
    # through the memoized gated relation); each budget arm adds only
    # a |langs|-row quota relation broadcast into one lang-keyed
    # conditional aggregate — 3 arms cost one fact-side scan, not 3.
    _train, _canon, _clean, gated = _corpus_stages(spark, sf)
    packed = _apportion_and_pack(gated)
    per_lang = gated.groupBy("lang").agg(
        F.sum("n_tokens").cast("bigint").alias("lang_tokens"))
    tot = per_lang.agg(F.sum("lang_tokens").cast("bigint").alias("t"))
    budgets = (tot.select(
        F.explode(F.array(F.lit(25), F.lit(50), F.lit(75)))
         .alias("pct"), "t")
        .select(F.col("pct").cast("bigint").alias("pct"),
                F.expr("t * pct div 100").cast("bigint").alias("b"),
                "t"))
    sbase = (per_lang.crossJoin(F.broadcast(budgets))
             .select("pct", "lang", "lang_tokens", "b",
                     F.expr("lang_tokens * b div t").cast("bigint")
                      .alias("floor_quota"),
                     F.expr("lang_tokens * b % t").cast("bigint")
                      .alias("remainder")))
    sshort = sbase.groupBy("pct").agg(
        (F.max("b") - F.sum("floor_quota")).cast("bigint").alias("k"))
    wq = Window.partitionBy("pct").orderBy(
        F.col("remainder").desc(), F.col("lang"))
    squota = (sbase.withColumn("rnk", F.row_number().over(wq))
              .join(F.broadcast(sshort), "pct")
              .select("pct", "lang",
                      F.when(F.col("rnk") <= F.col("k"),
                             F.col("floor_quota") + 1)
                       .otherwise(F.col("floor_quota")).cast("bigint")
                       .alias("quota")))
    sel = (packed.select("lang", "n_tokens", "cum")
           .join(F.broadcast(squota), "lang"))
    hit = F.col("cum") <= F.col("quota")
    return (sel.groupBy("pct", "lang")
            .agg(F.max("quota").cast("bigint").alias("quota"),
                 F.sum(F.when(hit, 1).otherwise(0)).cast("bigint")
                  .alias("n_selected"),
                 F.sum(F.when(hit, F.col("n_tokens")).otherwise(0))
                  .cast("bigint").alias("tokens_selected"))
            .select(F.col("pct").alias("budget_pct"), "lang", "quota",
                    "n_selected", "tokens_selected",
                    F.expr("CASE WHEN quota = 0 THEN 0 ELSE "
                           "tokens_selected * 1000000 div quota END")
                     .cast("bigint").alias("quota_fill_ppm")))


# Staged-entry manifest, in registration order (kept in sync by the
# bank's subprocess smoke: every name registered by importing this
# module must appear here, and vice versa). Also consumed by
# bench.py's `staged` block so every bank entry carries a wall time +
# plan fingerprint before it ever certifies.
R17_ENTRIES: list[str] = [
    "train_corpus_build",
    "train_build_funnel",
    "decontam_lens_agreement",
    "decontam_band_margin",
    "dedup_cluster_profile",
    "dedup_token_savings",
    "dedup_prefix_families",
    "corpus_shard_skew",
    "quality_rule_overlap",
    "text_source_vocab_overlap",
    "quality_contamination_by_source",
    "train_selected_shard_manifest",
    "emb_label_centroid_purity",
    "train_quota_sensitivity",
]
