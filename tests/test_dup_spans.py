"""dup_span_coverage (operators/text.py): span-union semantics,
cross-doc-only counting, short-doc edge, and the staged round-6
`text_dup_span_coverage` DuckDB oracle, proven BEFORE registration."""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from tests.oracle_compare import compare, duck_connect
from yougile_etl_pipeline_spark.operators.text import dup_span_coverage
from yougile_etl_pipeline_spark.sources.tables import load_table


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_identical_docs_fully_covered(spark):
    d = _docs(spark, ["a b c d e f", "a b c d e f"])
    rows = {r["doc_id"]: r for r in
            dup_span_coverage(d, n=3).collect()}
    assert all(r["coverage"] == 1.0 for r in rows.values())


def test_disjoint_docs_zero_coverage(spark):
    d = _docs(spark, ["a b c d e", "v w x y z"])
    rows = dup_span_coverage(d, n=3).collect()
    assert all(r["coverage"] == 0.0 and r["n_covered"] == 0
               for r in rows)


def test_intra_doc_repeat_does_not_count(spark):
    # the trigram "a b c" repeats WITHIN doc 0 only -> not cross-doc,
    # nothing covered
    d = _docs(spark, ["a b c x a b c", "q r s t u"])
    rows = dup_span_coverage(d, n=3).collect()
    assert all(r["n_covered"] == 0 for r in rows)


def test_overlapping_grams_union_once(spark):
    # shared span "a b c d" in both docs: two overlapping trigrams,
    # union covers 4 positions, not 6
    d = _docs(spark, ["a b c d x", "y a b c d"])
    rows = {r["doc_id"]: r for r in
            dup_span_coverage(d, n=3).collect()}
    assert rows[0]["n_covered"] == 4 and rows[1]["n_covered"] == 4


def test_short_docs_survive(spark):
    d = _docs(spark, ["a b", "a b", "a b c d"])
    rows = {r["doc_id"]: r for r in
            dup_span_coverage(d, n=3).collect()}
    assert len(rows) == 3
    assert rows[0]["n_covered"] == 0  # too short to own any trigram


def test_gram_df_cap_off_band_matches_exact(spark):
    """With a cap no gram reaches, the capped path is bit-identical to
    the exact path (the hashes-unchanged-at-cert-scale property)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    exact = sorted(map(tuple, dup_span_coverage(docs, n=_N).collect()))
    capped = sorted(map(tuple, dup_span_coverage(
        docs, n=_N, max_gram_df=10**9).collect()))
    assert exact == capped


def test_gram_df_cap_hot_gram_counts_doc_fully_covered(spark):
    """A gram above the cap marks every containing doc fully covered
    (upper-bound boilerplate semantics); docs without it keep exact
    span coverage."""
    boiler = "x y z w v"          # the hot 5-token gram, in 4 docs
    texts = [f"{boiler} a{i} b{i} c{i} d{i}" for i in range(4)]
    texts.append("p q r s t u p2 q2")       # no hot gram, no dup: 0
    texts.append("m n o k l shared tail0")  # "m n o k l" in 2 docs
    texts.append("m n o k l other tail1")
    d = _docs(spark, texts)
    rows = {r["doc_id"]: r for r in
            dup_span_coverage(d, n=5, max_gram_df=3).collect()}
    for i in range(4):  # hot docs: fully covered, 9 tokens each
        assert rows[i]["n_covered"] == rows[i]["n_tokens"] == 9
        assert rows[i]["coverage"] == 1.0
    assert rows[4]["n_covered"] == 0
    # warm band (df=2 <= cap): exact 5-position span, not the full doc
    assert rows[5]["n_covered"] == 5 and rows[5]["n_tokens"] == 7
    assert rows[6]["n_covered"] == 5
    # same corpus, cap off: the hot docs' EXACT coverage is only the
    # 5-token boilerplate span — the cap intentionally upper-bounds
    exact = {r["doc_id"]: r for r in
             dup_span_coverage(d, n=5).collect()}
    for i in range(4):
        assert exact[i]["n_covered"] == 5


_N = 5

_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
ex AS (
  SELECT doc_id, s,
         md5(array_to_string(toks[s:s+{_N - 1}], ' ')) AS fp
  FROM t, LATERAL (SELECT unnest(range(1,
           greatest(len(toks) - {_N} + 1, 0) + 1)) AS s) ls),
dup AS (SELECT fp FROM ex GROUP BY fp
        HAVING count(DISTINCT doc_id) >= 2),
cov AS (
  SELECT doc_id, count(DISTINCT p) AS n_covered
  FROM ex JOIN dup USING (fp),
       LATERAL (SELECT unnest(range(s, s + {_N})) AS p) lp
  GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(cov.n_covered, 0) AS BIGINT) AS n_covered,
       CAST(COALESCE(cov.n_covered, 0) AS DOUBLE)
         / CAST(len(t.toks) AS DOUBLE) AS coverage
FROM t LEFT JOIN cov USING (doc_id)
"""


def test_dup_spans_duckdb_parity(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    got = dup_span_coverage(docs, n=_N)
    con = duck_connect(SF_SMOKE)
    assert compare(got, con, _ORACLE) == []
    # the fixture's near-dup structure must light up the signal
    assert got.filter("n_covered > 0").count() > 0


def test_gram_cache_is_plan_keyed_lru(spark):
    """ADVICE r14: the old single shared slot meant a composed query
    that built two gram-stream operators evicted the earlier persist
    BEFORE the job ran. The reuse cache is keyed by plan semantics: a
    semantic hit returns the ALREADY-persisted DataFrame, misses evict
    oldest-first beyond capacity and unpersist the evicted relation."""
    from yougile_etl_pipeline_spark.operators import caching

    caching.drain(spark)
    try:
        a1 = spark.range(10).selectExpr("id * 2 as v")
        a2 = spark.range(10).selectExpr("id * 2 as v")  # same plan
        r1 = caching.persist(a1)
        r2 = caching.persist(a2)
        assert r2 is r1, "semantic twin must share the persisted slot"
        assert len(caching._STORE) == 1
        rest = [caching.persist(spark.range(10).selectExpr(f"id*{k} v"))
                for k in range(3, 3 + caching.SLOTS - 1)]
        assert len(caching._STORE) == caching.SLOTS
        # capacity exceeded: the LRU slot (r1) is evicted + unpersisted
        rd = caching.persist(spark.range(10).selectExpr("id*997 v"))
        assert all(c is not r1 for c in caching._STORE.values())
        assert not r1.storageLevel.useMemory
        assert [x is y for x, y in zip(caching._STORE.values(),
                                       rest + [rd])] == \
            [True] * caching.SLOTS
        # a hit refreshes recency: rest[0] moves to MRU
        caching.persist(spark.range(10).selectExpr("id*3 v"))
        assert list(caching._STORE.values())[-1] is rest[0]
    finally:
        caching.drain(spark)


def test_dup_span_twins_share_one_persisted_gram_stream(spark):
    """dup_span_coverage + dup_span_removal over the same input build
    the identical positional-gram stream — the exact+capped cap-audit
    composition that used to evict itself now occupies ONE shared
    persisted slot (the ADVICE-r14 scenario)."""
    from yougile_etl_pipeline_spark.operators import caching
    from yougile_etl_pipeline_spark.operators.text import (
        dup_span_removal,
    )

    caching.drain(spark)
    try:
        d = _docs(spark, ["a b c d e f g", "a b c d e f g", "x y z"])
        cov = dup_span_coverage(d)
        rem = dup_span_removal(d)
        assert len(caching._STORE) == 1, (
            "coverage+removal must share one persisted gram stream")
        # and the shared persist must not corrupt either result
        assert {r["doc_id"]: r["n_covered"]
                for r in cov.collect()} == {0: 7, 1: 7, 2: 0}
        assert {r["doc_id"]: r["n_removed"]
                for r in rem.collect()} == {0: 0, 1: 7, 2: 0}
        # the exact+capped removal twins share it too
        dup_span_removal(d, max_gram_df=5)
        assert len(caching._STORE) == 1
    finally:
        caching.drain(spark)


def test_dup_span_source_pairs_debut_attribution(spark):
    """Pairs run debut→later: doc 0 originates the shared 5-gram run,
    docs 1 and 2 copy it; an unrelated doc pairs with nobody."""
    from yougile_etl_pipeline_spark.operators.text import (
        dup_span_source_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog"  # 9 toks
    d = _docs(spark, [shared + " original tail",
                      shared + " copy one",
                      shared + " copy two",
                      "completely different text with no overlap at all"])
    rows = {(r["src_doc"], r["dst_doc"]): r["shared_grams"]
            for r in dup_span_source_pairs(d).collect()}
    # the 9-token run yields 5 shared 5-grams between 0 and each copy
    assert rows[(0, 1)] == 5
    assert rows[(0, 2)] == 5
    assert all(src == 0 for src, _ in rows)


def test_dup_span_source_pairs_df_cap_drops_boilerplate(spark):
    """A gram in more docs than max_gram_df attributes nothing."""
    from yougile_etl_pipeline_spark.operators.text import (
        dup_span_source_pairs,
    )

    d = _docs(spark, ["w1 w2 w3 w4 w5 pad%d" % i for i in range(6)])
    # the 5-gram 'w1..w5' is in 6 docs; cap 4 excludes it entirely
    assert dup_span_source_pairs(
        d, max_gram_df=4, min_shared=1).count() == 0
    # cap 10 keeps it: debut 0 pairs with 1..5
    rows = {(r["src_doc"], r["dst_doc"])
            for r in dup_span_source_pairs(
                d, max_gram_df=10, min_shared=1).collect()}
    assert rows == {(0, i) for i in range(1, 6)}
