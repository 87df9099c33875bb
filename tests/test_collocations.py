"""Collocation lift mining (operators/text.py::collocation_lift):
behavioral proofs plus the staged round-6 `text_collocations` DuckDB
oracle, proven bit-identical BEFORE registration."""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from tests.oracle_compare import compare, duck_connect
from yougile_etl_pipeline_spark.operators.text import collocation_lift


def _docs(spark, texts):
    return spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id long, text string")


def test_lift_promotes_fixed_phrase_over_chance_pair(spark):
    # "new york" always adjacent; "the" everywhere pairs with anything
    docs = _docs(spark, ["new york " + "the a " * 10,
                         "new york " + "the b " * 10,
                         "new york the c the d the e"])
    got = {(r["tok_a"], r["tok_b"]): r
           for r in collocation_lift(docs, min_pair_count=2).collect()}
    ny = got[("new", "york")]
    assert ny["c_ab"] == ny["c_a"] == ny["c_b"] == 3
    chance = [r["lift"] for (a, b), r in got.items()
              if a == "the" or b == "the"]
    assert chance and ny["lift"] > max(chance) * 3


def test_min_pair_count_floors_support(spark):
    docs = _docs(spark, ["x y", "x y", "p q"])
    pairs = {(r["tok_a"], r["tok_b"])
             for r in collocation_lift(docs, min_pair_count=2).collect()}
    assert pairs == {("x", "y")}


def test_exact_counts_on_known_corpus(spark):
    docs = _docs(spark, ["a b a b"])  # bigrams: (a,b) (b,a) (a,b)
    got = {(r["tok_a"], r["tok_b"]): r
           for r in collocation_lift(docs, min_pair_count=1).collect()}
    r = got[("a", "b")]
    assert (r["c_ab"], r["c_a"], r["c_b"]) == (2, 2, 2)
    # lift = (2/3) / ((2/4)*(2/4)) = 8/3
    assert abs(r["lift"] - 8.0 / 3.0) < 1e-12
    assert got[("b", "a")]["c_ab"] == 1


# Staged round-6 oracle: adjacent-pair lift over documents, support>=5.
_ORACLE = """
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
"""


def test_collocation_lift_duckdb_parity(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = collocation_lift(docs, min_pair_count=5)
    con = duck_connect(SF_SMOKE)
    assert compare(got, con, _ORACLE) == []
    assert got.count() > 0, "fixture produced no collocations - weak test"


def test_skipgram_cooccurrence_window_semantics(spark):
    """Skip pairs at d=2 and d=3 ONLY — the adjacent d=1 pair is the
    collocation miner's job. 'a x b' contributes (a,b) at d=2;
    'a x y b' contributes (a,b) at d=3; 'a b' contributes nothing."""
    from yougile_etl_pipeline_spark.operators.text import (
        skipgram_cooccurrence,
    )

    docs = spark.createDataFrame(
        [(i, "a x b") for i in range(5)]
        + [(100 + i, "a x y b") for i in range(5)]
        + [(200 + i, "a b") for i in range(5)],
        "doc_id long, text string")
    rows = {(r["tok_a"], r["tok_b"]): r
            for r in skipgram_cooccurrence(docs, min_pair_count=5)
            .collect()}
    # (a,b): 5 at d=2 ('a x b') + 5 at d=3 ('a x y b') = 10
    assert rows[("a", "b")]["c_ab"] == 10
    # (a,y): d=2 in 'a x y b' -> 5; (x,b): d=2 in 'a x y b' -> 5
    assert rows[("a", "y")]["c_ab"] == 5
    assert rows[("x", "b")]["c_ab"] == 5
    # adjacent-only pairs never appear: (a,x) is d=1 everywhere
    assert ("a", "x") not in rows
    # lift positive and finite
    assert all(r["lift"] > 0 for r in rows.values())


def test_skipgram_shares_tokenized_relation_with_collocations(spark):
    """Same input ⇒ collocation_lift and skipgram_cooccurrence share
    ONE persisted tokenized relation via the plan-keyed LRU."""
    from yougile_etl_pipeline_spark.operators import caching
    from yougile_etl_pipeline_spark.operators.text import (
        collocation_lift,
        skipgram_cooccurrence,
    )

    caching.drain(spark)
    try:
        docs = spark.createDataFrame(
            [(0, "a b c d e"), (1, "a b c d e")],
            "doc_id long, text string")
        collocation_lift(docs, min_pair_count=1)
        skipgram_cooccurrence(docs, min_pair_count=1)
        assert len(caching._STORE) == 1
    finally:
        caching.drain(spark)
