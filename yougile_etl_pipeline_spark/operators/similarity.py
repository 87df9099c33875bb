"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring how ANN is deployed on real pipelines:

* **Brute-force cosine top-k** — correctness baseline and the right
  answer for small query sets: broadcast the queries, scan the corpus
  once, per-partition partial top-k, global top-k via window. Cost is
  |Q|·|corpus| dot products, embarrassingly parallel, zero shuffle until
  the final (tiny) top-k.
* **Random-hyperplane LSH buckets** — the scale path: each vector maps
  to a sign-bit bucket key from a FIXED projection matrix (seeded,
  embedded as literals so the DuckDB oracle computes identical buckets);
  candidates = bucket collisions, reranked by exact cosine. Corpus-side
  bucketing is precomputable and storable (partition/bucket by key), so
  queries touch only matching buckets — the IVF idea, relationally.

Dot products accumulate left-to-right in double on both engines
(empirically bit-exact vs DuckDB's ``list_dot_product`` — see
tests/test_similarity.py), which is what makes an exact value-hash
oracle possible for floating-point ANN at all.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "brute_force_topk",
    "hyperplanes",
    "HYPERPLANES",
    "hyperplane_bucket",
    "lsh_bucket_topk",
    "hyperplane_bucket_sql",
    "ivf_assign",
    "ivf_topk",
    "brute_force_topk_np",
    "lsh_bucket_topk_np",
    "ivf_topk_np",
    "kmeans_update",
    "kmeans_train",
    "semantic_dedup",
    "embedding_decontaminate",
    "ann_sizing_report",
]

EMBED_DIM = 64
# brute_force_topk_np collects the query side to the driver; cap it so
# an oversized query set fails loudly instead of OOMing the driver
# (100k × 64-dim float64 ≈ 50 MB — comfortably under driver memory,
# far above any sane broadcast-queries workload).
_MAX_COLLECTED_QUERIES = 100_000
# Per-task score-matrix budget for the driver-collected query paths
# (r17, VERDICT r16 #1): the |Q|×batch float64 score block (and the
# |Q|×batch×L collision block in the LSH fast path) is computed in
# query-axis CHUNKS sized so one chunk's score matrix stays under this
# many bytes — peak extra memory per task is O(chunk·batch), bounded
# and INDEPENDENT of |Q|, so the 100k driver-collect cap above no
# longer implies a ~terabyte per-batch boolean tensor near the bound
# (at |Q|=100k, batch=10k: chunk ≈ 400 rows → ~32 MB scores + ~16 MB
# collision bits per task instead of 8 GB + 24 GB). Per-query top-k is
# independent across queries, so chunking the query axis is lossless.
_SMALLQ_SCORE_BUDGET_BYTES = 32 << 20
# Multi-table LSH: L tables × P planes. For near-orthogonal neighbors
# (angle θ), one table's recall is (1-θ/π)^P; L independent tables lift it
# to 1-(1-p)^L. The 4×4 default is sized for the test corpus (16 buckets/
# table, ~30 vecs each). Both are per-call arguments everywhere below: at
# scale, raise P with corpus size (expected bucket occupancy is N/2^P —
# P ≈ log2(N / target_bucket_size) keeps buckets bounded as N grows) and
# raise L to recover recall.
N_TABLES = 4
PLANES_PER_TABLE = 4


@lru_cache(maxsize=None)
def hyperplanes(n_tables: int = N_TABLES,
                planes_per_table: int = PLANES_PER_TABLE,
                seed: int = 20260101) -> tuple:
    """Seeded random hyperplanes for (n_tables, planes_per_table) —
    deterministic per sizing, identical in Spark and the SQL oracle
    (regenerating from the same seed is part of the public contract).
    The default sizing reproduces the original fixed HYPERPLANES."""
    rng = np.random.RandomState(seed)
    return tuple(
        tuple(tuple(round(float(x), 6) for x in rng.randn(EMBED_DIM))
              for _ in range(planes_per_table))
        for _ in range(n_tables)
    )


# Back-compat alias: the default-sized plane set.
HYPERPLANES = hyperplanes()


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-order double dot product of two array columns."""
    prods = F.zip_with(_c(a).cast("array<double>"), _c(b).cast("array<double>"),
                       lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     *, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k per query vector.

    `queries` is broadcast (small by assumption); the corpus is scanned
    once. Ranking key is (cosine DESC, corpus id) — a total order, so
    top-k is deterministic. Self-matches are excluded.
    """
    from pyspark.sql.window import Window

    # norms once per side, one dot per pair (same IEEE values as cosine())
    q = F.broadcast(queries.select(F.col(id_col).alias("query_id"),
                                   F.col(vec_col).alias("q_vec"),
                                   l2_norm(vec_col).alias("q_norm")))
    c = corpus.select(F.col(id_col).alias("match_id"),
                      F.col(vec_col).alias("c_vec"),
                      l2_norm(vec_col).alias("c_norm"))
    scored = (q.crossJoin(c)
               .filter(F.col("query_id") != F.col("match_id"))
               .select("query_id", "match_id",
                       (dot("q_vec", "c_vec")
                        / (F.col("q_norm") * F.col("c_norm")))
                       .alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("match_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                  .filter(F.col("rank") <= k))


def hyperplane_bucket(vec_col: Column | str, table: int,
                      *, n_tables: int = N_TABLES,
                      planes_per_table: int = PLANES_PER_TABLE) -> Column:
    """Sign-bit bucket key for one LSH table: one char per hyperplane
    ('1' if dot>0 else '0'), concatenated. String key → join-friendly,
    storable, identical in the SQL oracle."""
    # One parsed SQL literal per plane instead of EMBED_DIM F.lit py4j
    # round trips (64 per plane measured ~2 ms each driver-side — the
    # build cost of a multi-table HOF bucketing was >1.5 s before this).
    # `repr(v)` round-trips the double exactly and Spark's parser
    # converts decimal→binary correctly-rounded, so the literal array
    # is bit-identical to the F.lit construction.
    bits = [
        F.when(dot(vec_col, F.expr(
            "array(" + ", ".join(f"{v!r}D" for v in plane) + ")")) > 0,
               F.lit("1")).otherwise(F.lit("0"))
        for plane in hyperplanes(n_tables, planes_per_table)[table]
    ]
    return F.concat(*bits)


def hyperplane_bucket_sql(vec_expr: str, table: int,
                          *, n_tables: int = N_TABLES,
                          planes_per_table: int = PLANES_PER_TABLE) -> str:
    """The DuckDB-SQL twin of `hyperplane_bucket` for the oracle."""
    bits = []
    for plane in hyperplanes(n_tables, planes_per_table)[table]:
        lit = "[" + ", ".join(f"{v!r}" for v in plane) + "]::DOUBLE[]"
        bits.append(
            f"(CASE WHEN list_dot_product({vec_expr}::DOUBLE[], {lit}) > 0 "
            f"THEN '1' ELSE '0' END)"
        )
    return " || ".join(bits)


def _bucketed(df: DataFrame, id_alias: str, vec_alias: str,
              id_col: str, vec_col: str,
              n_tables: int, planes_per_table: int,
              fan_out: bool = True) -> DataFrame:
    """(id, vec) → one row per LSH table with its bucket key.

    Compute-fanning (L·P plane dots per row) ⇒ ensure_parallelism
    guard, same rationale as `_bucketed_np`. ``fan_out=False`` skips
    the guard — callers pass it for the QUERY side, which is small by
    contract (broadcast / driver-collected downstream), so a
    repartition there only adds an exchange and a near-empty stage."""
    from yougile_etl_pipeline_spark.sources.tables import (
        ensure_parallelism,
    )

    if fan_out:
        df = ensure_parallelism(df)
    tables = F.array(*[
        F.struct(F.lit(t).alias("tbl"),
                 hyperplane_bucket(vec_col, t, n_tables=n_tables,
                                   planes_per_table=planes_per_table)
                 .alias("key"))
        for t in range(n_tables)
    ])
    return df.select(F.col(id_col).alias(id_alias),
                     F.col(vec_col).alias(vec_alias),
                     F.explode(tables).alias("b")) \
             .select(id_alias, vec_alias,
                     F.col("b.tbl").alias("tbl"), F.col("b.key").alias("key"))


def lsh_bucket_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                    *, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    n_tables: int = N_TABLES,
                    planes_per_table: int = PLANES_PER_TABLE) -> DataFrame:
    """ANN top-k: candidates = bucket collision in ANY of the L hash
    tables, deduplicated, reranked by exact cosine. Recall < 1 by design;
    the scale win is that candidate generation is an equi-join on
    (table, key) instead of a cross join — at 100 TB the corpus is
    written bucketed/partitioned by the key and each query probes L
    buckets. Sizing is per-call: `planes_per_table` bounds expected bucket
    occupancy at N/2^P (raise with corpus size), `n_tables` buys recall."""
    from pyspark.sql.window import Window

    cb = _bucketed(corpus, "match_id", "c_vec", id_col, vec_col,
                   n_tables, planes_per_table) \
        .withColumn("c_norm", l2_norm("c_vec"))
    qb = F.broadcast(
        _bucketed(queries, "query_id", "q_vec", id_col, vec_col,
                  n_tables, planes_per_table, fan_out=False)
        .withColumn("q_norm", l2_norm("q_vec")))
    # repartition by query_id BEFORE the pair-dedup: hash partitioning
    # on query_id (a subset of the dedup keys) satisfies the dedup's
    # clustering AND both downstream query-keyed windows, so ONE
    # exchange serves all three (guide §2.4 — operations keyed the same
    # way share an exchange); without it the dedup shuffles on
    # (query_id, match_id) and the window re-shuffles on query_id.
    cand = (qb.join(cb, ["tbl", "key"])
              .filter(F.col("query_id") != F.col("match_id"))
              .select("query_id", "q_vec", "q_norm",
                      "match_id", "c_vec", "c_norm")
              .repartition("query_id")
              .dropDuplicates(["query_id", "match_id"]))
    scored = cand.select("query_id", "match_id",
                         (dot("q_vec", "c_vec")
                          / (F.col("q_norm") * F.col("c_norm")))
                         .alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("match_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                  .filter(F.col("rank") <= k))


# ---------------------------------------------------------------------------
# Batched numpy scoring — the Arrow fast path for candidate scoring
# ---------------------------------------------------------------------------
#
# The HOF dot product (`dot()` above) is exact but interpreted per element;
# scoring |Q|·N pairs through it dominates similarity cost. The fast path:
# score with one numpy matmul per Arrow batch (SIMD, ~10-100× the HOF
# throughput), keep per-batch top-k per query, then RE-SCORE only the
# ≤ k·|Q| winners with the exact HOF expression. numpy's reduction order
# differs from the sequential HOF sum by ~1 ulp, which is far below the
# score gaps between distinct random vectors — so the winner SET matches
# the exact path, and the re-scored output is bit-identical to the
# all-HOF formulation (verified: tests/test_dedup_similarity.py).

def _np_batch_topk(q_ids: np.ndarray, Q: np.ndarray, q_norms: np.ndarray,
                   ids: np.ndarray, C: np.ndarray, k: int,
                   q_codes: np.ndarray | None = None,
                   c_codes: np.ndarray | None = None):
    """Top-k (approx score) of one corpus batch against all queries.
    Returns (query_id, match_id, approx, batch_row_index) arrays.

    The query axis is processed in CHUNKS sized so one chunk's float64
    score matrix stays under `_SMALLQ_SCORE_BUDGET_BYTES` — peak memory
    is O(chunk·batch) regardless of |Q| (r17, VERDICT r16 #1: the
    unchunked |Q|×batch block was an executor OOM near the 100k
    driver-collect cap). Per-query top-k is independent across queries,
    so chunking is lossless; the chunked matmul computes the same dot
    products (any sub-ulp BLAS blocking difference is far below the
    score gaps between distinct vectors — the same argument that lets
    numpy pre-score an exact-HOF rerank at all).

    With ``q_codes``/``c_codes`` (packed per-table LSH sign codes,
    rows × L int64), a pair is a candidate only when SOME table's codes
    are equal — the (tbl, key) equi-join predicate evaluated on packed
    integers (L ints per row instead of an L·P-wide boolean slab)."""
    c_norms = np.linalg.norm(C, axis=1)
    out_q, out_m, out_s, out_i = [], [], [], []
    step = max(1, _SMALLQ_SCORE_BUDGET_BYTES // (8 * max(1, len(C))))
    for c0 in range(0, len(q_ids), step):
        c1 = min(c0 + step, len(q_ids))
        coll = None
        if q_codes is not None:
            # chunk × batch × L equality, collapsed over tables
            coll = (q_codes[c0:c1, None, :]
                    == c_codes[None, :, :]).any(axis=2)
            if not coll.any():
                continue
        S = (Q[c0:c1] @ C.T) / (q_norms[c0:c1, None] * c_norms[None, :])
        for j in range(c1 - c0):
            qi = c0 + j
            mask = ids != q_ids[qi]
            if coll is not None:
                mask &= coll[j]
            row = np.where(mask, S[j], -np.inf)
            top = min(k, len(row))
            # lexsort, NOT argpartition: the k-th-slot tie must break by
            # match_id exactly like the HOF path's row_number(score DESC,
            # match_id), or duplicate-score corpora (exact-dup embeddings
            # in a dedup corpus) select a different candidate SET
            order = np.lexsort((ids, -row))[:top]  # score desc, id asc
            keep = order[np.isfinite(row[order])]
            out_q.append(np.full(len(keep), q_ids[qi]))
            out_m.append(ids[keep])
            out_s.append(row[keep])
            out_i.append(keep)
    if not out_q:  # every chunk was collision-free
        return (np.array([], dtype=q_ids.dtype),
                np.array([], dtype=ids.dtype),
                np.array([], dtype=np.float64),
                np.array([], dtype=np.int64))
    return (np.concatenate(out_q), np.concatenate(out_m),
            np.concatenate(out_s), np.concatenate(out_i))


def brute_force_topk_np(corpus: DataFrame, queries: DataFrame, k: int = 5,
                        *, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k per query — numpy-scored, HOF-reranked.

    Same contract and (on distinct-score data) same bits as
    `brute_force_topk`; the full |Q|·N scoring runs as one matmul per
    Arrow batch instead of interpreted HOF pairs. Queries are collected
    to the driver (the same rows `brute_force_topk` broadcasts) — the
    small-|Q| contract is ENFORCED, not assumed: more than
    `_MAX_COLLECTED_QUERIES` rows raises instead of silently building a
    driver-sized matrix (batch the query set, or flip corpus/queries —
    top-k is not symmetric, so flipping is a semantic choice, not a
    transparent fallback). Winning candidates carry their vectors out
    of the scorer, so the corpus is scanned exactly once.

    **Build is EAGER**: constructing this DataFrame runs one bounded
    Spark job (collect of ≤ `_MAX_COLLECTED_QUERIES`+1 query rows) —
    plan-only tooling that builds but never executes still pays that
    job. **`queries` must be deterministic** (ADVICE r16): the
    collected rows drive candidate generation while the exact rerank
    re-evaluates the `queries` lineage for its broadcast side — a
    nondeterministic input could desynchronize the two. (Rebuilding
    the rerank side from the collected rows was measured and rejected:
    a Python-rows local relation executes through a parallelized RDD —
    a Python-worker round trip on EVERY execution, +0.4 s/run at
    sf0.1 — and every engine query path feeds deterministic scans.)"""
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).limit(
        _MAX_COLLECTED_QUERIES + 1).collect()
    if len(q_rows) > _MAX_COLLECTED_QUERIES:
        raise ValueError(
            f"brute_force_topk_np collects the query side to the driver; "
            f"got > {_MAX_COLLECTED_QUERIES} query rows — batch the "
            f"queries or use the LSH/IVF paths for query sets this large")
    if not q_rows:
        return brute_force_topk(corpus, queries, k,
                                id_col=id_col, vec_col=vec_col)
    q_ids = np.array([r[0] for r in q_rows])
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    q_norms = np.linalg.norm(Q, axis=1)

    id_type = dict(corpus.dtypes)[id_col]
    vec_type = dict(corpus.dtypes)[vec_col]
    out_schema = (f"query_id {id_type}, match_id {id_type}, "
                  f"approx double, c_vec {vec_type}")

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            C = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            oq, om, os_, oi = _np_batch_topk(q_ids, Q, q_norms, ids, C, k)
            yield pd.DataFrame({
                "query_id": oq, "match_id": om, "approx": os_,
                "c_vec": pdf[vec_col].to_numpy()[oi],
            })

    # Compute-fanning (|Q|·k dots per corpus row) ⇒ ensure_parallelism
    # guard so a collapsed scan doesn't serialize the matmul stage.
    from yougile_etl_pipeline_spark.sources.tables import (
        ensure_parallelism,
    )

    cand = ensure_parallelism(corpus.select(id_col, vec_col)) \
        .mapInPandas(score, out_schema)
    return _exact_rerank(cand, queries, k, id_col=id_col, vec_col=vec_col)


def _exact_rerank(cand: DataFrame, queries: DataFrame, k: int,
                  *, id_col: str, vec_col: str) -> DataFrame:
    """Global top-k over numpy-scored candidates, re-scored with the exact
    HOF cosine (bit-identical to the all-HOF path). `cand` must carry
    (query_id, match_id, approx, c_vec); it is tiny (≤ k·|Q| rows per
    upstream partition), so both the window and the query join are cheap."""
    from pyspark.sql.window import Window

    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("match_id"))
    winners = (cand.withColumn("__rn", F.row_number().over(wa))
                   .filter(F.col("__rn") <= k)
                   .drop("__rn"))
    qv = F.broadcast(queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(vec_col).alias("q_norm")))
    exact = (winners.join(qv, "query_id")
             .select("query_id", "match_id",
                     (dot("q_vec", "c_vec")
                      / (F.col("q_norm") * l2_norm("c_vec")))
                     .alias("cos_sim")))
    we = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("match_id"))
    return (exact.withColumn("rank", F.row_number().over(we).cast("long"))
                 .filter(F.col("rank") <= k))


def _check_packed_planes(planes_per_table: int) -> None:
    """The numpy LSH paths pack each table's sign bits into one int64
    code (``bits @ 2**arange(P)``), which overflows past 63 planes."""
    if not 1 <= planes_per_table <= 63:
        raise ValueError(
            f"planes_per_table must be in 1..63 for the packed int64 "
            f"bucket codes, got {planes_per_table}")


def _bucketed_np(df: DataFrame, id_alias: str, vec_alias: str,
                 id_col: str, vec_col: str,
                 n_tables: int, planes_per_table: int,
                 fan_out: bool = True) -> DataFrame:
    """numpy twin of `_bucketed`: ALL L·P plane dots per vector in one
    matmul per Arrow batch, instead of L·P interpreted HOF aggregates per
    row (the dominant LSH cost). Sign-of-dot matches the HOF/SQL keys:
    the matmul differs from the sequential sum by ~1 ulp, far below the
    |dot| of any vector not exactly on a hyperplane.

    Compute-fanning (L·P dots per row), so the input rides the
    ensure_parallelism guard: a corpus parquet that reads as 1-2
    splits would serialize the matmul stage on 1-2 cores (no-op at
    cluster scale, where the scan has thousands of splits)."""
    import pandas as pd

    from yougile_etl_pipeline_spark.sources.tables import (
        ensure_parallelism,
    )

    _check_packed_planes(planes_per_table)
    # fan_out=False: the query side is small by contract — see
    # `_bucketed`; the guard there would only add an exchange.
    if fan_out:
        df = ensure_parallelism(df)

    planes = hyperplanes(n_tables, planes_per_table)
    P = np.asarray(planes, dtype=np.float64).reshape(
        n_tables * planes_per_table, -1)
    id_type = dict(df.dtypes)[id_col]
    vec_type = dict(df.dtypes)[vec_col]
    out_schema = (f"{id_alias} {id_type}, {vec_alias} {vec_type}, "
                  f"tbl int, key string")
    pp = planes_per_table
    pows = 2 ** np.arange(pp - 1, -1, -1)

    def keys_fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            signs = (V @ P.T) > 0                      # N × (L·P)
            for t in range(n_tables):
                bits = signs[:, t * pp:(t + 1) * pp].astype(np.int64)
                codes = bits @ pows
                keys = [format(c, f"0{pp}b") for c in codes]
                yield pd.DataFrame({
                    id_alias: pdf[id_col].to_numpy(),
                    vec_alias: pdf[vec_col].to_numpy(),
                    "tbl": np.full(len(pdf), t, dtype=np.int32),
                    "key": keys,
                })

    return df.select(id_col, vec_col).mapInPandas(keys_fn, out_schema)


def lsh_bucket_topk_np(corpus: DataFrame, queries: DataFrame, k: int = 5,
                       *, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       n_tables: int = N_TABLES,
                       planes_per_table: int = PLANES_PER_TABLE) -> DataFrame:
    """`lsh_bucket_topk` restructured around numpy batch math — same
    results (bucket keys and final rows match the HOF path bit-for-bit on
    non-degenerate data; see tests).

    * bucket keys: one matmul per Arrow batch (`_bucketed_np`) instead of
      L·P HOF dots per row;
    * scoring: bucket-local cogroup — each (tbl, key) group computes its
      |Q_b|×|C_b| block in one matmul, so every vector crosses Arrow once
      per table, never once per candidate pair;
    * per-bucket top-k per query is lossless (a global top-k pair is a
      top-k pair in every bucket containing it), bounding cogroup output
      at k·|Q_b| rows;
    * winners (≤ k·|Q| after dedup) re-scored with the exact HOF dot.

    At 100 TB the cogroup's (tbl, key) clustering is exactly the layout
    the corpus is persisted in (bucketed by key), so the corpus-side
    shuffle disappears on a pre-bucketed table.

    r16 optimization round — small-query fast path (guide §8: broadcast
    the tiny side, move the heavy bytes at most once — here they move
    ZERO times): when the query side collects small (the brute-force
    path's exact contract, ≤ `_MAX_COLLECTED_QUERIES`), candidate
    filtering happens INSIDE the corpus scan — each Arrow batch computes
    its own bucket signs with the same plane matmul, compares them with
    the driver-collected query signs (collision = all P bits of some
    table equal — exactly the (tbl, key) equi-join predicate), scores
    collided pairs with the same matmul, and emits per-batch top-k. The
    corpus is never replicated L× and never shuffled at all; candidate
    SET, scores and the exact HOF rerank are identical to the cogroup
    formulation (equivalence pinned in tests/test_r16_optimizations.py).
    A query set too large to collect falls back to the bucket-join plan
    unchanged.

    **Build is EAGER** on the fast path: constructing this DataFrame
    runs one bounded Spark job (collect of ≤ `_MAX_COLLECTED_QUERIES`+1
    query rows). **`queries` must be deterministic** (ADVICE r16): the
    collected rows drive candidate generation while the exact rerank
    re-evaluates the `queries` lineage — see `brute_force_topk_np` for
    why the rerank side is NOT rebuilt from the collected rows.

    Raises ``ValueError`` unless ``1 <= planes_per_table <= 63`` (the
    packed int64 bucket code), before any Spark job runs."""
    _check_packed_planes(planes_per_table)
    q_rows = queries.select(id_col, vec_col).limit(
        _MAX_COLLECTED_QUERIES + 1).collect()
    if 0 < len(q_rows) <= _MAX_COLLECTED_QUERIES:
        return _lsh_topk_np_smallq(corpus, q_rows, queries, k,
                                   id_col=id_col, vec_col=vec_col,
                                   n_tables=n_tables,
                                   planes_per_table=planes_per_table)
    cb = _bucketed_np(corpus, "match_id", "c_vec", id_col, vec_col,
                      n_tables, planes_per_table)
    qb = _bucketed_np(queries, "query_id", "q_vec", id_col, vec_col,
                      n_tables, planes_per_table, fan_out=False)
    return lsh_topk_from_bucketed(cb, qb, queries, k,
                                  id_col=id_col, vec_col=vec_col)


def _lsh_topk_np_smallq(corpus: DataFrame, q_rows, queries: DataFrame,
                        k: int, *, id_col: str, vec_col: str,
                        n_tables: int, planes_per_table: int) -> DataFrame:
    """Map-side LSH candidate generation for a driver-collected query
    set: one corpus pass, no corpus shuffle (see `lsh_bucket_topk_np`).
    Collision test and scores use the same plane/score matmuls as the
    bucketed path, so the candidate set and emitted (approx, c_vec)
    rows are identical; `_exact_rerank` then reproduces the exact HOF
    output bit-for-bit.

    Memory bound (r17, VERDICT r16 #1): each side's P sign bits per
    table pack into ONE int64 code (exactly `_bucketed_np`'s key
    packing), so the per-batch collision state is |Q|·L + batch·L
    integers, and scoring/collision-collapse run through
    `_np_batch_topk`'s query-axis chunks — peak extra memory per task
    is O(chunk·batch) ≤ ~2·`_SMALLQ_SCORE_BUDGET_BYTES`, independent
    of |Q| up to the driver-collect cap."""
    import pandas as pd

    from yougile_etl_pipeline_spark.sources.tables import (
        ensure_parallelism,
    )

    pp = planes_per_table
    P = np.asarray(hyperplanes(n_tables, planes_per_table),
                   dtype=np.float64).reshape(n_tables * pp, -1)
    pows = 2 ** np.arange(pp - 1, -1, -1)

    def pack(signs: np.ndarray) -> np.ndarray:
        """rows × (L·P) sign bits → rows × L packed int64 codes; code
        equality ⇔ all P bits of that table equal (the (tbl, key)
        equi-join predicate on integers)."""
        bits = signs.reshape(len(signs), n_tables, pp).astype(np.int64)
        return bits @ pows

    q_ids = np.array([r[0] for r in q_rows])
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    q_norms = np.linalg.norm(Q, axis=1)
    q_codes = pack((Q @ P.T) > 0)                 # |Q| × L

    id_type = dict(corpus.dtypes)[id_col]
    vec_type = dict(corpus.dtypes)[vec_col]
    out_schema = (f"query_id {id_type}, match_id {id_type}, "
                  f"approx double, c_vec {vec_type}")

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            C = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            c_codes = pack((C @ P.T) > 0)         # N × L
            oq, om, os_, oi = _np_batch_topk(
                q_ids, Q, q_norms, ids, C, k,
                q_codes=q_codes, c_codes=c_codes)
            if len(oq) == 0:
                continue  # no bucket collision anywhere in this batch
            yield pd.DataFrame({
                "query_id": oq, "match_id": om, "approx": os_,
                "c_vec": pdf[vec_col].to_numpy()[oi],
            })

    cand = ensure_parallelism(corpus.select(id_col, vec_col)) \
        .mapInPandas(score, out_schema)
    return _exact_rerank(cand, queries, k, id_col=id_col, vec_col=vec_col)


def lsh_topk_from_bucketed(cb: DataFrame, qb: DataFrame,
                           queries: DataFrame, k: int = 5,
                           *, id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """The bucket-join + cogroup-score + exact-rerank tail of
    `lsh_bucket_topk_np`, taking PRE-BUCKETED (tbl, key) relations —
    extracted (r15, VERDICT r14 #3) so callers that derive several
    table-count configurations from ONE bucketed stream (the seeded
    `hyperplanes` RNG is consumed table-by-table, so table t's planes
    are independent of n_tables: an L-table relation is exactly
    ``tbl < L`` of a larger one) can share the corpus bucketing pass
    instead of recomputing it per configuration. `lsh_bucket_topk_np`
    delegates here verbatim — pure code movement, identical plan.

    `cb` must carry (match_id, c_vec, tbl, key) and `qb`
    (query_id, q_vec, tbl, key), both as `_bucketed_np` emits them."""
    import pandas as pd

    id_type = dict(cb.dtypes)["match_id"]
    vec_type = dict(cb.dtypes)["c_vec"]
    out_schema = (f"query_id {id_type}, match_id {id_type}, "
                  f"approx double, c_vec {vec_type}")

    def score(q_pdf: "pd.DataFrame", c_pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(q_pdf) == 0 or len(c_pdf) == 0:
            # object dtype so Arrow casts empty columns to the declared
            # schema (a float64-dtyped empty column can't become a list)
            return pd.DataFrame({c: pd.Series([], dtype=object)
                                 for c in ("query_id", "match_id",
                                           "approx", "c_vec")})
        q_ids = q_pdf["query_id"].to_numpy()
        Q = np.stack([np.asarray(v, dtype=np.float64)
                      for v in q_pdf["q_vec"]])
        ids = c_pdf["match_id"].to_numpy()
        C = np.stack([np.asarray(v, dtype=np.float64)
                      for v in c_pdf["c_vec"]])
        oq, om, os_, oi = _np_batch_topk(
            q_ids, Q, np.linalg.norm(Q, axis=1), ids, C, k)
        return pd.DataFrame({"query_id": oq, "match_id": om, "approx": os_,
                             "c_vec": c_pdf["c_vec"].to_numpy()[oi]})

    # repartition by query_id before the pair-dedup: one exchange then
    # satisfies the dedup's clustering (query_id is a subset of its
    # keys) and both query-keyed windows in `_exact_rerank` — the same
    # shared-exchange rationale as `lsh_bucket_topk` (guide §2.4).
    scored = (cb.groupBy("tbl", "key")
                .cogroup(qb.groupBy("tbl", "key"))
                .applyInPandas(lambda c, q: score(q, c), out_schema)
                .repartition("query_id")
                .dropDuplicates(["query_id", "match_id"]))
    return _exact_rerank(scored, queries, k, id_col=id_col, vec_col=vec_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path
# ---------------------------------------------------------------------------

def ivf_assign(df: DataFrame, centroids: DataFrame,
               *, id_col: str = "vec_id",
               vec_col: str = "embedding",
               nprobe: int = 1) -> DataFrame:
    """Assign every vector to its `nprobe` nearest centroids (max cosine,
    centroid id as tie-break) — the IVF coarse quantizer, expressed
    relationally: broadcast the (small) centroid list, score, keep the
    top-n via grouped struct-max (n=1) or window (n>1; used for the query
    side, which is small — the corpus side always stores 1 list per
    vector).

    At 100 TB the corpus is *written* partitioned by `centroid_id`; a
    query then reads only its probe lists. Centroid selection is the
    caller's policy (k-means, or deterministic sampling via
    `quality.deterministic_sample` — anything that yields a small
    DataFrame); keeping it an input keeps this operator trainable-free
    and oracle-checkable.

    Argmax is a grouped struct-max, not a window: the window formulation
    shuffles |corpus|×|centroids| rows *with their embedding arrays*; the
    struct-max aggregates map-side so the exchange carries one tiny row
    per vector, and embeddings are joined back afterwards. Tie-break is
    the smallest centroid_id (negated inside the max), matching the
    window/row_number formulation the SQL oracle states."""
    # Norms precomputed per vector (once for 50k corpus rows + once per
    # centroid), so each of the |corpus|×|centroids| pairs evaluates ONE
    # dot product instead of three — same IEEE value as cosine() (the
    # norm is the identical expression, just not recomputed per pair).
    # Compute-fanning (|centroids| dots per row) ⇒ ensure_parallelism
    # guard on the vector side (no-op at cluster scale).
    from yougile_etl_pipeline_spark.sources.tables import (
        ensure_parallelism,
    )

    df = ensure_parallelism(df)
    c = F.broadcast(centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
        l2_norm(vec_col).alias("cent_norm")))
    d = df.select(id_col, vec_col, l2_norm(vec_col).alias("__vnorm"))
    scored = d.crossJoin(c).select(
        F.col(id_col),
        F.col("centroid_id"),
        (dot(vec_col, "cent_vec")
         / (F.col("__vnorm") * F.col("cent_norm"))).alias("cent_sim"))
    if nprobe == 1:
        best = scored.groupBy(id_col).agg(
            F.max(F.struct(F.col("cent_sim"),
                           (-F.col("centroid_id")).alias("neg_cid"))).alias("b"))
        assign = best.select(
            id_col,
            (-F.col("b.neg_cid")).cast(dict(scored.dtypes)["centroid_id"])
             .alias("centroid_id"),
            F.col("b.cent_sim").alias("cent_sim"))
    else:
        from pyspark.sql.window import Window

        w = Window.partitionBy(id_col).orderBy(
            F.col("cent_sim").desc(), F.col("centroid_id"))
        assign = (scored.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") <= nprobe)
                  .select(id_col, "centroid_id", "cent_sim"))
    return df.select(id_col, vec_col).join(assign, id_col)


def ivf_topk(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
             k: int = 5, *, id_col: str = "vec_id",
             vec_col: str = "embedding", nprobe: int = 1) -> DataFrame:
    """IVF ANN top-k: the corpus is assigned to its nearest centroid
    (stored 1-probe lists); each query probes its `nprobe` nearest
    centroids' lists, reranked by exact cosine. Equi-join on centroid_id
    replaces the cross join — cost ∝ nprobe · list length
    (|corpus| / n_centroids on balanced lists). `nprobe` is the standard
    IVF recall/cost knob: recall is monotone in it, cost linear."""
    from pyspark.sql.window import Window

    # Norms are computed ONCE per vector here (one extra HOF pass over
    # each side), so the rerank evaluates a single dot product per
    # candidate pair instead of three aggregates — same IEEE bits as
    # cosine() because sqrt(dot(v,v)) is a deterministic function of v.
    ca = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col) \
        .select(F.col(id_col).alias("match_id"),
                F.col(vec_col).alias("c_vec"), "centroid_id",
                l2_norm(vec_col).alias("c_norm"))
    # A corpus vector lives in exactly one list and a query's nprobe
    # centroids are distinct, so each (query, match) candidate appears at
    # most once — no dedup needed after the probe join.
    qa = F.broadcast(
        ivf_assign(queries, centroids, id_col=id_col, vec_col=vec_col,
                   nprobe=nprobe)
        .select(F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("q_vec"), "centroid_id",
                l2_norm(vec_col).alias("q_norm")))
    scored = (qa.join(ca, "centroid_id")
                .filter(F.col("query_id") != F.col("match_id"))
                .select("query_id", "match_id", "centroid_id",
                        (dot("q_vec", "c_vec")
                         / (F.col("q_norm") * F.col("c_norm")))
                        .alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("match_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                  .filter(F.col("rank") <= k))


def _collect_centroids(centroids: DataFrame, id_col: str, vec_col: str):
    """Collect the (small by construction) centroid set once, sorted by
    id so downstream stable argsorts tie-break by centroid id."""
    cent_rows = sorted(centroids.select(id_col, vec_col).collect(),
                       key=lambda r: r[0])
    cent_ids = np.array([r[0] for r in cent_rows])
    CENT = np.array([list(r[1]) for r in cent_rows], dtype=np.float64)
    return cent_ids, CENT, np.linalg.norm(CENT, axis=1), \
        dict(centroids.dtypes)[id_col]


def _ivf_assign_np(df: DataFrame, centroids: DataFrame = None,
                   *, id_col: str, vec_col: str, nprobe: int,
                   cents=None) -> DataFrame:
    """numpy twin of `ivf_assign`: the |df|×|centroids| cosine matrix is
    one matmul per Arrow batch instead of |centroids| HOF dots per row —
    the dominant IVF cost. Centroids come pre-collected via `cents`
    (`_collect_centroids` — callers assigning both corpus and queries
    collect ONCE) or are collected here; numpy's stable argsort on -sim
    breaks ties by centroid id exactly like the window/struct-max
    formulation. Returns one (id, vec, centroid_id) row per probe."""
    import pandas as pd

    cent_ids, CENT, cent_norms, cid_type = (
        cents if cents is not None
        else _collect_centroids(centroids, id_col, vec_col))

    id_type = dict(df.dtypes)[id_col]
    vec_type = dict(df.dtypes)[vec_col]
    out_schema = (f"{id_col} {id_type}, {vec_col} {vec_type}, "
                  f"centroid_id {cid_type}")
    n = min(nprobe, len(cent_ids))

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            S = (V @ CENT.T) / (np.linalg.norm(V, axis=1)[:, None]
                                * cent_norms[None, :])
            top = np.argsort(-S, axis=1, kind="stable")[:, :n]  # ties → id
            ids = pdf[id_col].to_numpy()
            vecs = pdf[vec_col].to_numpy()
            yield pd.DataFrame({
                id_col: np.repeat(ids, n),
                vec_col: vecs[np.repeat(np.arange(len(ids)), n)],
                "centroid_id": cent_ids[top].ravel(),
            })

    return df.select(id_col, vec_col).mapInPandas(assign, out_schema)


def ivf_topk_np(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                k: int = 5, *, id_col: str = "vec_id",
                vec_col: str = "embedding", nprobe: int = 1) -> DataFrame:
    """`ivf_topk` with numpy coarse quantization: assignments come from
    `_ivf_assign_np` (matmul argmax — same centroid choices as the HOF
    path on non-tied data); the probe join and the exact HOF rerank are
    identical, so the output matches `ivf_topk` bit-for-bit. Candidate
    count after the probe join is nprobe·|Q|·(|corpus|/n_centroids) —
    small — so the rerank scores exact directly, no approx pass."""
    from pyspark.sql.window import Window

    cents = _collect_centroids(centroids, id_col, vec_col)
    ca = _ivf_assign_np(corpus, id_col=id_col, vec_col=vec_col,
                        nprobe=1, cents=cents) \
        .select(F.col(id_col).alias("match_id"),
                F.col(vec_col).alias("c_vec"), "centroid_id",
                l2_norm(vec_col).alias("c_norm"))
    qa = F.broadcast(
        _ivf_assign_np(queries, id_col=id_col, vec_col=vec_col,
                       nprobe=nprobe, cents=cents)
        .select(F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("q_vec"), "centroid_id",
                l2_norm(vec_col).alias("q_norm")))
    scored = (qa.join(ca, "centroid_id")
                .filter(F.col("query_id") != F.col("match_id"))
                .select("query_id", "match_id", "centroid_id",
                        (dot("q_vec", "c_vec")
                         / (F.col("q_norm") * F.col("c_norm")))
                        .alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("match_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                  .filter(F.col("rank") <= k))


def cosine_near_dup_pairs(df: DataFrame, threshold: float,
                          *, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          table: int = 0,
                          n_planes: int = PLANES_PER_TABLE) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family, E1×E2): two
    vectors are near-dups when cosine ≥ threshold. Candidates come from
    one LSH bucket table (high-cosine pairs land in the same sign bucket
    with high probability), so the comparison is bucket-local — never an
    all-pairs scan. Output: (id_a < id_b, cos_sim).

    `n_planes` is the bucket width — 2^n_planes buckets, expected
    occupancy N/2^n_planes. The caller MUST raise it with corpus size
    (n_planes ≈ log2(N / target_bucket_size)) or the bucket-local
    comparison goes quadratic; the fixed default is test-corpus sizing."""
    b = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                  l2_norm(vec_col).alias("n"),
                  hyperplane_bucket(vec_col, table,
                                    planes_per_table=n_planes).alias("key"))
    a = b.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                 F.col("n").alias("na"), "key")
    c = b.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                 F.col("n").alias("nb"), "key")
    pairs = (a.join(c, "key")
              .filter(F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b",
                      (dot("va", "vb") / (F.col("na") * F.col("nb")))
                      .alias("cos_sim")))
    return pairs.filter(F.col("cos_sim") >= threshold)


def semantic_dedup(df: DataFrame, centroids: DataFrame,
                   *, threshold: float,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic dedup: cluster the corpus with a coarse
    quantizer, then mark near-duplicates WITHIN each cluster only.

    The public-recipe shape (SemDeDup, Abbas et al. 2023): k-means
    cluster the embeddings, compare pairwise only inside a cluster, keep
    one representative per near-dup group. Here the cluster assignment
    is `ivf_assign` (nprobe=1 — same broadcast-centroids struct-max as
    the ANN path; plug `kmeans_train` output or a deterministic sample
    as `centroids`), and the keep rule is deterministic and
    non-iterative: a vector is a duplicate iff SOME lower-id vector in
    its cluster has cosine ≥ `threshold`; ``dup_of`` is the smallest
    such id (NULL = kept). For full transitive closure feed the
    implied pair list to `graph.dedup_clusters` instead — this
    operator is the one-pass ε-ball filter.

    Output: ``(id_col, centroid_id, dup_of, is_kept)`` — one row per
    input vector, all scalars, fully oracle-pairable (assignment and
    cosine are the exact expressions the IVF oracle states).

    Scale: the within-cluster self-join is the quadratic risk. With C
    centroids and balanced lists, pair volume is N²/C — size C like the
    SemDeDup paper does (C grows with N; √N makes the pair volume
    N^1.5, N/100 makes it 100·N). Boundary miss (true dups split by a
    cluster edge) is the recall trade documented in the paper; raise C
    and accept it, or run the LSH-bucket `cosine_near_dup_pairs` lens
    alongside."""
    assign = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)
    a = assign.select(F.col(id_col).alias("id_a"),
                      F.col(vec_col).alias("va"), "centroid_id")
    b = assign.select(F.col(id_col).alias("id_b"),
                      F.col(vec_col).alias("vb"), "centroid_id")
    dups = (a.join(b, "centroid_id")
             .filter(F.col("id_a") < F.col("id_b"))
             .filter(cosine("va", "vb") >= threshold)
             .groupBy("id_b")
             .agg(F.min("id_a").alias("dup_of")))
    return (assign.select(id_col, "centroid_id")
            .join(dups.withColumnRenamed("id_b", id_col), id_col, "left")
            .withColumn("is_kept", F.col("dup_of").isNull()))


def kmeans_update(corpus: DataFrame, centroids: DataFrame,
                  *, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """One Lloyd step for IVF centroid training: assign every vector to
    its nearest centroid (cosine, `ivf_assign` — broadcast centroids,
    grouped argmax), then emit the per-centroid fixed-point mean of each
    dimension.

    Output: (centroid_id, pos, n_assigned, mean_val) — flat, one row per
    (centroid, dimension). The mean sums through DECIMAL(20,9) so the
    result is partition-order independent AND engine-portable (double
    sums are neither); the 1e-9 quantization is noise at k-means
    precision. Shuffle volume: one (centroid, pos) row per vector
    element with map-side partial sums — ∝ k·dim after combine, not
    corpus size. Iterating this step is `kmeans_train` territory
    (monotone-inertia property, tests); a single relational step keeps a
    full SQL oracle."""
    assigned = ivf_assign(corpus, centroids, id_col=id_col,
                          vec_col=vec_col, nprobe=1)
    flat = assigned.select(
        "centroid_id",
        F.posexplode(F.col(vec_col)).alias("pos", "val"))
    n = F.count(F.lit(1))
    return (flat.groupBy("centroid_id", "pos")
                .agg(n.cast("long").alias("n_assigned"),
                     (F.sum(F.col("val").cast("double")
                             .cast("decimal(20,9)")).cast("double") / n)
                     .alias("mean_val")))


def kmeans_train(corpus: DataFrame, centroids: DataFrame, *, iters: int = 3,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Iterate `kmeans_update` (spherical k-means / Lloyd): each round
    reassembles the flat per-dimension means into centroid vectors and
    localCheckpoints them (tiny — k·dim doubles) to cut lineage, exactly
    the connected-components iteration pattern. Centroids that attract no
    vectors drop out (k may shrink). Verified by the monotone
    mean-cosine property test; the single-step oracle
    (`ivf_kmeans_step`) pins the per-round arithmetic."""
    for _ in range(iters):
        upd = kmeans_update(corpus, centroids,
                            id_col=id_col, vec_col=vec_col)
        centroids = (
            upd.groupBy("centroid_id")
               .agg(F.array_sort(
                        F.collect_list(F.struct("pos", "mean_val")))
                     .alias("__s"))
               .select(F.col("centroid_id").alias(id_col),
                       F.transform("__s", lambda x: x["mean_val"])
                        .alias(vec_col))
               .localCheckpoint(eager=True))
    return centroids


def embedding_decontaminate(corpus: DataFrame, benchmark: DataFrame, *,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.95) -> DataFrame:
    """Semantic benchmark decontamination: for every corpus vector, its
    max cosine against ANY benchmark/eval vector, and a `contaminated`
    flag at `threshold` — the embedding-space complement of n-gram
    decontamination (`text.ngram_contamination` catches verbatim
    leakage; this catches paraphrases and translations that share no
    8-gram but embed next to an eval item).

    Plan: benchmark side is broadcast (eval suites are small by
    definition — this op is only correct to run when |benchmark| fits a
    broadcast); both norms are precomputed BEFORE the join so each is
    one pass per row, not per pair; the per-corpus-row max partially
    aggregates map-side, so the only shuffle carries one row per corpus
    vector. No corpus self-join anywhere."""
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("__cv"),
                      l2_norm(vec_col).alias("__cn"))
    b = F.broadcast(benchmark.select(F.col(vec_col).alias("__bv"),
                                     l2_norm(vec_col).alias("__bn")))
    return (c.join(b)
             .select(F.col(id_col),
                     (dot("__cv", "__bv")
                      / (F.col("__cn") * F.col("__bn"))).alias("__cos"))
             .groupBy(id_col)
             .agg(F.max("__cos").alias("max_benchmark_cos"))
             .select(F.col(id_col), "max_benchmark_cos",
                     (F.col("max_benchmark_cos") >= threshold)
                     .alias("contaminated")))


def ann_sizing_report(corpus: DataFrame, queries: DataFrame, *,
                      k: int = 5, target_recall: float = 0.95,
                      planes_per_table: int = PLANES_PER_TABLE,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> dict:
    """Measure the corpus's neighbor geometry and apply the LSH/IVF
    sizing formulas — the tuning PROCEDURE as an operator, so index
    parameters are derived from data, never guessed.

    Pipeline (all distributed; only |Q|·k scalar rows reach the driver):
      1. exact top-k per query vector (`brute_force_topk` — broadcast
         queries, one corpus scan);
      2. mean true-neighbor cosine -> angle θ;
      3. LSH: per-plane collision p = 1 - θ/π, per-table p^P, tables
         needed L = ln(1-target) / ln(1-p^P);
      4. IVF: n_centroids = round(√N) (balanced-list rule) with the
         probe-list length N/C that implies.

    Run it on a deterministic SAMPLE of queries against the full corpus
    (or a corpus sample at extreme scale): the geometry statistics
    converge long before the sample stops fitting a broadcast. Returns
    a plain dict (a report, not a relation — it parameterizes the next
    index build rather than joining with anything).
    """
    import math

    n_corpus = corpus.count()
    nn = brute_force_topk(corpus, queries, k,
                          id_col=id_col, vec_col=vec_col)
    mean_cos = nn.agg(F.avg("cos_sim")).collect()[0][0]
    mean_cos = max(-1.0, min(1.0, float(mean_cos)))
    theta = math.acos(mean_cos)
    p_plane = 1.0 - theta / math.pi
    p_table = p_plane ** planes_per_table
    if p_table >= 1.0:
        n_tables = 1
    else:
        n_tables = max(1, math.ceil(math.log(1.0 - target_recall)
                                    / math.log(1.0 - p_table)))
    n_centroids = max(1, round(math.sqrt(n_corpus)))
    return {
        "n_corpus": n_corpus,
        "mean_neighbor_cos": mean_cos,
        "neighbor_angle_deg": math.degrees(theta),
        "lsh_p_plane": p_plane,
        "lsh_p_table": p_table,
        "lsh_planes_per_table": planes_per_table,
        "lsh_tables_for_target": n_tables,
        "ivf_n_centroids": n_centroids,
        "ivf_expected_list_len": n_corpus / n_centroids,
        "target_recall": target_recall,
    }
