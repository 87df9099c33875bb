"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each op at 100 TB):

* **Exact** — shuffle on a 16-byte md5 fingerprint, not the document body:
  uniform keys (no skew), tiny shuffle payload, one hash-aggregate.
* **Jaccard via shingle join** — candidate generation is an equi-join on
  (blocking key, shingle): documents never compare all-pairs; the
  quadratic blowup is bounded by shingle co-occurrence within a block.
* **MinHash + LSH banding** — signatures shrink each doc to `n_hashes`
  strings; the band equi-join touches only bucket collisions. The base
  hash is ``md5(seed || ':' || shingle)`` (not Spark's xxhash64) so the
  DuckDB oracle computes the *identical* signature — and min() over hex
  strings is order-independent, hence partition-count-independent.
* **SimHash** — 64-bit signature via xxhash64 bit-votes; Hamming-ball
  lookups join on rotated prefix keys. xxhash64 has no DuckDB twin, so
  this op is verified by property tests + a rows-only driver check
  (SURVEY.md §5.5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yougile_etl_pipeline_spark.operators import caching
from yougile_etl_pipeline_spark.operators.text import (
    fingerprint_exact,
    shingles,
)
from yougile_etl_pipeline_spark.sources.tables import ensure_parallelism

__all__ = [
    "exact_dedup",
    "shingle_jaccard_pairs",
    "shingle_containment_pairs",
    "shingle_blocking_profile",
    "minhash_signature",
    "shared_minhash_signature",
    "minhash_lsh_pairs",
    "simhash",
    "simhash_portable",
    "simhash_ham_pairs",
    "dedup_incremental",
    "build_fp_bloom",
    "dedup_incremental_bloom",
]


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: one row per normalized-text fingerprint, keeping the
    smallest id as canonical; `dup_count` reports cluster size."""
    fp = df.select(F.col(id_col), fingerprint_exact(text_col).alias("fp"))
    return fp.groupBy("fp").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int,
              block_cols: list[str]) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc"), *block_cols,
        F.explode(shingles(text_col, n)).alias("sh"),
    )


def shingle_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str,
    *, n: int = 3, threshold: float = 0.5,
    block_cols: list[str] | None = None,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Near-dup candidate pairs with exact n-gram Jaccard ≥ threshold.

    Set-relational formulation: explode distinct shingles, equi-join on
    (block, shingle) with ``id_a < id_b``, count common shingles, then
    ``J = common / (|A| + |B| - common)``. Jaccard is a ratio of exact
    ints → double division, deterministic. `block_cols` (e.g. language)
    bound the candidate space — at scale you always block.

    **Stop-shingle cap** (`max_shingle_df`, default ON): a shingle
    appearing in d documents of a block contributes d·(d-1)/2 candidate
    pairs — one hot trigram ("in the end", boilerplate headers) makes the
    self-join quadratic at corpus scale. Shingles with per-block document
    frequency above the cap are dropped BEFORE the join (and from the
    per-doc sizes, so Jaccard stays a true ratio over the capped shingle
    sets); candidate count is then bounded by Σ_kept df² ≤ |shingles|·cap².
    Hot shingles carry ~zero near-dup signal (they match everything), so
    the cap trades no real recall. Pass ``None`` to disable."""
    block_cols = block_cols or []
    # r16 note: pre-partitioning this stream by (block, sh) — the
    # dup-span/IDF shape — was tried and REVERTED here: with the loose
    # default cap (df ≤ 1000) the shingle key is zipfian enough that a
    # fixed hash partitioning concentrates the hot shingles' quadratic
    # self-join work, and because the join then needs no exchange, AQE
    # can no longer split those skewed partitions (guide §2.5: skew
    # handling only applies at a join exchange). Measured 2× slower on
    # the bigram truth side of dedup_simhash_recall_eval, and ~15%
    # slower even on the tight-cap IDF variant (same-session A/B).
    ex = _shingled(ensure_parallelism(df), id_col, text_col, n, block_cols)
    if max_shingle_df is not None:
        dfreq = (ex.groupBy(*block_cols, "sh")
                   .agg(F.count(F.lit(1)).alias("__df")))
        keep = dfreq.filter(F.col("__df") <= max_shingle_df) \
                    .select(*block_cols, "sh")
        ex = ex.join(keep, [*block_cols, "sh"])
    # The (capped) shingle stream feeds FOUR consumers (sizes + both
    # self-join sides + the cap's own aggregate lineage); without a
    # persist each one re-runs the explode — measured 4× the work at
    # sf0.1. At cluster scale the same reuse is a staging table or
    # spark's shuffle reuse; MEMORY_AND_DISK is the local equivalent.
    # Through the reuse cache: the stream depends only on (df, n,
    # block_cols, max_shingle_df), not the threshold, so the eval
    # entries' truth sides share one materialization.
    ex = caching.persist(ex)
    sizes = ex.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))

    a = ex.select(F.col("doc").alias("doc_a"), *[F.col(c) for c in block_cols],
                  "sh")
    b = ex.select(F.col("doc").alias("doc_b"),
                  *[F.col(c).alias(f"__b_{c}") for c in block_cols], "sh")
    cond = [a.sh == b.sh] + [F.col(c) == F.col(f"__b_{c}") for c in block_cols]
    common = (a.join(b, cond)
               .filter(F.col("doc_a") < F.col("doc_b"))
               .groupBy("doc_a", "doc_b")
               .agg(F.count(F.lit(1)).alias("common")))

    sz_a = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    j = (common.join(sz_a, "doc_a").join(sz_b, "doc_b")
         .withColumn("jaccard",
                     F.col("common").cast("double")
                     / (F.col("sz_a") + F.col("sz_b") - F.col("common"))))
    return j.filter(F.col("jaccard") >= threshold) \
            .select("doc_a", "doc_b", "common", "sz_a", "sz_b", "jaccard")


def idf_weighted_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str,
    *, n: int = 3, threshold_ppm: int = 300000,
    block_cols: list[str] | None = None,
    max_shingle_df: int = 50,
) -> DataFrame:
    """Near-dup pairs by IDF-WEIGHTED shingle Jaccard ≥ threshold —
    the rarity-aware refinement of `shingle_jaccard_pairs`: a shared
    rare shingle is strong copy evidence, a shared common one is
    noise, so each shingle carries weight ``max(1, N div df)`` (the
    integer IDF) and the pair score is Σw(A∩B) / Σw(A∪B) in exact
    integer ppm — no floats anywhere, so the score hash-pairs
    bit-for-bit with the SQL twin.

    The stop-shingle cap here is MANDATORY (not optional like the
    unweighted sibling's): shingles with df > `max_shingle_df` are
    excluded from both the intersection and the per-doc totals —
    they carry weight ≈1 yet generate df² candidate pairs, the worst
    cost/signal ratio in the operator. With the cap, candidates are
    bounded by Σ_kept df² ≤ |shingles|·cap², and the weighted score
    is a true ratio over the informative-shingle sets.

    Shape: one shingle-df aggregate (16-byte fingerprint keys); the
    kept-weight relation joins back onto the shingle stream via a
    plain fingerprint-keyed SHUFFLE equi-join — deliberately NOT a
    broadcast (ADVICE r14: the df-cap bounds each shingle's document
    frequency, not the NUMBER of kept shingles, which grows with
    corpus vocabulary — at 100 TB that relation is billions of rows);
    then the blocked self-join on (block, shingle), one pair-keyed
    aggregate, two size joins. `block_cols` (e.g. language) bound
    the candidate space — at scale you always block."""
    block_cols = block_cols or []
    ex = _shingled(ensure_parallelism(df), id_col, text_col, n,
                   block_cols)
    nd = df.agg(F.count(F.lit(1)).cast("bigint").alias("__nd"))
    dfreq = ex.groupBy("sh").agg(
        F.count(F.lit(1)).cast("bigint").alias("__df"))
    w = (dfreq.filter(F.col("__df") <= max_shingle_df)
              .crossJoin(F.broadcast(nd))
              .select("sh",
                      F.greatest(F.lit(1).cast("bigint"),
                                 F.expr("__nd div __df"))
                      .alias("__w")))
    exw = caching.persist(ex.join(w, "sh"))
    sizes = exw.groupBy("doc").agg(
        F.sum("__w").cast("bigint").alias("__tw"))
    a = exw.select(F.col("doc").alias("doc_a"),
                   *[F.col(c) for c in block_cols], "sh", "__w")
    b = exw.select(F.col("doc").alias("doc_b"),
                   *[F.col(c).alias(f"__b_{c}") for c in block_cols],
                   "sh")
    cond = [a.sh == b.sh] + [F.col(c) == F.col(f"__b_{c}")
                             for c in block_cols]
    inter = (a.join(b, cond)
              .filter(F.col("doc_a") < F.col("doc_b"))
              .groupBy("doc_a", "doc_b")
              .agg(F.sum("__w").cast("bigint").alias("inter_w")))
    sz_a = sizes.select(F.col("doc").alias("doc_a"),
                        F.col("__tw").alias("__tw_a"))
    sz_b = sizes.select(F.col("doc").alias("doc_b"),
                        F.col("__tw").alias("__tw_b"))
    j = (inter.join(sz_a, "doc_a").join(sz_b, "doc_b")
              .select("doc_a", "doc_b", "inter_w",
                      (F.col("__tw_a") + F.col("__tw_b")
                       - F.col("inter_w")).cast("bigint")
                      .alias("union_w")))
    j = j.withColumn(
        "jaccard_w_ppm",
        F.expr("inter_w * 1000000 div union_w").cast("bigint"))
    return j.filter(F.col("jaccard_w_ppm") >= threshold_ppm)


def shingle_containment_pairs(
    df: DataFrame, id_col: str, text_col: str,
    *, n: int = 3, threshold: float = 0.8,
    block_cols: list[str] | None = None,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs: exact n-gram containment
    ``C(A→B) = |A∩B| / |A|`` — the sub-document detector Jaccard
    misses. A quoted paragraph, a syndicated article inside a portal
    page, a doc re-crawled with a big footer appended: |A∩B|/|A| ≈ 1
    while Jaccard = |A∩B|/|A∪B| is tiny because |B| dominates the
    union. Corpus dedup needs both lenses; this is the containment one.

    Same scale shape as `shingle_jaccard_pairs` (same candidate
    equi-join on (block, shingle), same stop-shingle DF cap bounding
    the self-join, same cached persist of the shingle stream);
    emits each ``id_a < id_b`` pair once with BOTH directions
    (``cont_a_in_b``, ``cont_b_in_a`` — exact-int ratios, one IEEE
    division each) and keeps pairs where EITHER direction ≥
    `threshold`. Docs with zero (post-cap) shingles have no candidate
    rows and are never emitted — containment over an empty set is
    undefined, not 1."""
    block_cols = block_cols or []
    # r16 note: pre-partitioning this stream by (block, sh) — the
    # dup-span/IDF shape — was tried and REVERTED here: with the loose
    # default cap (df ≤ 1000) the shingle key is zipfian enough that a
    # fixed hash partitioning concentrates the hot shingles' quadratic
    # self-join work, and because the join then needs no exchange, AQE
    # can no longer split those skewed partitions (guide §2.5: skew
    # handling only applies at a join exchange). Measured 2× slower on
    # the bigram truth side of dedup_simhash_recall_eval, and ~15%
    # slower even on the tight-cap IDF variant (same-session A/B).
    ex = _shingled(ensure_parallelism(df), id_col, text_col, n, block_cols)
    if max_shingle_df is not None:
        dfreq = (ex.groupBy(*block_cols, "sh")
                   .agg(F.count(F.lit(1)).alias("__df")))
        keep = dfreq.filter(F.col("__df") <= max_shingle_df) \
                    .select(*block_cols, "sh")
        ex = ex.join(keep, [*block_cols, "sh"])
    ex = caching.persist(ex)
    sizes = ex.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))

    a = ex.select(F.col("doc").alias("doc_a"),
                  *[F.col(c) for c in block_cols], "sh")
    b = ex.select(F.col("doc").alias("doc_b"),
                  *[F.col(c).alias(f"__b_{c}") for c in block_cols], "sh")
    cond = [a.sh == b.sh] + [F.col(c) == F.col(f"__b_{c}")
                             for c in block_cols]
    common = (a.join(b, cond)
               .filter(F.col("doc_a") < F.col("doc_b"))
               .groupBy("doc_a", "doc_b")
               .agg(F.count(F.lit(1)).alias("common")))
    sz_a = sizes.select(F.col("doc").alias("doc_a"),
                        F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc").alias("doc_b"),
                        F.col("sz").alias("sz_b"))
    c = (common.join(sz_a, "doc_a").join(sz_b, "doc_b")
         .withColumn("cont_a_in_b",
                     F.col("common").cast("double") / F.col("sz_a"))
         .withColumn("cont_b_in_a",
                     F.col("common").cast("double") / F.col("sz_b")))
    return (c.filter((F.col("cont_a_in_b") >= threshold)
                     | (F.col("cont_b_in_a") >= threshold))
             .select("doc_a", "doc_b", "common", "sz_a", "sz_b",
                     "cont_a_in_b", "cont_b_in_a"))


def minhash_signature(df: DataFrame, id_col: str, text_col: str,
                      *, n_hashes: int = 8, shingle_n: int = 3) -> DataFrame:
    """Per-document MinHash signature: hash family i is a 16-hex-char
    window at offset 4·i into ``md5(shingle)·md5(shingle)`` (doubled so
    windows wrap); ``mh{i} = min`` of that window over the doc's shingles.

    ONE md5 per shingle instead of ``n_hashes`` — md5 dominates signature
    cost, so this is ~n_hashes× cheaper; 64 bits per window keeps
    collision probability negligible, and the windows behave as
    independent permutations for MinHash purposes. min() is
    order-independent so results don't depend on partitioning, and the
    construction uses only md5/substr — bit-identical in the SQL oracle.

    Plan note: explode→groupBy is the FAST formulation here, not a naive
    one — the min aggregates partially combine map-side (shuffle carries
    ~1 signature row per doc per partition, not the shingle stream), and
    the whole stage is codegen'd. The "map-only" alternative
    (``array_min(transform(...))`` per row) avoids the shuffle but runs
    through interpreted higher-order functions and measured 3× slower at
    sf0.1 (same lesson as `_simhash_bit_votes`).

    The shingle stream itself comes from ``explode(sequence)`` + native
    array indexing (GetArrayItem + concat_ws — all codegen), NOT
    `text.shingles` whose interpreted ``transform`` lambda measured 55%
    of total query time. Duplicates are NOT removed: min() is
    duplicate-insensitive, so the signature is identical to one over the
    distinct shingle set (which the SQL oracle uses) — and skipping the
    dedup also skips a per-doc hash set."""
    assert 4 * (n_hashes - 1) + 16 <= 64, "windows exceed doubled digest"
    df = ensure_parallelism(df)
    toks = F.split(F.col(text_col), " ")
    n_pos = F.size(toks) - (shingle_n - 1)  # #shingles; ≤0 → no rows
    offsets = F.when(n_pos > 0,
                     F.sequence(F.lit(0), n_pos - 1)) \
               .otherwise(F.array().cast("array<int>"))
    ex = (df.select(F.col(id_col).alias("doc"), toks.alias("__t"),
                    F.explode(offsets).alias("__i"))
            .select("doc", F.concat_ws(
                " ", *[F.col("__t")[F.col("__i") + j]
                       for j in range(shingle_n)]).alias("sh")))
    h2 = F.md5(F.col("sh"))
    rot = F.concat(h2, h2)
    aggs = [F.min(F.substring(rot, 1 + 4 * i, 16)).alias(f"mh{i}")
            for i in range(n_hashes)]
    return ex.groupBy("doc").agg(*aggs)


def shared_minhash_signature(df: DataFrame, id_col: str, text_col: str,
                             *, n_hashes: int = 8,
                             shingle_n: int = 3) -> DataFrame:
    """`minhash_signature` through the reuse cache (operators/caching.py)
    — for eval/profile/calibration entries that all consume the same
    signature relation (recall scorecards, bucket profiles, estimate
    calibration, band sweeps, decontamination). The signature aggregate
    dominates each of them and is identical across the tier, while the
    relation itself is tiny (one row per doc). The certified production
    operators (`minhash_lsh_pairs`'s internal build) stay unpersisted:
    their bench numbers keep pricing the signature computation itself."""
    return caching.persist(minhash_signature(
        df, id_col, text_col, n_hashes=n_hashes, shingle_n=shingle_n))


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str,
    *, n_hashes: int = 8, bands: int = 4, shingle_n: int = 3,
    max_bucket_size: int | None = None,
    signature: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs agreeing on ≥1 band of the MinHash
    signature. ``n_hashes`` must divide into ``bands`` equal rows; the
    band key is md5 of the concatenated band slice. Output: distinct
    (doc_a < doc_b) pairs with the number of agreeing bands.

    **Mega-cluster bucket cap** (``max_bucket_size``): the upstream
    shingle paths bound hot *shingles*, but a duplicate *cluster* of c
    near-identical docs (boilerplate pages, mirrored sites) still
    lands its whole membership in the same (band, key) buckets and
    emits O(c²) pairs — invisible at test scale, a job-killer when one
    page has a million copies. With the cap set, buckets holding more
    than ``max_bucket_size`` docs are dropped BEFORE the self-join
    (one extra map-side-combined aggregate + an equi-join — the
    ``max_shingle_df`` pattern), so the pair output is bounded by
    #buckets · cap². ``n_bands`` then counts agreements over KEPT
    buckets only.

    Contract for what the cap drops: members of a hot bucket agree on
    that band's full signature slice, i.e. they are near-certain
    duplicates OF EACH OTHER — exactly the pairs that are redundant
    under the intended compositions. Either (a) run
    ``exact_dedup``/``normalized_exact`` FIRST so literal mega-clusters
    collapse to one survivor before LSH, or (b) treat a dropped bucket
    as its own duplicate cluster directly (its (band, key) IS a
    cluster id) instead of materializing its quadratic pair list for
    ``connected_components`` to rediscover. The default (None)
    preserves the exact certified `dedup_minhash_lsh` output.

    ``signature``: pass a precomputed `minhash_signature` result
    (columns ``doc, mh0..mh{n_hashes-1}``) when the caller ALSO needs
    the signatures (calibration, banding audits) — otherwise the
    signature lineage executes once here and again at the caller
    (the union-of-one-lineage lesson)."""
    assert n_hashes % bands == 0
    rows = n_hashes // bands
    if signature is not None:
        # A signature built with different n_hashes (e.g. 16 hashes
        # handed to an 8-hash banding) would silently band the wrong
        # slices and emit wrong candidate pairs; shingle_n mismatches
        # are invisible in the schema (documented contract: the caller
        # passes the SAME parameters to both calls). Validate the
        # column set so parameter drift errors loudly (ADVICE r12).
        expected = {"doc"} | {f"mh{i}" for i in range(n_hashes)}
        got = set(signature.columns)
        if got != expected:
            raise ValueError(
                "precomputed `signature` does not match "
                f"n_hashes={n_hashes}: expected columns "
                f"{sorted(expected)}, got {sorted(got)} — rebuild it "
                "with minhash_signature(..., n_hashes="
                f"{n_hashes}, shingle_n={shingle_n})")
    sig = signature if signature is not None else minhash_signature(
        df, id_col, text_col, n_hashes=n_hashes, shingle_n=shingle_n)
    band_keys = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[F.col(f"mh{b * rows + r}")
                                     for r in range(rows)])).alias("key"),
        )
        for b in range(bands)
    ])
    buckets = sig.select("doc", F.explode(band_keys).alias("bk")) \
                 .select("doc", F.col("bk.band").alias("band"),
                         F.col("bk.key").alias("key"))
    if max_bucket_size is not None:
        keep = (buckets.groupBy("band", "key")
                       .agg(F.count(F.lit(1)).alias("__bsz"))
                       .filter(F.col("__bsz") <= max_bucket_size)
                       .select("band", "key"))
        buckets = buckets.join(keep, ["band", "key"])
    a = buckets.select(F.col("doc").alias("doc_a"), "band", "key")
    b = buckets.select(F.col("doc").alias("doc_b"), "band", "key")
    return (a.join(b, ["band", "key"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("n_bands")))


def minhash_decontam(train: DataFrame, bench: DataFrame,
                     id_col: str, text_col: str,
                     *, n_hashes: int = 8, bands: int = 4,
                     shingle_n: int = 3,
                     max_bench_docs: int | None = None) -> DataFrame:
    """Probabilistic benchmark decontamination: training documents
    whose MinHash signature agrees with ANY benchmark document on ≥ 1
    full band — the fuzzy complement of the exact-8-gram
    `ngram_contamination` lens (a lightly paraphrased or truncated
    eval answer shifts every long n-gram but keeps most shingles, so
    its banded signature still collides). Same signature family and
    banding as the certified `minhash_lsh_pairs`, applied CROSS-corpus
    (train × bench) instead of self-joined.

    The benchmark is treated as a SET of texts: exact duplicates are
    collapsed to one representative (smallest id) BEFORE signing, so
    ``n_bench_docs`` counts distinct benchmark texts matched, never
    copies — a multiset benchmark would both double-count
    contamination and grow the collision join quadratically in the
    duplication factor (measured: the 10× key-offset sf1 synthetic
    drove the slope to ~11 before the collapse, ~linear after).

    Scale: the benchmark side is EXPECTED small — an eval suite is
    thousands-to-millions of documents, and its banded bucket relation
    (bands × distinct texts rows of two md5 strings) must fit the
    broadcast budget; it is broadcast so the training corpus is never
    shuffled (the ngram_contamination broadcast rule). That
    expectation is a HARD precondition, not a hint: a caller that
    passes a corpus-sized `bench` gets a driver/executor OOM from the
    broadcast, not a graceful fallback (ADVICE r15 #4 — contrast
    minhash_lsh_pairs, whose analogous hazard has the max_bucket_size
    cap). Pass ``max_bench_docs`` to turn the precondition into a
    clear error: the deduplicated benchmark is counted (one cheap
    aggregate job over the small side at build time) and a count
    above the cap raises ValueError instead of OOMing mid-broadcast.
    The default (None) keeps the build lazy for callers whose bench
    relation is small by construction (the certified registry entry
    filters a bounded benchmark slice).

    The train side pays one signature aggregation (md5-dominated,
    map-side combined) and a map-side band explode. Returns one row
    per CONTAMINATED train doc: ``(id_col, n_bench_docs, max_bands)``
    — how many distinct bench texts it collides with and the
    strongest agreement."""
    assert n_hashes % bands == 0
    rows = n_hashes // bands
    bench = (bench
             .groupBy(F.md5(F.col(text_col)).alias("__bfp"))
             .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                 F.col(text_col).alias("t")))
                   .alias("__s"))
             .select(F.col("__s.i").alias(id_col),
                     F.col("__s.t").alias(text_col)))
    if max_bench_docs is not None:
        n_bench = bench.count()
        if n_bench > max_bench_docs:
            raise ValueError(
                f"minhash_decontam: benchmark side has {n_bench} "
                f"distinct texts > max_bench_docs={max_bench_docs}; "
                f"the banded bucket relation is broadcast and a "
                f"corpus-sized bench would OOM — shrink the benchmark "
                f"or raise the cap deliberately")
    # Train-side signature through the shared plan-keyed persist (r17,
    # VERDICT r16 #2): the decontam LENSES (flag histogram, lens
    # agreement, per-source ppm, the capstone's clean stage) all sign
    # the same train relation — one materialization per session serves
    # the tier. The bench-side signature is eval-suite-sized; not
    # worth a slot.
    sig_t = shared_minhash_signature(train, id_col, text_col,
                                     n_hashes=n_hashes,
                                     shingle_n=shingle_n)
    sig_b = minhash_signature(bench, id_col, text_col,
                              n_hashes=n_hashes, shingle_n=shingle_n)

    def buckets(sig: DataFrame, alias: str) -> DataFrame:
        band_keys = F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *[F.col(f"mh{b * rows + r}")
                                         for r in range(rows)]))
                 .alias("key"))
            for b in range(bands)
        ])
        return (sig.select(F.col("doc").alias(alias),
                           F.explode(band_keys).alias("bk"))
                   .select(alias, F.col("bk.band").alias("band"),
                           F.col("bk.key").alias("key")))

    bt = buckets(sig_t, "doc")
    bb = F.broadcast(buckets(sig_b, "bench_doc"))
    hits = (bt.join(bb, ["band", "key"])
              .groupBy("doc", "bench_doc")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands")))
    return (hits.groupBy("doc")
                .agg(F.count(F.lit(1)).cast("bigint")
                      .alias("n_bench_docs"),
                     F.max("n_bands").cast("bigint").alias("max_bands"))
                .withColumnRenamed("doc", id_col))


def _simhash_bit_votes(ex: DataFrame, h, n_bits: int,
                       out_col: str) -> DataFrame:
    """Shared SimHash core: each bit of the per-shingle hash `h` votes ±1,
    the sign of the vote sum sets the signature bit.

    Relational formulation for scale: ONE grouped aggregation with
    `n_bits` codegen'd ``count_if`` bit counters (map-side partial
    aggregation applies — shuffle volume is n_bits+1 longs per doc). An
    earlier array-lambda formulation re-scanned the shingle array per bit
    through interpreted higher-order functions and was ~20× slower at
    sf0.1."""
    # Expressions built as parsed SQL strings, one py4j round trip per
    # aggregate instead of ~5 (r16: the 60-bit portable variant spent
    # ~1 s of every BUILD constructing these Column trees call-by-call;
    # the parsed expressions are token-identical to the old builders).
    exh = ex.withColumn("__h", h)
    bit_counts = [
        F.expr(f"count_if((shiftrightunsigned(__h, {bit}) & 1) = 1)")
         .alias(f"b{bit}")
        for bit in range(n_bits)
    ]
    agg = exh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"), *bit_counts)

    # majority vote; shiftleft(1L, 63) wraps to Long.MIN_VALUE — the
    # sign bit, still a valid signature bit under bitwise OR.
    sig = F.expr(" | ".join(
        f"(CASE WHEN (b{bit} * 2) > n THEN shiftleft(CAST(1 AS BIGINT), "
        f"{bit}) ELSE CAST(0 AS BIGINT) END)"
        for bit in range(n_bits)))
    return agg.select("doc", sig.alias(out_col))


def simhash(df: DataFrame, id_col: str, text_col: str,
            *, shingle_n: int = 2) -> DataFrame:
    """64-bit SimHash over per-shingle xxhash64 — the fast JVM-native
    variant (one xxhash64 per shingle, no md5). xxhash64 differs between
    engines → no SQL oracle; verified by property tests (near-dup texts →
    small Hamming distance). See `simhash_portable` for the oracle-paired
    twin."""
    ex = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(text_col, shingle_n)).alias("sh"))
    return _simhash_bit_votes(ex, F.xxhash64(F.col("sh")), 64, "simhash64")


def simhash_portable(df: DataFrame, id_col: str, text_col: str,
                     *, shingle_n: int = 2) -> DataFrame:
    """60-bit SimHash whose per-shingle hash is the first 15 hex chars of
    ``md5(shingle)`` — engine-portable (DuckDB computes the identical
    value via ``CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)``), so this
    variant carries a full value-hash oracle. 15 hex chars = 60 bits keeps
    the value inside a signed 64-bit integer on both engines; 60 bits of
    signature loses nothing material vs 64 (Hamming radii scale with bit
    count). Same bit-vote core and scale shape as `simhash`."""
    ex = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(text_col, shingle_n)).alias("sh"))
    h = F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("long")
    return _simhash_bit_votes(ex, h, 60, "simhash60")


def simhash_ham_pairs(sig: DataFrame, *, sig_col: str = "simhash60",
                      id_col: str = "doc", n_bits: int = 60,
                      bands: int = 4, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs from SimHash signatures: all (a < b) pairs with
    Hamming distance ≤ `max_hamming`, WITHOUT a pairwise scan.

    Pigeonhole banding: split the `n_bits` signature into `bands` equal
    bit-bands; any pair differing in ≤ bands−1 bits must agree EXACTLY on
    at least one band, so the candidate set is an equi-join on
    (band_index, band_bits) — cost ∝ band collisions, never |docs|².
    Requires ``max_hamming < bands`` for lossless recall (the standard
    LSH-for-Hamming construction). Exact distance is then verified with
    one ``bit_count(xor)`` per candidate. Everything is integer bit math
    (shift/mask/xor/bit_count) — identical in the SQL oracle."""
    assert max_hamming < bands, "pigeonhole recall needs max_hamming < bands"
    assert n_bits % bands == 0
    w = n_bits // bands
    mask = (1 << w) - 1
    band_arr = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftrightunsigned(F.col(sig_col), b * w)
                  .bitwiseAND(F.lit(mask)).alias("bits"))
        for b in range(bands)
    ])
    bk = (sig.select(F.col(id_col).alias("doc"),
                     F.col(sig_col).alias("sig"),
                     F.explode(band_arr).alias("bk"))
             .select("doc", "sig", F.col("bk.band").alias("band"),
                     F.col("bk.bits").alias("bits")))
    a = bk.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"),
                  "band", "bits")
    b = bk.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"),
                  "band", "bits")
    return (a.join(b, ["band", "bits"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b", "sig_a", "sig_b")
             .dropDuplicates(["doc_a", "doc_b"])
             .withColumn("hamming",
                         F.bit_count(
                             F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                          .cast("int"))
             .filter(F.col("hamming") <= max_hamming)
             .select("doc_a", "doc_b", "hamming"))


def _known_marked(known_fps: DataFrame) -> DataFrame:
    """Distinct store fingerprints tagged ``__k = 1`` for the left join."""
    return known_fps.select("fp").distinct().withColumn("__k", F.lit(1))


def _verdict_select(probed: DataFrame, fp: DataFrame,
                    id_col: str) -> DataFrame:
    """Shared verdict step for incremental dedup: batch-internal canon
    (min-id per fingerprint — a deterministic total order) joined onto
    the store-probed rows, then the three-way status. Both the exact and
    the Bloom-prefiltered operators go through THIS code, so their
    row-for-row equivalence is structural, not a parallel-maintenance
    promise."""
    canon = fp.groupBy("fp").agg(F.min(id_col).alias("__min_id"))
    return (probed.join(canon, "fp")
            .select(
                F.col(id_col), "fp",
                F.when(F.col("__k").isNotNull(), F.lit("known_dup"))
                 .when(F.col(id_col) != F.col("__min_id"),
                       F.lit("batch_dup"))
                 .otherwise(F.lit("new")).alias("status")))


def dedup_incremental(new_docs: DataFrame, known_fps: DataFrame,
                      *, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Dedup an incoming batch against an already-ingested corpus
    WITHOUT rescanning the corpus — the incremental-ingest shape: the
    existing corpus is represented only by its fingerprint store
    (`known_fps`, one `fp` column of md5 hex), which at 100 TB lives as
    a parquet table bucketed by `fp` so this join is co-located and
    shuffle-free. The batch side shuffles on the 16-byte uniform md5
    key — no skew by construction.

    Verdict per batch row:
    * ``known_dup`` — fingerprint already in the store;
    * ``batch_dup`` — first seen inside this batch, but a smaller id in
      the same batch shares the fingerprint;
    * ``new`` — the batch survivor (exactly one per unseen fingerprint,
      smallest id — a deterministic total order).

    Output: (id, fp, status). Appending ``fp WHERE status = 'new'`` to
    the store keeps the next batch's check exact."""
    fp = new_docs.select(F.col(id_col),
                         fingerprint_exact(text_col).alias("fp"))
    probed = fp.join(_known_marked(known_fps), "fp", "left")
    return _verdict_select(probed, fp, id_col)


# ---------------------------------------------------------------------------
# Bloom-prefiltered incremental dedup
# ---------------------------------------------------------------------------

_BLOOM_K = 7  # hash functions per key; fpp ≈ (1 - e^(-k*n/m))^k


def _bloom_positions(fps: pd.Series, m_bits: int) -> np.ndarray:
    """k bit positions per fingerprint: ONE md5 per fingerprint, k
    positions by double hashing its two 64-bit halves
    (``pos_i = (h1 + i·h2) mod m`` — Kirsch-Mitzenmacher, preserves the
    Bloom fpp bound), then vectorized numpy for the modular walk.

    Pure recomputation — build and probe call the same function, so a
    fingerprint present in the store can NEVER probe negative (the
    exactness guarantee). md5 (not Python hash()) keeps positions stable
    across processes, partitions, and reruns; bitmaps are only valid
    within one (function-version, m_bits) pairing — rebuild per wave,
    never persist across upgrades."""
    import hashlib

    halves = np.empty((len(fps), 2), dtype=np.uint64)
    for row, fp in enumerate(fps):
        d = hashlib.md5(str(fp).encode()).digest()
        halves[row, 0] = int.from_bytes(d[:8], "big")
        halves[row, 1] = int.from_bytes(d[8:], "big") | 1  # odd step
    i = np.arange(_BLOOM_K, dtype=np.uint64)
    pos = (halves[:, :1] + i * halves[:, 1:]) % np.uint64(m_bits)
    return pos.astype(np.int64)


def build_fp_bloom(known_fps: DataFrame, *, m_bits: int = 1 << 23) -> bytes:
    """One bitmap over the fingerprint store.

    Executors each fold their partitions into a local ``m_bits``-bit
    numpy array inside ``mapInPandas`` (Arrow-batched; one md5 + a
    vectorized position walk per fingerprint); the driver ORs one small
    bitmap per partition. At 100 TB: 1e9 stored fingerprints at k=7 want
    m ≈ 1.2e10 bits (~1.4 GB) — still a broadcast-able prefilter, and
    the partial bitmaps can be OR-reduced in a tree instead of on the
    driver. The collect here moves ``n_partitions × m/8`` bytes of
    bitmap, never fingerprint rows."""
    if m_bits % 8 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 8, "
                         f"got {m_bits}")
    n_bytes = m_bits // 8

    def fold(batches):
        bits = np.zeros(n_bytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            if len(pdf):
                seen = True
                pos = _bloom_positions(pdf["fp"], m_bits).ravel()
                np.bitwise_or.at(bits, pos >> 3,
                                 np.uint8(1) << (pos & 7).astype(np.uint8))
        if seen:
            yield pd.DataFrame({"bitmap": [bits.tobytes()]})

    partials = (known_fps.select(F.col("fp").cast("string").alias("fp"))
                .mapInPandas(fold, "bitmap binary").collect())
    acc = np.zeros(n_bytes, dtype=np.uint8)
    for row in partials:
        acc |= np.frombuffer(row["bitmap"], dtype=np.uint8)
    return acc.tobytes()


def dedup_incremental_bloom(new_docs: DataFrame, known_fps: DataFrame,
                            *, id_col: str = "doc_id",
                            text_col: str = "text",
                            m_bits: int = 1 << 23) -> DataFrame:
    """``dedup_incremental`` with a Bloom prefilter on the store join.

    The shape that matters at 100 TB: the fingerprint store has ~1e9 rows
    and the anti-join against it shuffles BOTH sides on fp. A Bloom bitmap
    of the store (built once per ingest wave, broadcast to executors) lets
    every batch row that probes negative skip that join entirely — it is
    *definitely* not in the store (no false negatives by construction,
    see ``_bloom_positions``). Only the ~fpp fraction of probe-positive
    rows reach the store join, collapsing the batch-side shuffle by
    1/fpp. False positives are harmless for correctness: they fall
    through to the exact left join and resolve to NULL there.

    Result is row-for-row identical to ``dedup_incremental`` at ANY fpp —
    both operators share ``_verdict_select`` and the same SQL oracle.
    """
    from pyspark.sql import functions as SF

    bitmap = np.frombuffer(build_fp_bloom(known_fps, m_bits=m_bits),
                           dtype=np.uint8)
    bc = new_docs.sparkSession.sparkContext.broadcast(bitmap)

    @SF.pandas_udf("boolean")
    def might_contain(fp: pd.Series) -> pd.Series:
        bits = bc.value
        pos = _bloom_positions(fp, m_bits)
        hit = (bits[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8)))
        return pd.Series((hit != 0).all(axis=1))

    # persist: the probe column feeds BOTH filter legs and the canon
    # aggregate — without it the pandas UDF re-evaluates per consumer.
    fp = caching.persist(
        new_docs.select(F.col(id_col),
                        fingerprint_exact(text_col).alias("fp"))
        .withColumn("__maybe", might_contain("fp")))

    # Store join only for probe-positive rows; negatives keep __k = NULL
    # without touching the store.
    probed = (fp.filter("__maybe")
                .join(_known_marked(known_fps), "fp", "left")
                .unionByName(fp.filter("NOT __maybe")
                               .withColumn("__k", F.lit(None).cast("int"))))
    return _verdict_select(probed.drop("__maybe"), fp, id_col)


def shingle_blocking_profile(df: DataFrame, id_col: str, text_col: str,
                             *, n: int = 3,
                             block_cols: list[str] | None = None
                             ) -> DataFrame:
    """Blocking cost estimator for the shingle-join dedup family: per
    block, the EXACT candidate-pair volume the self-join would
    generate — the number that decides `max_shingle_df` BEFORE a
    100 TB pass is launched (a shingle with document frequency d
    contributes d·(d−1)/2 pairs; the profile makes the Σ visible
    instead of discovering it as a hung stage).

    Output per block: ``n_docs``, ``n_occurrences`` (doc-shingle
    rows), ``n_distinct_shingles``, ``max_df`` (the hottest shingle),
    and ``candidate_pairs`` = Σ_sh df·(df−1)/2 — all exact integers
    from ONE aggregation over the exploded shingle stream plus a
    per-block roll-up (two bounded shuffles; nothing touches document
    bodies). Unblocked profiling = one global row (pass no
    block_cols)."""
    block_cols = block_cols or []
    ex = _shingled(ensure_parallelism(df), id_col, text_col, n,
                   block_cols)
    per_sh = (ex.groupBy(*block_cols, "sh")
                .agg(F.count(F.lit(1)).alias("__df")))
    docs = (ex.groupBy(*block_cols)
              .agg(F.count_distinct("doc").alias("n_docs"),
                   F.count(F.lit(1)).alias("n_occurrences")))
    agg = (per_sh.groupBy(*block_cols)
           .agg(F.count(F.lit(1)).alias("n_distinct_shingles"),
                F.max("__df").alias("max_df"),
                F.sum(F.expr("__df * (__df - 1L) div 2"))
                 .alias("candidate_pairs")))
    if block_cols:
        return docs.join(agg, block_cols)
    return docs.crossJoin(agg)


def minhash_bucket_profile(df: DataFrame, id_col: str, text_col: str,
                           *, n_hashes: int = 8, bands: int = 4,
                           shingle_n: int = 3,
                           cap: int = 64) -> DataFrame:
    """Capacity-planning view of the LSH bucket distribution: how many
    (band, key) buckets exist at each size, and which sizes the
    `max_bucket_size` mega-cluster cap would drop. This is the input
    you look at BEFORE picking the cap — bucket size c emits c·(c−1)/2
    candidate pairs, so the histogram IS the pair-volume forecast.

    Same signature/banding construction as `minhash_lsh_pairs`
    (deliberately restated rather than refactored out of the certified
    operator); one (band, key)-keyed count — the shuffle carries
    bucket keys, never documents — then a size-keyed rollup of that
    already-tiny relation. The signature rides the tier-shared
    plan-keyed persist (r17, VERDICT r16 #2): this profile is an
    eval/planning readout consumed alongside the banding scorecards,
    which all sign the same relation."""
    assert n_hashes % bands == 0
    rows = n_hashes // bands
    sig = shared_minhash_signature(df, id_col, text_col,
                                   n_hashes=n_hashes, shingle_n=shingle_n)
    band_keys = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[F.col(f"mh{b * rows + r}")
                                     for r in range(rows)])).alias("key"),
        )
        for b in range(bands)
    ])
    buckets = sig.select("doc", F.explode(band_keys).alias("bk")) \
                 .select(F.col("bk.band").alias("band"),
                         F.col("bk.key").alias("key"))
    sizes = buckets.groupBy("band", "key").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz"))
    return (sizes.groupBy(F.col("sz").alias("bucket_size"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets"))
            .select("bucket_size", "n_buckets",
                    (F.col("bucket_size") > cap).alias("over_cap"),
                    F.expr("bucket_size * (bucket_size - 1) div 2 "
                           "* n_buckets").cast("bigint")
                    .alias("pair_volume")))
