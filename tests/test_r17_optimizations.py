"""Round-17 optimization guards: every restructure done for speed in
optimization round 2 must provably compute the same thing as the
formulation it replaced, and the new memory bounds must actually
engage (VERDICT r16 #1: the LSH small-|Q| fast path's collision test
needed a byte bound, not just a row cap)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from yougile_etl_pipeline_spark.sources.tables import (
    load_table,
    table_row_count,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# 1. Chunked/packed batch top-k (similarity fast paths)
# ---------------------------------------------------------------------------

def test_np_batch_topk_chunked_matches_unchunked(monkeypatch):
    """Query-axis chunking is lossless for the CANDIDATE SET: forcing
    a 1-row chunk (tiny byte budget) must reproduce the single-chunk
    winners in the same order. Approx scores may differ by ~1 ulp
    (BLAS matvec vs matmul reduction order) — which is why the
    operators re-score winners with the exact HOF expression; the
    final query output is bit-identical either way."""
    from yougile_etl_pipeline_spark.operators import similarity as S

    rng = np.random.RandomState(7)
    q_ids = np.arange(37)
    Q = rng.randn(37, 16)
    ids = np.arange(100, 151)
    C = rng.randn(51, 16)
    C[3] = C[40]  # duplicate-score rows exercise the id tie-break
    args = (q_ids, Q, np.linalg.norm(Q, axis=1), ids, C, 4)

    big = S._np_batch_topk(*args)
    monkeypatch.setattr(S, "_SMALLQ_SCORE_BUDGET_BYTES", 1)
    tiny = S._np_batch_topk(*args)
    assert np.array_equal(big[0], tiny[0])  # query ids
    assert np.array_equal(big[1], tiny[1])  # winners, in order
    assert np.array_equal(big[3], tiny[3])  # batch row indices
    assert np.allclose(big[2], tiny[2], rtol=0, atol=1e-12)


def test_np_batch_topk_packed_codes_gate_candidates(monkeypatch):
    """With q_codes/c_codes, a pair survives iff SOME table's packed
    code matches — pinned against a direct per-pair evaluation, under
    forced chunking."""
    from yougile_etl_pipeline_spark.operators import similarity as S

    rng = np.random.RandomState(11)
    q_ids = np.arange(9)
    Q = rng.randn(9, 8)
    ids = np.arange(50, 90)
    C = rng.randn(40, 8)
    q_codes = rng.randint(0, 4, size=(9, 3))
    c_codes = rng.randint(0, 4, size=(40, 3))

    monkeypatch.setattr(S, "_SMALLQ_SCORE_BUDGET_BYTES", 1)
    oq, om, _os, _oi = S._np_batch_topk(
        q_ids, Q, np.linalg.norm(Q, axis=1), ids, C, k=40,
        q_codes=q_codes, c_codes=c_codes)
    got = set(zip(oq.tolist(), om.tolist()))
    want = {(int(q_ids[i]), int(ids[j]))
            for i in range(9) for j in range(40)
            if (q_codes[i] == c_codes[j]).any()}
    assert got == want


def test_lsh_smallq_thousands_of_queries_chunked_matches_cogroup(
        spark, monkeypatch):
    """VERDICT r16 #1 'done' condition: |Q| in the thousands through
    the fast path with the byte budget forcing many small chunks must
    (a) complete without materializing a |Q|-scaled block and (b)
    match the bucket-join/cogroup formulation row-for-row."""
    from yougile_etl_pipeline_spark.operators import similarity as S

    emb = load_table(spark, SF_SMOKE, "embeddings")
    # thousands of queries: key-offset copies of the corpus vectors
    queries = emb.select("vec_id", "embedding")
    for i in (1, 2):
        queries = queries.unionByName(
            emb.select((F.col("vec_id") + F.lit(10_000_000 * i))
                       .alias("vec_id"), "embedding"))
    n_q = queries.count()
    assert n_q >= 1000, "need |Q| in the thousands for this guard"

    # ~128 kB budget → chunk ≈ 128k/(8·|corpus|) rows: many chunks
    monkeypatch.setattr(S, "_SMALLQ_SCORE_BUDGET_BYTES", 128 * 1024)
    fast = S.lsh_bucket_topk_np(emb, queries, k=3)
    cb = S._bucketed_np(emb, "match_id", "c_vec", "vec_id", "embedding",
                        S.N_TABLES, S.PLANES_PER_TABLE)
    qb = S._bucketed_np(queries, "query_id", "q_vec", "vec_id",
                        "embedding", S.N_TABLES, S.PLANES_PER_TABLE,
                        fan_out=False)
    slow = S.lsh_topk_from_bucketed(cb, qb, queries, k=3)
    assert _rows(fast) == _rows(slow)


def test_collecting_paths_document_determinism_contract():
    """ADVICE r16 #2 resolution: the rerank side deliberately
    re-evaluates `queries` (a collected-rows local relation costs a
    Python-worker round trip per execution — measured +0.4 s/run), so
    the determinism requirement must be stated where callers see it."""
    from yougile_etl_pipeline_spark.operators import similarity as S

    for fn in (S.brute_force_topk_np, S.lsh_bucket_topk_np):
        doc = fn.__doc__ or ""
        assert "must be deterministic" in doc
        assert "EAGER" in doc


# ---------------------------------------------------------------------------
# 2. Hardened driver-side memos (sources/tables.py)
# ---------------------------------------------------------------------------

def test_ensure_parallelism_memo_reprobes_on_hash_collision(spark):
    """VERDICT r16 #4: a semanticHash collision must NOT silently
    reuse another plan's partition count — the sameSemantics confirm
    forces a re-probe."""
    from yougile_etl_pipeline_spark.sources import tables as T

    df = load_table(spark, SF_SMOKE, "orders")
    other = load_table(spark, SF_SMOKE, "documents")
    key = (spark.sparkContext.applicationId, df.semanticHash())
    true_n = df.rdd.getNumPartitions()
    # simulate a collision: the slot holds a DIFFERENT plan + bogus n
    T._NUM_PARTS_MEMO[key] = (other, 10_000)
    T.ensure_parallelism(df)
    assert T._NUM_PARTS_MEMO[key][1] == true_n, (
        "collision must re-probe, not trust the colliding entry")
    assert T._NUM_PARTS_MEMO[key][0].sameSemantics(df)


def test_table_memo_is_keyed_per_application(spark):
    from yougile_etl_pipeline_spark.sources import tables as T

    load_table(spark, SF_SMOKE, "orders")
    app = spark.sparkContext.applicationId
    assert (app, SF_SMOKE, "orders") in T._TABLE_MEMO
    # a restarted session (new applicationId) can never hit this entry:
    # every lookup key embeds the CURRENT context's applicationId
    assert all(k[0] == app for k in T._TABLE_MEMO
               if k[1] == SF_SMOKE and k[2] == "orders")
    # ...and the memos drop a stopped application's entries (they pin
    # its plans) as soon as a call arrives under another application.
    # Simulate "filled by an application that is gone" by re-stamping
    # both memos with a dead application id.
    dead = "local-stopped-app"
    stale = load_table(spark, SF_SMOKE, "orders")
    for memo in (T._TABLE_MEMO, T._NUM_PARTS_MEMO):
        memo.app = dead
        memo[(dead, "stale")] = (stale, 1)
    load_table(spark, SF_SMOKE, "orders")
    T.ensure_parallelism(stale)
    for memo in (T._TABLE_MEMO, T._NUM_PARTS_MEMO):
        assert memo.app == app
        assert memo and all(k[0] == app for k in memo), list(memo)


def test_table_row_count_recurses_and_raises_on_empty(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "part.parquet"
    (root / "k=a").mkdir(parents=True)
    (root / "k=b" / "nested").mkdir(parents=True)
    pq.write_table(pa.table({"x": [1, 2, 3]}),
                   root / "k=a" / "f1.parquet")
    pq.write_table(pa.table({"x": [4, 5]}),
                   root / "k=b" / "nested" / "f2.parquet")
    assert table_row_count(str(tmp_path), "part") == 5

    import pytest

    (tmp_path / "empty.parquet").mkdir()
    with pytest.raises(FileNotFoundError, match="no .parquet files"):
        table_row_count(str(tmp_path), "empty")


# ---------------------------------------------------------------------------
# 3. Tier-shared plan-keyed persists (dedup eval tier)
# ---------------------------------------------------------------------------

def test_shared_minhash_signature_returns_same_relation(spark):
    from yougile_etl_pipeline_spark.operators import dedup as D

    docs = load_table(spark, SF_SMOKE, "documents")
    a = D.shared_minhash_signature(docs, "doc_id", "text")
    b = D.shared_minhash_signature(docs, "doc_id", "text")
    assert a is b, "sameSemantics hit must return the persisted copy"
    # and it computes exactly minhash_signature
    assert _rows(a) == _rows(D.minhash_signature(docs, "doc_id", "text"))


def test_shingle_stream_lru_shares_across_builds(spark):
    from yougile_etl_pipeline_spark.operators import caching
    from yougile_etl_pipeline_spark.operators import dedup as D

    caching.drain(spark)

    docs = load_table(spark, SF_SMOKE, "documents")
    D.shingle_jaccard_pairs(docs, "doc_id", "text", threshold=0.5,
                            block_cols=["lang"])
    assert len(caching._STORE) == 1
    # same stream lineage (threshold does NOT participate): still 1
    D.shingle_jaccard_pairs(docs, "doc_id", "text", threshold=0.9,
                            block_cols=["lang"])
    assert len(caching._STORE) == 1, (
        "same capped stream must share one persist slot")
    # a different stream (other n) takes the second slot
    D.shingle_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.5,
                            block_cols=["lang"])
    assert len(caching._STORE) == 2


# ---------------------------------------------------------------------------
# 4. Vectorized PNG scanline filters (media_codec)
# ---------------------------------------------------------------------------

def _ref_filter_row(raw, prior, bpp, ftype):
    """The pre-r17 per-byte reference implementation."""
    from yougile_etl_pipeline_spark.operators.media_codec import _paeth

    out = bytearray(len(raw))
    for i in range(len(raw)):
        a = raw[i - bpp] if i >= bpp else 0
        b = prior[i]
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) >> 1
        else:
            c = prior[i - bpp] if i >= bpp else 0
            pred = _paeth(a, b, c)
        out[i] = (raw[i] - pred) & 0xFF
    return bytes(out)


def _ref_recon_row(filt, prior, bpp, ftype):
    from yougile_etl_pipeline_spark.operators.media_codec import _paeth

    recon = bytearray(len(filt))
    for i in range(len(filt)):
        a = recon[i - bpp] if i >= bpp else 0
        b = prior[i]
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) >> 1
        else:
            c = prior[i - bpp] if i >= bpp else 0
            pred = _paeth(a, b, c)
        recon[i] = (filt[i] + pred) & 0xFF
    return bytes(recon)


def test_png_scanline_filters_match_bytewise_reference():
    """The r17 vectorized filter/recon rows must be byte-identical to
    the per-byte spec loops for all five filter types, every bpp the
    encoders emit (1/3/4), tie-heavy rows (constant, two-level) and
    degenerate widths included — plus full filter→recon roundtrips."""
    from yougile_etl_pipeline_spark.operators.media_codec import (
        _png_filter_row,
        _png_recon_row,
    )

    rng = np.random.RandomState(20260818)
    cases = []
    for bpp in (1, 3, 4):
        # widths straddle the _PNG_VEC_MIN cutoff in every bpp so BOTH
        # the loop and the vector paths are exercised
        for w in (1, 2, 5, 37, 100):
            n = w * bpp
            cases.append((bytes(rng.randint(0, 256, n, dtype=np.uint8)),
                          bytes(rng.randint(0, 256, n, dtype=np.uint8)),
                          bpp))
            cases.append((b"\x7f" * n, b"\x7f" * n, bpp))  # paeth ties
            cases.append((bytes([0, 255] * (n // 2) + [0] * (n % 2)),
                          bytes([255, 0] * (n // 2) + [255] * (n % 2)),
                          bpp))
    for raw, prior, bpp in cases:
        for ftype in range(5):
            filt = _png_filter_row(raw, prior, bpp, ftype)
            assert filt == _ref_filter_row(raw, prior, bpp, ftype), \
                (bpp, ftype, "filter")
            assert _png_recon_row(filt, prior, bpp, ftype) \
                == _ref_recon_row(filt, prior, bpp, ftype), \
                (bpp, ftype, "recon")
            # and the roundtrip reconstructs the raw row exactly
            assert _png_recon_row(filt, prior, bpp, ftype) == raw


def test_minhash_lsh_pairs_shared_signature_matches_internal(spark):
    """The eval-tier rewiring (signature=shared_minhash_signature) must
    be a pure sharing change: candidate pairs identical to the
    internally-built signature path."""
    from yougile_etl_pipeline_spark.operators import dedup as D

    docs = load_table(spark, SF_SMOKE, "documents")
    internal = D.minhash_lsh_pairs(docs, "doc_id", "text",
                                   n_hashes=8, bands=4)
    shared = D.minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=8, bands=4,
        signature=D.shared_minhash_signature(docs, "doc_id", "text"))
    assert _rows(internal) == _rows(shared)
