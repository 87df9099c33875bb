"""Round-16 optimization guards: every restructure done for speed in
the optimization round must provably compute the same thing as the
formulation it replaced (the driver's oracle catches drift at sf0.01;
these pin the equivalences on adversarial hand-built frames too)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from yougile_etl_pipeline_spark.operators.relational import (
    dedup_by_key,
    dedup_by_key_agg,
)
from yougile_etl_pipeline_spark.sources.tables import (
    ensure_parallelism,
    load_table,
    table_row_count,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_dedup_by_key_agg_matches_window(spark):
    # duplicate keys, ties on the first order col, and NULLs in the
    # second — the struct min must pick exactly the window's rn==1 row
    df = spark.createDataFrame(
        [(1, 2, 5.0), (1, 1, 9.0), (1, 1, 3.0),
         (2, 7, None), (2, 7, 1.0),
         (3, 4, 4.0),
         (4, None, 2.0), (4, 0, 0.0)],
        "k int, a int, b double")
    win = dedup_by_key(df, ["k"], [F.col("a"), F.col("b")])
    agg = dedup_by_key_agg(df, ["k"], ["a", "b"])
    assert _rows(win) == _rows(agg)
    assert win.columns == agg.columns
    assert dict(win.dtypes) == dict(agg.dtypes)


def test_dedup_by_key_agg_partial_aggregates_without_input_sort(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity")
    out = dedup_by_key_agg(li, ["l_orderkey"],
                           ["l_linenumber", "l_quantity"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the point of the agg form: map-side partial min before the
    # exchange, and no Sort of the input stream below it
    assert "partial_min" in plan
    assert "WindowGroupLimit" not in plan


def test_table_row_count_matches_spark_count(spark):
    for name in ("embeddings", "orders", "documents"):
        assert table_row_count(SF_SMOKE, name) == \
            load_table(spark, SF_SMOKE, name).count()


def test_ensure_parallelism_memo_decision_is_stable(spark):
    # the semanticHash memo must reproduce the un-memoized decision:
    # same plan twice -> same partition count -> same repartition choice
    a = ensure_parallelism(load_table(spark, SF_SMOKE, "documents"))
    b = ensure_parallelism(load_table(spark, SF_SMOKE, "documents"))
    assert a.rdd.getNumPartitions() == b.rdd.getNumPartitions()
    target = spark.sparkContext.defaultParallelism
    assert a.rdd.getNumPartitions() >= min(
        target, load_table(spark, SF_SMOKE, "documents")
        .rdd.getNumPartitions())


def test_load_table_memo_returns_equivalent_plan(spark):
    # memoized plans are the same lazy scan: same schema, same rows
    a = load_table(spark, SF_SMOKE, "orders")
    b = load_table(spark, SF_SMOKE, "orders")
    assert a is b            # one plan object per (session, dir, table)
    assert a.schema == b.schema


def test_lsh_smallq_fast_path_matches_bucketed_join(spark):
    """The map-side small-|Q| LSH path must produce exactly the rows of
    the bucket-join formulation (same candidate set, same exact-rerank
    bits) — pinned against the cogroup path invoked directly."""
    from yougile_etl_pipeline_spark.operators import similarity as S

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    fast = S.lsh_bucket_topk_np(emb, queries, k=5,
                                n_tables=6, planes_per_table=4)
    # pin the plan shape BEFORE executing: fast path, no cogroup, no
    # corpus shuffle beyond the fan-out + the tiny rerank repartition
    # (a post-execution explain reflects the final adaptive plan and
    # its reprints, which inflate node counts)
    from yougile_etl_pipeline_spark.operators.diagnostics import (
        plan_profile,
    )

    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in plan
    assert plan_profile(fast)["shuffle_exchanges"] <= 2
    cb = S._bucketed_np(emb, "match_id", "c_vec", "vec_id", "embedding",
                        6, 4)
    qb = S._bucketed_np(queries, "query_id", "q_vec", "vec_id",
                        "embedding", 6, 4, fan_out=False)
    slow = S.lsh_topk_from_bucketed(cb, qb, queries, k=5)
    assert _rows(fast) == _rows(slow)


def test_dup_span_gram_stream_prepartitioned_by_fingerprint(spark):
    """The shared gram stream is hash-partitioned by the md5
    fingerprint BEFORE the LRU persist, so the debut aggregation and
    the join-back (both fp-keyed) reuse that one exchange instead of
    re-shuffling the full stream (guide §2.4). Cold-plan shape: the
    repartition must be present and keyed on __fp."""
    from yougile_etl_pipeline_spark.operators import caching, text

    caching.drain(spark)

    docs = load_table(spark, SF_SMOKE, "documents")
    out = text.dup_span_removal(docs, n=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__fp" in plan
