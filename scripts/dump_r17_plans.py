"""Capture `.explain("formatted")` for the queries touched by the
round-17 optimization pass into plans/r17/<query>_<tag>.txt.

Every query is built COLD: `caching.drain` empties the engine's reuse
cache and Spark's cache before each build, so the dumped plan is the
uncached one (a warm cache entry would substitute InMemoryRelations and
make the before/after diff depend on dump order).

Usage: python scripts/dump_r17_plans.py <tag> [query ...]
  tag: "before" | "after"; default query set = R17_TOUCHED below.
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1 — the bench scale).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "plans", "r17")

# Queries whose build paths round 17 touches (fast-path chunking +
# collect-once rerank; tier-shared signature/shingle persists; session
# conf re-measure; capstone stage sharing).
R17_TOUCHED = [
    "sim_cosine_topk",
    "sim_ann_lsh_bucket",
    "dedup_semantic",
    "dedup_minhash_recall_eval",
    "dedup_lsh_band_hist",
    "dedup_lsh_bucket_profile",
    "dedup_minhash_estimate_error",
    "dedup_minhash_band_sweep",
    "dedup_simhash_recall_eval",
    "decontam_minhash",
    "decontam_band_margin",
    "decontam_lens_agreement",
    "quality_contamination_by_source",
    "dedup_shingle_jaccard",
    "quality_dedup_threshold_curve",
    "dedup_pair_degree_hist",
    "win_rank_topn",
    "train_build_funnel",
    "train_corpus_build",
    "text_jaccard_topk_pairs",
]


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    from yougile_etl_pipeline_spark import registry_r17  # noqa: F401
    from yougile_etl_pipeline_spark.operators import caching
    from yougile_etl_pipeline_spark.operators.diagnostics import (
        formatted_plan,
        plan_profile,
    )
    from yougile_etl_pipeline_spark.registry import QUERIES
    from yougile_etl_pipeline_spark.session import get_spark

    names = sys.argv[2:] or list(R17_TOUCHED)
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark(app_name=f"dump-r17-plans-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        caching.drain(spark)
        df = QUERIES[name](spark, SF)
        plan = formatted_plan(df)
        p = plan_profile(df)
        header = (f"-- {name} @ {SF} ({tag})\n"
                  f"-- plan_profile: shuffles={p['shuffle_exchanges']} "
                  f"broadcasts={p['broadcast_exchanges']} "
                  f"pushed_scans={p['scans_with_pushed_filters']}\n")
        out = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(out, "w") as fh:
            fh.write(header + plan)
        print(f"wrote {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
