"""Registry-wide physical-plan audit (dev tool): plan_profile every
registered query and flag scale smells — nested-loop joins and
shuffle-heavy plans — so an accidental cartesian product or a lost
broadcast anywhere in the registry is visible in one run.

Known-benign flags (r05 audit baseline, re-check on drift):

* BroadcastNestedLoopJoin with a ONE-ROW build side — the broadcast
  corpus-stats pattern (bm25/tfidf/lm-quality stats, zorder bounds,
  key-skew totals, decontam threshold, Q15/Q11 scalar thresholds,
  ivf_kmeans's centroid-count scalar): effectively a map-side constant
  append, optimal at any scale. `j_cross` is a cartesian product by
  definition.
* High shuffle counts on multi-stage-by-design ops: graph_pagerank
  (unrolled power iterations), dedup_shingle_* (blocked self-join),
  dedup_minhash_recall_eval (computes the exact truth set AND the LSH
  path), corpus_clean_pipeline (capstone composition).

r13 baseline refresh (all 20 then-flagged queries reviewed, zero
defects — every flag falls into the two classes above as the registry
grew past the r05 snapshot):

* One-row broadcast corpus-scalar joins (BroadcastNestedLoopJoin with
  a 1-row build): events_zscore_anomaly_days /
  quality_effect_size_cohens_d / events_mann_kendall_trend (global
  mean/std/var row), quality_lorenz_deciles + mart_repeat_purchase_
  curve + events_hour_dow_heatmap (grand-total row),
  sample_temperature_mixture (w_min row), freq_association_rules +
  text_collocations (n_total row), events_funnel_windowed +
  events_attribution_gap_bands (window-bounds row),
  graph_bfs_layer_hist (frontier-total row), quality_distribution_
  drift / dedup_semantic / dedup_shingle_containment (threshold rows).
* Truth-AND-candidate eval double-paths (high shuffles by design):
  sim_pq_recall_eval, dedup_cluster_purity_eval,
  dedup_simhash_recall_eval, link_blocking_recall_eval.
* Unrolled iterative graph plans: graph_harmonic_r2 (two BFS depths).

Anything OUTSIDE these classes deserves a look before it ships.
Round-13's 14 new registrations produced ZERO new flags.

Usage: python scripts/audit_plans.py  [env: SPARK_GRAFT_SF_DIR]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

KNOWN_NESTED_LOOP = {
    "text_bm25_scores", "j_cross", "ivf_kmeans_step",
    "text_tfidf_top_terms", "layout_zorder_profile", "quality_key_skew",
    "decontam_embedding", "text_lm_quality", "sql_having_total",
    "sql_q15_top_supplier", "dedup_minhash_recall_eval",
    # r14 baseline ENCODED (the r13 refresh reviewed these in the
    # docstring but left the sets stale, so "unexpected flags" had
    # drifted to 65 and the audit was unactionable): every name below
    # was re-reviewed r14 and is the ONE-ROW broadcast corpus-scalar
    # pattern (global total / threshold / bounds / w_min / centroid
    # count rows appended by a 1-row BroadcastNestedLoopJoin — a
    # map-side constant at any scale).
    "corpus_mixture_rebalance", "dedup_semantic",
    "events_attribution_gap_bands", "events_error_burst_runs",
    "events_funnel_windowed", "events_hour_dow_heatmap",
    "events_km_median_latency", "events_ks_global",
    "events_missing_days", "events_survival_km",
    "events_zscore_anomaly_days", "freq_association_rules",
    "freq_copurchase_lift", "graph_double_sweep_diameter",
    "graph_reciprocity", "ivfpq_topk", "link_blocking_recall_eval",
    "mart_abc_parts", "mart_pareto_coverage",
    "mart_repeat_purchase_curve", "mart_rfm_scores", "quality_benford",
    "quality_chi2_lang_source", "quality_cramers_v",
    "quality_distribution_drift", "quality_effect_size_cohens_d",
    "quality_lorenz_deciles", "quality_runs_test_gate",
    "quality_tv_drift_gate", "sample_temperature_curve",
    "sample_temperature_mixture", "sim_ivf_cluster_balance",
    "sim_margin_audit", "text_collocations",
    "text_vocab_coverage_curve", "text_zipf_rank_ratio",
    # r15 rotation: the registry_r15 bank went live and its one-row
    # broadcast corpus scalars flag as usual. Reviewed r15 (code
    # read: every BNLJ below is a crossJoin(F.broadcast(<one-row
    # agg>)) appending a global total / threshold / max / truth-count
    # row — a map-side constant at any scale):
    "train_token_budget_select",   # token-budget total row
    "events_page_hinkley_drift",   # global mean + PH max rows
    "quality_jarque_bera",         # moment-scalar + max rows
    "dedup_idf_jaccard",           # N-docs row onto the weight calc
    "text_heaps_curve",            # corpus totals onto curve points
    "train_mix_epochs_plan",       # mixture total row
    "events_changepoint_scan",     # global stats onto candidate scan
    "sim_lsh_recall_sweep",        # truth-count row onto each arm
    # r16 rotation: the registry_r16 bank went live and its one-row
    # broadcast corpus scalars flag as usual. Reviewed r16 (code
    # read: every BNLJ below is a crossJoin(F.broadcast(<one-row
    # agg>)) appending a global total / count / budget row — a
    # map-side constant at any scale):
    "quality_dedup_threshold_curve",  # p_agg x d_agg one-row cross
    "dedup_pair_degree_hist",      # nd x ntouched zero-degree row
    "text_skipgram_cooccurrence",  # corpus-total row
    "dedup_minhash_band_sweep",    # tn/cn one-row pair per arm (x3)
    "train_token_apportionment",   # total + leftover-k one-row rows
    "events_session_gap_sweep",    # per-arm global scalar rows
    # Missed in the r16 review pass (a fresh session flags it
    # deterministically — verified 3x; same reviewed pattern as the
    # block above):
    "text_mean_docfreq_gate",      # crossJoin(broadcast(nd)) N row
}
KNOWN_SHUFFLE_HEAVY = {
    "graph_pagerank", "dedup_shingle_jaccard", "dedup_shingle_capped",
    "dedup_minhash_recall_eval", "corpus_clean_pipeline",
    # r14 baseline ENCODED (see the nested-loop note): reviewed
    # members of the two multi-stage-by-design classes — unrolled
    # iterative graph plans (hits 41, double_sweep 39, pagerank_pers,
    # harmonic_r2, bfs_layer_hist, clustering_coeff/link_jaccard
    # triangle paths) and truth-AND-candidate eval double-paths /
    # capstone compositions (recall/purity/estimate evals,
    # cap_audit's exact+capped twin, release manifest, blocked
    # self-join pair miners, multi-output marts).
    "corpus_release_manifest", "dedup_cluster_purity_eval",
    "dedup_minhash_estimate_error", "dedup_semantic",
    "dedup_simhash_recall_eval", "events_funnel_windowed",
    "events_km_median_latency", "events_mann_kendall_trend",
    "events_seasonal_anomalies", "freq_association_rules",
    "freq_copurchase_lift", "graph_bfs_layer_hist",
    "graph_clustering_coeff", "graph_double_sweep_diameter",
    "graph_harmonic_r2", "graph_hits_scores", "graph_link_jaccard",
    "graph_pagerank_personalized", "ivfpq_topk", "mart_abc_parts",
    "mart_pareto_coverage", "mart_rfm_scores",
    "quality_distribution_drift", "sample_temperature_curve",
    "sample_temperature_mixture", "sim_ivf_recall_eval",
    "sim_pq_recall_eval", "text_dup_span_cap_audit",
    "text_jaccard_topk_pairs",
    # r15 rotation: reviewed members of the same two multi-stage-by-
    # design classes. dedup_idf_jaccard (11) is a blocked self-join
    # pair miner like dedup_shingle_*; sim_lsh_recall_sweep (30,
    # was 42 before the shared-stream fix) is a truth-AND-three-arm
    # eval double-path; events_page_hinkley_drift (8) and
    # events_changepoint_scan (11) are per-type cumulative time-series
    # scans (windows keyed by type, bounded by the calendar);
    # text_heaps_curve (8) is a curve of grouped prefixes over one
    # tokenized stream.
    "dedup_idf_jaccard", "sim_lsh_recall_sweep",
    "events_page_hinkley_drift", "events_changepoint_scan",
    "text_heaps_curve",
    # r16 rotation: reviewed members of the same two multi-stage-by-
    # design classes. dedup_minhash_band_sweep (35) is the three-arm
    # banding sweep over one persisted signature + one persisted
    # truth (shapes documented in SCALE.md's r16-gate table, slope
    # argument included); quality_dedup_threshold_curve (9) and
    # dedup_pair_degree_hist (10) aggregate one persisted blocked
    # pair relation twice (pair- and doc-level); sim_rrf_fusion (7)
    # fuses two certified ANN arms; dedup_neardup_source_crosstab
    # (16) is a CC lineage like dedup_clusters;
    # train_token_apportionment (8) and events_session_gap_sweep (12)
    # are |langs|- and |arms|-scale windows over one keyed agg each.
    "dedup_minhash_band_sweep", "quality_dedup_threshold_curve",
    "dedup_pair_degree_hist", "sim_rrf_fusion",
    "dedup_neardup_source_crosstab", "train_token_apportionment",
    "events_session_gap_sweep",
    # r17: the train-side MinHash signature rides the shared plan-keyed
    # persist (shared_minhash_signature) — the COLD plan prints the
    # persist subtree's own exchanges (5→7), while the warm executed
    # shape reads one InMemoryRelation (measured 0.587→0.270 s; same
    # mechanism-note pattern as the r16 dup-span prepartition).
    "decontam_minhash",
}
SHUFFLE_BUDGET = 6


def main() -> None:
    from yougile_etl_pipeline_spark.operators.diagnostics import (
        plan_profile,
    )
    from yougile_etl_pipeline_spark.registry import QUERIES
    from yougile_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="audit_plans")
    spark.sparkContext.setLogLevel("ERROR")
    unexpected = []
    for name, fn in QUERIES.items():
        try:
            p = plan_profile(fn(spark, SF))
        except Exception as e:  # noqa: BLE001 — report, keep auditing
            unexpected.append((name, "ERROR",
                               str(e).split("\n")[0][:100]))
            continue
        if p["has_nested_loop_join"] and name not in KNOWN_NESTED_LOOP:
            unexpected.append((name, "nested_loop", p["join_types"]))
        if (p["shuffle_exchanges"] > SHUFFLE_BUDGET
                and name not in KNOWN_SHUFFLE_HEAVY):
            unexpected.append(
                (name, f"shuffles={p['shuffle_exchanges']}", ""))
    for row in unexpected:
        print(row)
    print(f"audited {len(QUERIES)} queries; "
          f"unexpected flags: {len(unexpected)}")
    if unexpected:
        sys.exit(1)


if __name__ == "__main__":
    main()
