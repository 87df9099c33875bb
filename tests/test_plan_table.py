"""Physical plans against the committed plan table.

PLAN_TABLE.json (written by scripts/full_sweep.py) holds one row per
registered and staged query: `plan_profile`'s counters, the
`plan_fingerprint` of its normalized EXPLAIN FORMATTED text and the
reviewed allowance for each audit flag the profile raises
(`diagnostics.audit_flags`). Here the bench headline
queries and the queries the r17 optimization pass touched are rebuilt
cold (reuse cache drained, as the sweep builds them) and compared with
their rows; a mismatch prints the normalized plan. A plan change that
is meant is committed by re-running the sweep and reviewing the diff of
the table.
"""

from __future__ import annotations

import importlib
import json
import os
import sys

import pytest

from bench import HEADLINE
from tests.conftest import SF_CORRECT
from yougile_etl_pipeline_spark.operators import caching
from yougile_etl_pipeline_spark.operators.diagnostics import (
    audit_flags,
    normalized_plan,
    plan_fingerprint,
    plan_profile,
)
from yougile_etl_pipeline_spark.registry import ORACLES, QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(REPO, "PLAN_TABLE.json")) as _f:
    TABLE = json.load(_f)

# Queries whose build paths round 17 touched (fast-path chunking,
# collect-once rerank, tier-shared signature and shingle persists,
# capstone stage sharing); five of them are staged in registry_r17.
R17_TOUCHED = [
    "sim_cosine_topk", "sim_ann_lsh_bucket", "dedup_semantic",
    "dedup_minhash_recall_eval", "dedup_lsh_band_hist",
    "dedup_lsh_bucket_profile", "dedup_minhash_estimate_error",
    "dedup_minhash_band_sweep", "dedup_simhash_recall_eval",
    "decontam_minhash", "decontam_band_margin", "decontam_lens_agreement",
    "quality_contamination_by_source", "dedup_shingle_jaccard",
    "quality_dedup_threshold_curve", "dedup_pair_degree_hist",
    "win_rank_topn", "train_build_funnel", "train_corpus_build",
    "text_jaccard_topk_pairs",
]
_R17 = "yougile_etl_pipeline_spark.registry_r17"


@pytest.fixture(scope="module")
def builders():
    """Every query's builder, the staged r17 entries included. They are
    registered under a snapshot of QUERIES/ORACLES that is restored at
    once (registry_r17's docstring), so the rest of the session sees
    the registry unchanged."""
    saved_q, saved_o = dict(QUERIES), dict(ORACLES)
    try:
        module = sys.modules.get(_R17)
        if module is None:
            module = importlib.import_module(_R17)
        else:
            for name in module.R17_ENTRIES:
                QUERIES.pop(name, None)
                ORACLES.pop(name, None)
            importlib.reload(module)
        return dict(QUERIES)
    finally:
        QUERIES.clear()
        QUERIES.update(saved_q)
        ORACLES.clear()
        ORACLES.update(saved_o)


def test_table_was_swept_at_the_test_scale_and_parallelism(spark):
    assert TABLE["sf"] == os.path.basename(SF_CORRECT)
    assert TABLE["master"] == spark.sparkContext.master


def test_every_audit_flag_has_an_allowance():
    unexpected = {}
    for name, row in TABLE["queries"].items():
        flags = audit_flags(row["profile"], TABLE["shuffle_budget"])
        if set(flags) - set(row["allow"]):
            unexpected[name] = flags
    assert not unexpected, unexpected


@pytest.mark.parametrize("name", sorted(set(HEADLINE) | set(R17_TOUCHED)))
def test_plan_matches_table(name, spark, builders):
    row = TABLE["queries"][name]
    caching.drain(spark)
    df = builders[name](spark, SF_CORRECT)
    got = {"profile": plan_profile(df), "fingerprint": plan_fingerprint(df)}
    if row["fingerprint"] is None:  # an Expand: see full_sweep.plan_row
        got["fingerprint"] = None
    if got != {k: row[k] for k in got}:
        print(normalized_plan(df))
    assert got["profile"] == row["profile"], name
    assert got["fingerprint"] == row["fingerprint"], name
