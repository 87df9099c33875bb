"""Regression tests for ADVICE-r17 findings.

1. A reuse-cache hit could return a DataFrame bound to a stopped
   session. The cache (operators/caching.py) now remembers the Spark
   application that filled it and forgets every entry when a call
   arrives under another one, so a restarted session rebuilds.
2. ``planes_per_table`` above 63 overflows the packed int64 bucket code
   of the numpy LSH paths; it raised an ``AssertionError`` (gone under
   ``python -O``) and now raises ``ValueError`` at the entry points.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_restarted_session_gets_no_stale_hit():
    """Fill the signature cache and an r17 named entry, stop the
    session, start a new one: the rebuilds must miss, and the queries
    that read those entries must match their DuckDB oracles. Runs in a
    subprocess because it stops its Spark session."""
    code = f"""
import sys
sys.path.insert(0, {REPO!r})
import yougile_etl_pipeline_spark.registry
from yougile_etl_pipeline_spark import registry_r17
from yougile_etl_pipeline_spark.operators import caching
from yougile_etl_pipeline_spark.operators.dedup import (
    shared_minhash_signature)
from yougile_etl_pipeline_spark.registry import ORACLES, QUERIES
from yougile_etl_pipeline_spark.session import get_spark
from yougile_etl_pipeline_spark.sources.tables import load_table
from tests.oracle_compare import compare, duck_connect

SF = {SF_SMOKE!r}


def build(spark):
    docs = load_table(spark, SF, "documents")
    sig = shared_minhash_signature(docs, "doc_id", "text")
    _train, ng, _mh = registry_r17._decontam_lenses(spark, SF)
    return sig, ng


s1 = get_spark(app_name="restart-1", master="local[2]")
sig1, ng1 = build(s1)
sig1.count(); ng1.count()
app1 = s1.sparkContext.applicationId
s1.stop()

s2 = get_spark(app_name="restart-2", master="local[2]")
assert s2.sparkContext.applicationId != app1
sig2, ng2 = build(s2)
assert sig2 is not sig1, "stale signature hit across sessions"
assert ng2 is not ng1, "stale named-entry hit across sessions"
assert caching._STORE.app == s2.sparkContext.applicationId
con = duck_connect(SF)
for name in ("dedup_lsh_band_hist", "decontam_band_margin"):
    issues = compare(QUERIES[name](s2, SF), con, ORACLES[name])
    assert not issues, (name, issues)
print("RESTART-OK")
"""
    env = dict(os.environ, PYTHONPATH=REPO)  # Python workers import it
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "RESTART-OK" in out.stdout


@pytest.mark.parametrize("entry", ["lsh_bucket_topk_np", "_bucketed_np"])
def test_packed_lsh_rejects_64_planes_with_value_error(spark, entry):
    from yougile_etl_pipeline_spark.operators import similarity as S

    emb = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0])],
                                "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="planes_per_table"):
        if entry == "lsh_bucket_topk_np":
            S.lsh_bucket_topk_np(emb, emb, k=1, n_tables=1,
                                 planes_per_table=64)
        else:
            S._bucketed_np(emb, "match_id", "c_vec", "vec_id",
                           "embedding", 1, 64)
