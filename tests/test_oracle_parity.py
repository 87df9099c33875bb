"""Differential tests: every registered query vs its DuckDB oracle at
sf0.001 (fast loop; the driver repeats this at sf0.01)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_compare import compare, duck_connect
from yougile_etl_pipeline_spark.registry import ORACLES, QUERIES


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    df = QUERIES[name](spark, SF_SMOKE)
    issues = compare(df, duck, ORACLES[name])
    assert not issues, f"{name}: " + "; ".join(issues)


def test_all_oracle_keys_have_queries():
    assert set(ORACLES) == set(QUERIES)
