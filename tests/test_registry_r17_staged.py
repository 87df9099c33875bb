"""Guards for the staged round-17 registration bank.

(1) registry.py must NOT import registry_r17: wiring it grows the
driver's query set from 430 to 444. (2) The module must work when
imported, verified in a SUBPROCESS so this test session's registry
stays untouched (ADVICE r15 #2: an in-process import appends to the
global QUERIES for the rest of the pytest session), with every entry
oracle-executed from its REGISTRY copy at sf0.001 (or
SPARK_GRAFT_SMOKE_DIR — the scripts/check_staged.py sf0.01 re-proof
path)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_EXPECTED = 14

_SUBPROC = """
import os, sys
sys.path.insert(0, %r)
from yougile_etl_pipeline_spark.registry import ORACLES, QUERIES
before = set(QUERIES)
import yougile_etl_pipeline_spark.registry_r17 as r17
new = [k for k in QUERIES if k not in before]
assert len(new) == %d, f"expected %d new entries, got {len(new)}: {new}"
assert set(new) == set(r17.R17_ENTRIES), (new, r17.R17_ENTRIES)
missing = [k for k in new if k not in ORACLES]
assert not missing, f"entries without oracles: {missing}"
if new:
    from yougile_etl_pipeline_spark.session import get_spark
    from tests.oracle_compare import compare, duck_connect
    spark = get_spark(app_name="r17-smoke", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
    con = duck_connect(sf)
    for name in new:
        issues = compare(QUERIES[name](spark, sf), con, ORACLES[name])
        assert not issues, f"{name}: {issues}"
print("R17-SMOKE-OK")
"""


def test_round16_does_not_import_r17():
    # Checked in a SUBPROCESS so the guard tests the CANONICAL import
    # path deterministically: other test files may legitimately import
    # registry_r17 in a subprocess of their own, and suite order must
    # not decide whether this guard sees a side effect.
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, %r); "
         "import yougile_etl_pipeline_spark.registry; "
         "assert 'yougile_etl_pipeline_spark.registry_r17' "
         "not in sys.modules, 'registry_r17 reachable from the "
         "canonical import path'" % REPO],
        cwd=REPO, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]


def test_r17_module_registers_and_runs_in_subprocess():
    out = subprocess.run(
        [sys.executable, "-c", _SUBPROC % (REPO, _EXPECTED, _EXPECTED)],
        cwd=REPO, capture_output=True, text=True, timeout=1200)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "R17-SMOKE-OK" in out.stdout
