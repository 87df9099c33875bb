"""The frozen certification window (registry.py module tail).

The round driver certifies ``list(QUERIES)[:50]`` only. ``registry.WINDOW``
names those 50 queries in order, and registry.py orders QUERIES/ORACLES
once at import: WINDOW first, then every other query by module (registry,
then ``registry.BANKS``) and registration order. Whichever module a
process imports first, the driver must see the same lists."""
from __future__ import annotations

import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from yougile_etl_pipeline_spark import registry
from yougile_etl_pipeline_spark.registry import ORACLES, QUERIES, WINDOW
from yougile_etl_pipeline_spark.registry_base import register

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Modules a process may import first; "__spark_entry__" means the driver
# contract's queries()/oracle_sql().
ENTRY_PATHS = ("registry", "registry_ext", "registry_analytics",
               "registry_tpch", "registry_r05", "registry_r06",
               "registry_r16", "__spark_entry__")

_LIST = """
import json, sys
sys.path.insert(0, %r)
entry = %r
if entry == "__spark_entry__":
    import __spark_entry__ as e
    q, o = list(e.queries()), list(e.oracle_sql())
else:
    __import__("yougile_etl_pipeline_spark." + entry)
    from yougile_etl_pipeline_spark.registry import ORACLES, QUERIES
    q, o = list(QUERIES), list(ORACLES)
print(json.dumps([q, o]))
"""


def _listing(entry: str) -> list[list[str]]:
    out = subprocess.run([sys.executable, "-c", _LIST % (REPO, entry)],
                         cwd=REPO, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_window_set_is_import_order_independent():
    with ThreadPoolExecutor(max_workers=4) as pool:
        listings = dict(zip(ENTRY_PATHS, pool.map(_listing, ENTRY_PATHS)))
    canonical = listings["registry"]
    assert canonical[0][:50] == list(WINDOW)
    assert canonical == [list(QUERIES), list(ORACLES)]
    differ = [e for e, got in listings.items() if got != canonical]
    assert not differ, f"entry paths that reorder the registry: {differ}"


def test_listed_names_exist():
    assert len(set(WINDOW)) == len(WINDOW) == 50
    assert list(QUERIES)[:50] == list(WINDOW)
    assert list(ORACLES)[:50] == list(WINDOW)


def test_out_of_window_queries_are_accounted_for():
    # every query after the window comes from registry.py or one of its
    # banks, grouped by module in import order
    order = [registry.__name__] + [m.__name__ for m in registry.BANKS]
    tail = [QUERIES[n].__module__ for n in list(QUERIES)[50:]]
    assert set(tail) <= set(order)
    assert tail == sorted(tail, key=order.index)


def test_register_rejects_a_duplicate_name():
    before = QUERIES["mart_flagship"]
    with pytest.raises(ValueError, match="mart_flagship"):
        register("mart_flagship", "SELECT 1")(lambda spark, sf: None)
    assert QUERIES["mart_flagship"] is before
    assert ORACLES["mart_flagship"] != "SELECT 1"
