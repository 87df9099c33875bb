"""Ad-hoc oracle check for a subset of registered queries (dev tool).

Usage: python scripts/check_queries.py [query ...]   (default:
registry.WINDOW, the 50 queries the driver certifies)
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

from tests.oracle_compare import compare, duck_connect  # noqa: E402
from yougile_etl_pipeline_spark.registry import (  # noqa: E402
    ORACLES,
    QUERIES,
    WINDOW,
)
from yougile_etl_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:] or WINDOW
    spark = get_spark(app_name="check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(SF)
    failed = []
    for name in names:
        t0 = time.perf_counter()
        df = QUERIES[name](spark, SF)
        if name not in ORACLES:
            n = df.count()
            print(f"{name}: rows-only, {n} rows "
                  f"({time.perf_counter() - t0:.1f}s)")
            continue
        issues = compare(df, con, ORACLES[name])
        status = "OK" if not issues else f"FAIL {issues}"
        print(f"{name}: {status} ({time.perf_counter() - t0:.1f}s)")
        if issues:
            failed.append(name)
    if failed:
        sys.exit(f"FAILED: {failed}")
    print("all green")


if __name__ == "__main__":
    main()
