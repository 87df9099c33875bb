"""Full-registry oracle sweep → one JSON artifact.

Every registered query runs against its DuckDB oracle at the driver's
correctness scale (sf0.01 unless SPARK_GRAFT_SF_DIR overrides), each
from a drained reuse cache so neither results nor plans depend on the
sweep order. Per query the artifact records ok / issues, wall seconds,
the Spark row count, a value hash (sha256 over tests/oracle_compare.py's
canonical sorted rows of the Spark result) and the plan-only
shuffles/broadcasts/pushed-scans triple. Two artifacts with the same
hashes and triples show that a change moved no result and no plan.

Usage: python scripts/full_sweep.py <round>   (e.g. 14 → SWEEP_r14.json)
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from tests.oracle_compare import compare, duck_connect, value_hash  # noqa: E402
from yougile_etl_pipeline_spark.operators import caching  # noqa: E402
from yougile_etl_pipeline_spark.operators.diagnostics import (  # noqa: E402
    plan_profile,
)
from yougile_etl_pipeline_spark.registry import ORACLES, QUERIES  # noqa: E402
from yougile_etl_pipeline_spark.session import get_spark  # noqa: E402


class _Collected:
    """What ``compare`` reads of a DataFrame, over a result collected
    once (so the value hash and the oracle check share one run)."""

    def __init__(self, schema, pdf) -> None:
        self.schema = schema
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _sweep_one(spark, con, name: str) -> dict:
    caching.drain(spark)
    df = QUERIES[name](spark, SF)
    p = plan_profile(df)
    plan = (f"{p['shuffle_exchanges']}/{p['broadcast_exchanges']}"
            f"/{p['scans_with_pushed_filters']}")
    pdf = df.toPandas()
    rec = {"rows": len(pdf), "plan": plan, "value_sha256": value_hash(pdf)}
    if name in ORACLES:
        issues = compare(_Collected(df.schema, pdf), con, ORACLES[name])
        rec.update(ok=not issues, mode="oracle", issues=issues or None)
    else:
        # an oracle-less entry is recorded as ok: None, a third state the
        # summary counts separately (a completed run is not a pass)
        rec.update(ok=None, mode="rows_only")
    return rec


def main() -> int:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    out_path = os.path.join(REPO, f"SWEEP_r{rnd:02d}.json")
    spark = get_spark(app_name="full-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(SF)
    results: dict[str, dict] = {}
    failed = 0
    t_start = time.perf_counter()
    for i, name in enumerate(QUERIES):
        t0 = time.perf_counter()
        try:
            rec = _sweep_one(spark, con, name)
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            rec = {"ok": False, "mode": "error", "issues": str(e)[:500]}
        rec["wall_s"] = round(time.perf_counter() - t0, 2)
        results[name] = rec
        if rec["ok"] is False:
            failed += 1
            print(f"FAIL {name}: {rec.get('issues')}", flush=True)
        if (i + 1) % 25 == 0:
            print(f"... {i + 1}/{len(QUERIES)} "
                  f"({time.perf_counter() - t_start:.0f}s, "
                  f"{failed} failed)", flush=True)
    summary = {
        "round": rnd,
        "sf_dir": SF,
        "n_queries": len(results),
        "n_ok": sum(1 for r in results.values() if r["ok"] is True),
        "n_rows_only": sum(1 for r in results.values()
                           if r["ok"] is None),
        "n_failed": failed,
        "total_wall_s": round(time.perf_counter() - t_start, 1),
        "results": results,
    }
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(f"wrote {out_path}: {summary['n_ok']}/{summary['n_queries']} ok "
          f"in {summary['total_wall_s']}s")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
