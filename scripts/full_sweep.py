"""Full-registry oracle sweep → one JSON artifact, plus the committed
plan table.

Every registered query runs against its DuckDB oracle at the driver's
correctness scale (sf0.01 unless SPARK_GRAFT_SF_DIR overrides), each
from a drained reuse cache so neither results nor plans depend on the
sweep order. Per query the artifact records ok / issues, wall seconds,
the Spark row count, a value hash (sha256 over tests/oracle_compare.py's
canonical sorted rows of the Spark result) and the plan-only
shuffles/broadcasts/pushed-scans triple. Two artifacts with the same
hashes and triples show that a change moved no result and no plan.

The sweep also writes PLAN_TABLE.json, one line per query: the
registered ones and the staged registry_r17 entries (imported after
the registered ones are swept, planned but not run). Each row holds
`plan_profile`'s counters, `plan_fingerprint` (the sha256 of the
normalized EXPLAIN FORMATTED text) and `allow`: audit flag (a
nested-loop join; more than SHUFFLE_BUDGET shuffles, see
`diagnostics.audit_flags`) → the reviewed reason the flag is expected.
`allow` is data kept in the table: it is carried over from the
committed file, and a flag without an allowance is printed as
unexpected and fails the sweep. The table is rewritten only by a sweep
in which no query failed; otherwise the committed file stays as it is
(a query that raised has no row to write, and its allowance would be
lost).
tests/test_plan_table.py rebuilds the headline and r17-touched queries
against their rows. The sweep runs at local[4], the test session's
parallelism (`ensure_parallelism` plans a repartition to that count),
so the table does not depend on the machine's core count. To read
one plan in full, print `diagnostics.normalized_plan(df)` or call
`df.explain("formatted")`.

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
TABLE_PATH = os.path.join(REPO, "PLAN_TABLE.json")
SHUFFLE_BUDGET = 6

from tests.oracle_compare import compare, duck_connect, value_hash  # noqa: E402
from yougile_etl_pipeline_spark.operators import caching  # noqa: E402
from yougile_etl_pipeline_spark.operators.diagnostics import (  # noqa: E402
    audit_flags,
    formatted_plan,
    plan_fingerprint,
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


def plan_row(df, allow: dict[str, str]) -> dict:
    """One PLAN_TABLE.json row for a built (not run) query.

    Spark orders the groups of several DISTINCT aggregates (the Expand
    they become) by a hash of their expression ids, so the text of such
    a plan depends on how many ids the JVM handed out before it: a plan
    with an Expand keeps no fingerprint, only its counters."""
    p = plan_profile(df)
    stable = "Expand (" not in formatted_plan(df)
    return {"profile": p,
            "fingerprint": plan_fingerprint(df) if stable else None,
            "allow": allow}


def _sweep_one(spark, con, name: str, allow: dict[str, str]):
    caching.drain(spark)
    df = QUERIES[name](spark, SF)
    row = plan_row(df, allow)
    p = row["profile"]
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
    return rec, row


def _staged_rows(spark, allows: dict) -> dict[str, dict]:
    """Plan rows of the staged r17 bank, which registers on import."""
    from yougile_etl_pipeline_spark import registry_r17

    rows = {}
    for name in registry_r17.R17_ENTRIES:
        caching.drain(spark)
        rows[name] = plan_row(QUERIES[name](spark, SF),
                              allows.get(name, {}))
    return rows


def write_table(rows: dict[str, dict]) -> None:
    """PLAN_TABLE.json with one query per line, names sorted, so a plan
    change shows as a one-line diff."""
    lines = [f"{json.dumps(n)}: {json.dumps(rows[n], sort_keys=True)}"
             for n in sorted(rows)]
    head = (f'"master": "local[4]", "sf": '
            f'{json.dumps(os.path.basename(SF.rstrip("/")))}, '
            f'"shuffle_budget": {SHUFFLE_BUDGET}')
    with open(TABLE_PATH, "w") as f:
        f.write("{" + head + ', "queries": {\n' + ",\n".join(lines)
                + "\n}}\n")


def main() -> int:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    out_path = os.path.join(REPO, f"SWEEP_r{rnd:02d}.json")
    allows = {}
    if os.path.exists(TABLE_PATH):
        with open(TABLE_PATH) as f:
            allows = {n: r["allow"]
                      for n, r in json.load(f)["queries"].items()}
    spark = get_spark(app_name="full-sweep", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(SF)
    results: dict[str, dict] = {}
    rows: dict[str, dict] = {}
    failed = 0
    t_start = time.perf_counter()
    for i, name in enumerate(QUERIES):
        t0 = time.perf_counter()
        try:
            rec, rows[name] = _sweep_one(spark, con, name,
                                         allows.get(name, {}))
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
    if failed:
        print(f"{TABLE_PATH} left as it is: {failed} queries failed")
        return 1
    rows.update(_staged_rows(spark, allows))
    unexpected = {n: bad for n, r in rows.items()
                  if (bad := [f for f in audit_flags(r["profile"],
                                                     SHUFFLE_BUDGET)
                              if f not in r["allow"]])}
    for name, flags in sorted(unexpected.items()):
        print(f"UNEXPECTED {name}: {flags} {rows[name]['profile']}")
    write_table(rows)
    print(f"wrote {TABLE_PATH}: {len(rows)} rows, "
          f"{len(unexpected)} unexpected audit flags")
    return 1 if unexpected else 0


if __name__ == "__main__":
    sys.exit(main())
