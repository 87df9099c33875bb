"""Cold A/B harness for session-conf decisions (r17, VERDICT r16 #3).

Runs the headline queries (or a named subset) once-warmed median-of-3
in THIS process and prints one JSON line — the caller launches one
fresh process per (config, repetition) so every sample is a cold JVM,
matching the driver's methodology (the r16 win_rank_topn regression
was invisible in warm same-session A/Bs).

Usage:
  python scripts/ab_headline.py [--conf key=value ...] [q1 q2 ..]
  e.g. --conf spark.sql.files.openCostInBytes=524288; each --conf goes
  to get_spark(extra_conf=...) over the engine's pinned settings.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402


def main() -> None:
    args, conf = sys.argv[1:], {}
    while args[:1] == ["--conf"]:
        key, _, value = args[1].partition("=")
        conf[key] = value
        args = args[2:]
    names = args or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from yougile_etl_pipeline_spark.registry import QUERIES
    from yougile_etl_pipeline_spark.session import get_spark

    if any(n not in QUERIES for n in names):
        # staged r17 bank entries register on module import only
        from yougile_etl_pipeline_spark import registry_r17  # noqa: F401

    spark = get_spark(app_name="ab-headline", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["a2_counts"](spark, sf_dir).write.format("noop") \
        .mode("overwrite").save()

    out: dict[str, float] = {}
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warmup
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        out[name] = round(sorted(ts)[1], 3)
    print(json.dumps({
        "conf": conf,
        "queries": out,
        "total": round(sum(out.values()), 3),
    }))


if __name__ == "__main__":
    main()
