"""Physical-plan introspection for pipeline ops tooling.

`plan_profile` turns a DataFrame's formatted physical plan into the
handful of scale-relevant counters an engineer (or a CI gate) actually
checks before shipping a pipeline to a 100 TB cluster: how many shuffle
exchanges, how many broadcasts, whether scans carry pushed filters and
pruned schemas, which join strategies got picked, and whether the hot
path stays inside whole-stage codegen. The same signals
``tests/test_plan_audits.py`` asserts — exposed as an operator so a
deployment script can gate on them (e.g. "fail the release if the
nightly mart build gained a SortMergeJoin or lost a pushed filter")
without string-diffing plans by hand.

Driver-side and plan-only: nothing is executed, no job runs.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

__all__ = ["plan_profile", "formatted_plan", "codegen_compiles"]


def formatted_plan(df: DataFrame) -> str:
    """The EXPLAIN FORMATTED text of `df`'s physical plan."""
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


def codegen_compiles(spark: SparkSession) -> int:
    """Generated-code compiles this JVM has run so far (Spark's
    ``CodegenMetrics`` compilation-time histogram count; read-only).

    A warm rebuild of an unchanged plan hits Spark's code cache and adds
    0; a per-run value inlined into generated code (see
    ``relational.stamp``) adds one compile per affected stage on every
    run. Take the difference around the action being checked."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _distinct_nodes(body: str, plan: str, *, tree_regex: str,
                    fallback_regex: str, detail_name: str) -> int:
    """Count distinct plan nodes of one type in the formatted tree.

    Dedupe by formatted-plan node id — a cached subtree
    (InMemoryRelation) is PRINTED once under every InMemoryTableScan
    that references it, but executes once. An id alone can COLLIDE:
    two DIFFERENT cached subtrees whose reprints carry independently
    restarted numbering may both contain e.g. "Exchange (5)" (ADVICE
    r14). Disambiguate with the node's DETAIL section
    "(5) <detail_name>\\n..." from the full plan text: one id with k
    distinct detail bodies is k distinct nodes. Same-id same-details
    stays one node (the genuine cached-subtree reprint this dedup
    exists for); ids without a detail section fall back to one each,
    matching the pre-r15 behavior."""
    ids = re.findall(tree_regex, body)
    if not ids:
        return len(re.findall(fallback_regex, body))
    detail_bodies: dict[str, set[str]] = {}
    for m in re.finditer(
            r"^\((\d+)\) " + detail_name
            + r"(?:\n((?:(?!^\(\d+\) ).*\n?)*))?",
            plan, flags=re.M):
        detail_bodies.setdefault(m.group(1), set()).add(m.group(2) or "")
    return sum(max(1, len(detail_bodies.get(i, ())))
               for i in set(ids))


def _distinct_shuffles(body: str, plan: str = "") -> int:
    return _distinct_nodes(
        body, plan,
        tree_regex=r"(?<!Broadcast)(?<!Reused)Exchange \((\d+)\)",
        fallback_regex=r"(?<!Broadcast)(?<!Reused)Exchange",
        detail_name="Exchange")


def _distinct_broadcasts(body: str, plan: str = "") -> int:
    # Same id+detail dedupe as shuffles (VERDICT r15 #3: the band
    # sweep's staged fingerprint read 147 "broadcasts" because its
    # three unioned arms each REPRINT the persisted signature/truth
    # subtrees, and every reprint carries the same one-row broadcast
    # nodes — 147 printed occurrences, far fewer distinct exchanges;
    # a fingerprint that exists to classify time deltas must count
    # the latter).
    return _distinct_nodes(
        body, plan,
        tree_regex=r"BroadcastExchange \((\d+)\)",
        fallback_regex=r"BroadcastExchange",
        detail_name="BroadcastExchange")


def plan_profile(df: DataFrame) -> dict[str, object]:
    """Scale-relevant counters of `df`'s physical plan (no execution).

    Keys: ``shuffle_exchanges``, ``broadcast_exchanges``, ``scans``,
    ``scans_with_pushed_filters``, ``join_types`` (operator name →
    count), ``has_nested_loop_join``, ``adaptive`` (AQE wraps the
    plan), ``take_ordered`` (distributed top-k instead of a global
    sort), ``global_sorts``.

    Whole-stage-codegen spans are deliberately NOT reported: under AQE
    (always on in this engine) codegen collapses per stage at RUNTIME,
    so a plan-only count is identically zero — read it off the executed
    plan / Spark UI after a run instead.
    """
    plan = formatted_plan(df)
    body = plan.split("\n\n")[0]
    joins: dict[str, int] = {}
    for m in re.finditer(
            r"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)", body):
        joins[m.group(1)] = joins.get(m.group(1), 0) + 1
    pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
    return {
        # "Exchange" alone also substring-matches BroadcastExchange and
        # ReusedExchange (exchange reuse is common: a CTE scanned twice,
        # Q21's repeated lineitem legs) — a reused exchange is a cache
        # hit, not an extra shuffle, so match the bare node name only
        # and report reuse as its own counter. Dedupe by formatted-plan
        # node id + detail body: a cached subtree (InMemoryRelation) is
        # PRINTED once under every InMemoryTableScan that references
        # it, but its exchange executes once (r14, when the dup-span
        # operators grew a shared persisted gram stream); the detail
        # body disambiguates id collisions across UNRELATED cached
        # subtrees (ADVICE r14).
        "shuffle_exchanges": _distinct_shuffles(body, plan),
        "broadcast_exchanges": _distinct_broadcasts(body, plan),
        "reused_exchanges": body.count("ReusedExchange"),
        "scans": len(re.findall(r"Scan parquet", body)),
        "scans_with_pushed_filters": pushed,
        "join_types": joins,
        "has_nested_loop_join": ("BroadcastNestedLoopJoin" in body
                                 or "CartesianProduct" in body),
        "adaptive": "AdaptiveSparkPlan" in body,
        "take_ordered": body.count("TakeOrderedAndProject"),
        "global_sorts": len(re.findall(r"\+- Sort ", body)),
    }
