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

import hashlib
import re

from pyspark.sql import DataFrame, SparkSession

__all__ = ["plan_profile", "audit_flags", "formatted_plan",
           "normalized_plan", "plan_fingerprint", "codegen_compiles"]


def formatted_plan(df: DataFrame) -> str:
    """The EXPLAIN FORMATTED text of `df`'s physical plan."""
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


# What varies between two builds of one plan: per-JVM counters (plan ids,
# RDD ids and call sites, such as the localCheckpoint frontier's) and
# where the input lives. Expression and subquery ids (`#123`) and the counter suffixes
# of generated names (lambda variables `x_14`, `_common_expr_3`) are
# renumbered instead of masked, so the hash still tells which attribute
# feeds which operator.
_PLAN_MASKS = (
    (re.compile(r"plan_id=\d+"), "plan_id=?"),
    (re.compile(r"RDD\[\d+\](?: at [^,\n]*)?"), "RDD[?]"),
    (re.compile(r"(Location: \w+) \[[^\n]*\]"), r"\1 [?]"),
    (re.compile(r"file:[^\s,\]]+"), "file:?"),
)


def normalized_plan(df: DataFrame) -> str:
    """`formatted_plan` with per-session noise removed: expression ids
    and generated-name suffixes renumbered by first appearance (``#1``,
    ``#2``, ...), plan ids, RDD ids and input paths masked. Two builds
    of the same plan in any two sessions give the same text, except
    where Spark orders operands by a hash of expression ids (the
    ``Expand`` that several DISTINCT aggregates become)."""
    text = formatted_plan(df)
    for pattern, repl in _PLAN_MASKS:
        text = pattern.sub(repl, text)
    for counter in (r"(\b[A-Za-z_]\w*?_)(\d+)(?=#\d)", r"(#)(\d+)"):
        ids: dict[str, str] = {}
        text = re.sub(counter,
                      lambda m: m.group(1) + ids.setdefault(
                          m.group(2), str(len(ids) + 1)),
                      text)
    return text


def plan_fingerprint(df: DataFrame) -> str:
    """sha256 of `normalized_plan`: equal iff the physical plan is the
    same operator tree with the same expressions, up to ids and input
    paths (scripts/full_sweep.py keeps one per query in
    PLAN_TABLE.json)."""
    return hashlib.sha256(normalized_plan(df).encode()).hexdigest()


def audit_flags(profile: dict, shuffle_budget: int) -> list[str]:
    """What a plan audit must explain about a `plan_profile`: a
    nested-loop join (``nested_loop``) and more than `shuffle_budget`
    shuffle exchanges (``shuffles``)."""
    flags = []
    if profile["has_nested_loop_join"]:
        flags.append("nested_loop")
    if profile["shuffle_exchanges"] > shuffle_budget:
        flags.append("shuffles")
    return flags


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
