"""Regression tests for the four ADVICE-r15 findings.

1. The 'module tail guard re-rotates' comments were fictitious. The
   rotation and its guards are gone: registry.py orders the registry
   once (tests/test_certification_window.py checks every entry path).
2. In-process bank imports polluting the global QUERIES for the rest
   of the pytest session: the r17 staged test runs its smoke in a
   subprocess, and the import is exercised here in a subprocess too.
3. The positional 2-slot FIFO persist caches of registry_r15/r16 are
   gone: every reuse persist goes through the plan-keyed LRU in
   operators/caching.py, so an entry that persists two relations can
   no longer be silently unpersisted by the next entry's single
   persist.
4. minhash_decontam's broadcast of the benchmark band-bucket relation
   gained an optional max_bench_docs guard that raises a clear
   ValueError instead of OOMing on a corpus-sized bench side.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------------------
# 2: importing the staged bank leaves the window alone
# ---------------------------------------------------------------------------

def test_staged_r17_import_keeps_window_accounting():
    """Importing the STAGED r17 bank after the registry appends its
    entries after every other query: ``list(QUERIES)[:50]`` stays
    ``registry.WINDOW``. Run in a subprocess so this session's
    registry stays untouched (ADVICE r15 #2)."""
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from yougile_etl_pipeline_spark.registry import QUERIES, WINDOW\n"
        "before = list(QUERIES)\n"
        "import yougile_etl_pipeline_spark.registry_r17 as r17\n"
        "assert list(QUERIES)[:50] == list(WINDOW)\n"
        "assert list(QUERIES) == before + r17.R17_ENTRIES\n"
        "print('R17-WINDOW-OK')\n" % REPO)
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "R17-WINDOW-OK" in out.stdout


# ---------------------------------------------------------------------------
# 3: reuse-cache semantics (operators/caching.py)
# ---------------------------------------------------------------------------

def test_plan_keyed_lru_hit_returns_cached_instance(spark):
    from yougile_etl_pipeline_spark.operators import caching

    caching.drain(spark)
    a = spark.range(100).selectExpr("id", "id * 2 AS v")
    first = caching.persist(a)
    # a semantically-identical rebuild HITS and returns the SAME
    # persisted object — no second persist is stacked
    again = caching.persist(
        spark.range(100).selectExpr("id", "id * 2 AS v"))
    assert again is first
    assert len(caching._STORE) == 1
    caching.drain(spark)


def test_plan_keyed_lru_two_relation_entry_survives_interleaving(spark):
    """The ADVICE r15 #3 scenario: an entry persists TWO relations
    (sig + truth); other entries' single persists must NOT evict
    either while slots remain, and a rebuild of the pair must hit."""
    from yougile_etl_pipeline_spark.operators import caching

    # NOTE: sameSemantics canonicalizes aliases away, so the relations
    # must differ STRUCTURALLY (as the registry's sig / truth / pairs
    # relations do), not just in column names.
    caching.drain(spark)
    sig = caching.persist(spark.range(50).selectExpr("id", "id * 3 AS s"))
    truth = caching.persist(spark.range(50).filter("id % 2 = 0"))
    others = [caching.persist(spark.range(10).selectExpr(f"id + {k} AS o"))
              for k in range(7, 7 + caching.SLOTS - 2)]
    assert len(caching._STORE) == caching.SLOTS
    # both shared relations still cached — rebuilds hit
    assert caching.persist(
        spark.range(50).selectExpr("id", "id * 3 AS s")) is sig
    assert caching.persist(spark.range(50).filter("id % 2 = 0")) is truth
    assert caching.persist(
        spark.range(10).selectExpr("id + 7 AS o")) is others[0]
    caching.drain(spark)


def test_plan_keyed_lru_evicts_oldest_past_bound(spark):
    from yougile_etl_pipeline_spark.operators import caching

    caching.drain(spark)
    a = caching.persist(spark.range(10).selectExpr("id * 2 AS a"))
    b = caching.persist(spark.range(10).filter("id > 3"))
    # touch a → b becomes oldest
    assert caching.persist(spark.range(10).selectExpr("id * 2 AS a")) is a
    rest = [caching.persist(spark.range(10).selectExpr(f"id + {k} AS c"))
            for k in range(5, 5 + caching.SLOTS - 1)]
    assert len(caching._STORE) == caching.SLOTS
    cached = list(caching._STORE.values())
    assert any(c is a for c in cached)
    assert all(c is not b for c in cached)
    assert not b.storageLevel.useMemory
    assert cached[-1] is rest[-1]
    caching.drain(spark)


def test_named_lookup_builds_once_and_shares_the_lru(spark):
    """shared(): ``build`` runs only on a miss, and named entries
    count against the same slot bound as plan-keyed ones."""
    from yougile_etl_pipeline_spark.operators import caching

    caching.drain(spark)
    calls = []

    def build():
        calls.append(1)
        return spark.range(20).filter("id % 3 = 0")

    first = caching.shared(spark, ("sf", "stage"), build)
    assert caching.shared(spark, ("sf", "stage"), build) is first
    assert calls == [1]
    assert first.storageLevel.useMemory
    for k in range(caching.SLOTS):
        caching.persist(spark.range(10).selectExpr(f"id + {k} AS n"))
    assert len(caching._STORE) == caching.SLOTS
    assert not first.storageLevel.useMemory
    caching.shared(spark, ("sf", "stage"), build)
    assert calls == [1, 1]
    caching.drain(spark)
    assert len(caching._STORE) == 0


def test_reuse_persists_live_only_in_caching():
    """The registry banks and the dedup/text operators persist for
    reuse only through operators/caching.py: no module-level slot
    lists, LRUs or memo dicts of persisted relations of their own."""
    import re

    pkg = os.path.join(REPO, "yougile_etl_pipeline_spark")
    files = [os.path.join(pkg, "operators", f) for f in ("dedup.py",
                                                         "text.py")]
    files += [os.path.join(pkg, f) for f in sorted(os.listdir(pkg))
              if re.fullmatch(r"registry_r\d+\.py", f)]
    for path in files:
        src = open(path).read()
        bare = re.findall(r"(?<!caching)\.persist\(", src)
        assert not bare, f"{path}: persist outside caching.persist"
        assert "unpersist(" not in src, path
        assert not re.search(r"PlanKeyedLRU|\b_\w*(LRU|CACHE|SHARED)\b",
                             src), path


# ---------------------------------------------------------------------------
# 4: minhash_decontam bench-size guard
# ---------------------------------------------------------------------------

def test_minhash_decontam_bench_cap_raises_clearly(spark):
    from yougile_etl_pipeline_spark.operators.dedup import minhash_decontam

    train = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(5)],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100 + i, f"alpha beta gamma delta {i}") for i in range(4)],
        "doc_id long, text string")
    with pytest.raises(ValueError, match="max_bench_docs=2"):
        minhash_decontam(train, bench, "doc_id", "text",
                         max_bench_docs=2)


def test_minhash_decontam_bench_cap_allows_small_bench(spark):
    from yougile_etl_pipeline_spark.operators.dedup import minhash_decontam

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "totally different words here entirely now")],
        "doc_id long, text string")
    # bench is an exact copy of train doc 1 (plus a duplicate text
    # that must collapse before the cap check counts it)
    bench = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta"),
         (11, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    out = minhash_decontam(train, bench, "doc_id", "text",
                           max_bench_docs=1).collect()
    assert [r["doc_id"] for r in out] == [1]
    assert out[0]["n_bench_docs"] == 1
