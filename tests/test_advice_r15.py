"""Regression tests for the four ADVICE-r15 findings.

1. The 'module tail guard re-rotates' comments were fictitious for
   registry_r15/r16 — both modules (and the seeded registry_r17) now
   carry the real registry_r14-style guard, so window composition is
   import-order independent by MECHANISM, not by incidental import
   order.
2. In-process bank imports polluting the global QUERIES for the rest
   of the pytest session: registry_r16 is wired now (imports are
   no-ops); the r17 staged test runs its smoke in a subprocess, and
   the direct-import pollution scenario is exercised here in a
   subprocess too.
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
# 1 + 2: tail guards are real; direct bank-module entry converges
# ---------------------------------------------------------------------------

def test_bank_modules_carry_real_tail_guards():
    for mod in ("registry_r15", "registry_r16", "registry_r17"):
        src = open(os.path.join(
            REPO, "yougile_etl_pipeline_spark", f"{mod}.py")).read()
        assert "_rotate_certification_window()" in src, (
            f"{mod} lost its tail rotation guard (ADVICE r15 #1: the "
            f"guard the comments describe must actually exist)")


def test_direct_r16_import_yields_canonical_window():
    """Entering the engine through the WIRED bank module directly must
    converge to the same accounted window as the canonical
    registry-first import (the tail guard doing its job)."""
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "import yougile_etl_pipeline_spark.registry_r16\n"
        "from yougile_etl_pipeline_spark.registry import (QUERIES,\n"
        "    _STABLE_CERTIFIED, _DEFERRED_TO_NEXT_WINDOW)\n"
        "acc = set(_STABLE_CERTIFIED) | set(_DEFERRED_TO_NEXT_WINDOW)\n"
        "assert not [q for q in list(QUERIES)[50:] if q not in acc]\n"
        "assert not [q for q in list(QUERIES)[:50] if q in acc]\n"
        "print('R16-ENTRY-OK', len(QUERIES))\n" % REPO)
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "R16-ENTRY-OK" in out.stdout


def test_staged_r17_import_keeps_window_accounting():
    """Importing the STAGED r17 bank in-process must leave the
    certification-window accounting test's invariant intact: staged
    entries append past the stable block AND the tail guard re-rotates
    — either way every out-of-window query stays accounted. Run in a
    subprocess so this session's registry stays untouched (ADVICE r15
    #2)."""
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "import yougile_etl_pipeline_spark.registry\n"
        "import yougile_etl_pipeline_spark.registry_r17 as r17\n"
        "from yougile_etl_pipeline_spark.registry import (QUERIES,\n"
        "    _STABLE_CERTIFIED, _DEFERRED_TO_NEXT_WINDOW)\n"
        "acc = (set(_STABLE_CERTIFIED) | set(_DEFERRED_TO_NEXT_WINDOW)\n"
        "       | set(r17.R17_ENTRIES))\n"
        "assert not [q for q in list(QUERIES)[50:] if q not in acc]\n"
        "print('R17-POLLUTION-OK')\n" % REPO)
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "R17-POLLUTION-OK" in out.stdout


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
