"""The engine's one reuse cache for persisted intermediate relations.

Several operators and registry entries persist a relation that later
builds consume again: the MinHash signature of the eval tier, the
dup-span gram stream, the capped shingle streams, the sweep and
scorecard relations, the corpus-build stages. Every such persist goes
through this module, so one rule decides how they are keyed, bounded
and evicted:

* ``persist(df)`` keys by logical-plan semantics: a ``semanticHash``
  dict lookup confirmed with ``sameSemantics``. A semantically equal
  rebuild gets the already-persisted DataFrame back instead of
  stacking a second persist.
* ``shared(spark, key, build)`` keys by name, for relations that never
  compare semantically equal across builds (``connected_components``
  lineages carry fresh ``localCheckpoint`` RDD ids). ``build`` runs
  only on a miss.
* Both share one LRU of ``SLOTS`` entries. A hit refreshes recency; a
  miss past the bound unpersists the oldest entry. An in-flight
  consumer of an evicted relation just recomputes it: correctness
  never depends on the cache.
* The store remembers the Spark application that filled it. A call
  under another application forgets every entry first (their context
  is stopped, so they cannot be unpersisted), so a restarted session
  never gets a stale hit.
* ``drain(spark)`` unpersists every entry and clears Spark's cache,
  for cold plan dumps and plan-shape tests.

Query construction is single-threaded, as everywhere in this engine;
the store is not guarded against concurrent builds. At cluster scale
the same reuse is a staging table or shuffle reuse; the local-mode
persist (MEMORY_AND_DISK) is the single-JVM equivalent.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Callable, Hashable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

__all__ = ["SLOTS", "AppScopedDict", "persist", "shared", "drain"]

# The 15 plan-keyed slots the call sites used to hold in separate
# caches, plus the five named corpus-build relations.
SLOTS = 20


class AppScopedDict(OrderedDict):
    """A dict whose entries belong to one Spark application.

    ``scope(sc)`` must be called before each lookup: under a different
    ``applicationId`` than the one that filled the dict, every entry is
    forgotten first."""

    app: str | None = None

    def scope(self, sc: SparkContext) -> str:
        app = sc.applicationId
        if app != self.app:
            self.clear()
            self.app = app
        return app


_STORE = AppScopedDict()


def _put(key: Hashable, df: DataFrame) -> DataFrame:
    old = _STORE.pop(key, None)
    if old is not None:  # a semanticHash collision: replace the slot
        old.unpersist(blocking=False)
    _STORE[key] = df
    while len(_STORE) > SLOTS:
        _STORE.popitem(last=False)[1].unpersist(blocking=False)
    return df


def persist(df: DataFrame) -> DataFrame:
    """Return a persisted DataFrame semantically equal to ``df``."""
    _STORE.scope(df.sparkSession.sparkContext)
    key = ("plan", df.semanticHash())
    hit = _STORE.get(key)
    if hit is not None and hit.sameSemantics(df):
        _STORE.move_to_end(key)
        return hit
    return _put(key, df.persist())


def shared(spark: SparkSession, key: Hashable,
           build: Callable[[], DataFrame]) -> DataFrame:
    """Return the persisted relation stored under ``key``, building and
    persisting it with ``build()`` on a miss."""
    _STORE.scope(spark.sparkContext)
    key = ("named", key)
    hit = _STORE.get(key)
    if hit is not None:
        _STORE.move_to_end(key)
        return hit
    return _put(key, build().persist())


def drain(spark: SparkSession) -> None:
    """Unpersist every cached relation and clear Spark's cache."""
    _STORE.scope(spark.sparkContext)
    for df in _STORE.values():
        df.unpersist(blocking=False)
    _STORE.clear()
    spark.catalog.clearCache()
