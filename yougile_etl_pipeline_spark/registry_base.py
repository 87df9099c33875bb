"""The registry's two dicts and its decorator, with no registry imports.

Every query bank (``registry_*.py``) imports ``register``/``_dec`` from
here, so the banks never import ``registry`` itself and the import graph
is acyclic. ``registry`` re-exports these names, imports every bank once,
and then fixes the order of ``QUERIES``/``ORACLES``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: declare a query (and optionally its DuckDB oracle).

    A name can be registered once; a second registration raises
    ``ValueError`` instead of silently replacing the first."""
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered "
                             f"by {QUERIES[name].__module__}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _dec(col, prec: str = "decimal(20,6)"):
    """Exact-arithmetic aggregation input (see the registry docstring)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(prec)
