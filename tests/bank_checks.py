"""Checks shared by the per-bank guard tests (test_registry_rNN_staged.py).

A bank's entries are the registered queries whose function is defined in
that ``registry_rNN`` module. ``list(QUERIES)[:50]`` is frozen in
``registry.WINDOW`` (tests/test_certification_window.py), so what each bank
guard pins is: the bank is imported by the registry, its entry count is
unchanged, every entry carries an oracle, and its entries match their
oracles when built from the registry.
"""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from tests.oracle_compare import compare, duck_connect

PKG = "yougile_etl_pipeline_spark"


def bank_names(bank: str) -> list[str]:
    from yougile_etl_pipeline_spark.registry import QUERIES

    return [n for n, fn in QUERIES.items()
            if fn.__module__ == f"{PKG}.{bank}"]


def check_imported(bank: str) -> None:
    from yougile_etl_pipeline_spark.registry import BANKS

    assert f"{PKG}.{bank}" in {m.__name__ for m in BANKS}, (
        f"registry.py no longer imports {bank}: its entries would "
        f"silently deregister")


def check_registered(bank: str, expected: int) -> None:
    from yougile_etl_pipeline_spark.registry import ORACLES

    names = bank_names(bank)
    assert len(names) == expected, (bank, names)
    assert [n for n in names if n not in ORACLES] == []


def check_oracles(spark, names) -> None:
    from yougile_etl_pipeline_spark.registry import ORACLES, QUERIES

    con = duck_connect(SF_SMOKE)
    for name in names:
        issues = compare(QUERIES[name](spark, SF_SMOKE), con, ORACLES[name])
        assert not issues, f"{name}: {issues}"
