"""Checks shared by the per-bank guard tests (test_registry_rNN_staged.py).

A bank's entries are the registered queries whose function is defined in
that ``registry_rNN`` module. ``list(QUERIES)[:50]`` is frozen in
``registry.WINDOW`` (tests/test_certification_window.py), so what each bank
guard pins is: the bank is imported by the registry, its entry count is
unchanged, and every entry carries an oracle. Each entry's oracle parity
is ``tests/test_oracle_parity.py::test_query_matches_oracle``.
"""

from __future__ import annotations

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
