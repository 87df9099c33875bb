"""Guards for the registry_r06 bank (checks in tests/bank_checks.py)."""

from __future__ import annotations

from tests import bank_checks

BANK = "registry_r06"


def test_registry_imports_r06():
    bank_checks.check_imported(BANK)


def test_r06_entries_registered_inside_window():
    bank_checks.check_registered(BANK, 47)
