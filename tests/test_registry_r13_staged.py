"""Guards for the registry_r13 bank (checks in tests/bank_checks.py)."""

from __future__ import annotations

from tests import bank_checks

BANK = "registry_r13"


def test_registry_imports_r13():
    bank_checks.check_imported(BANK)


def test_r13_entries_registered_inside_window():
    bank_checks.check_registered(BANK, 24)
