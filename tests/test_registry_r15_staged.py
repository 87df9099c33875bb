"""Guards for the registry_r15 bank (checks in tests/bank_checks.py)."""

from __future__ import annotations

from tests import bank_checks

BANK = "registry_r15"


def test_registry_imports_r15():
    bank_checks.check_imported(BANK)


def test_r15_entries_registered_inside_window():
    bank_checks.check_registered(BANK, 16)
