"""Guards for the registry_r11 bank (checks in tests/bank_checks.py)."""

from __future__ import annotations

from tests import bank_checks

BANK = "registry_r11"


def test_registry_imports_r11():
    bank_checks.check_imported(BANK)


def test_r11_entries_registered_inside_window():
    bank_checks.check_registered(BANK, 33)
