"""Guards for the registry_r06 bank (checks in tests/bank_checks.py)."""

from __future__ import annotations

from tests import bank_checks

BANK = "registry_r06"


def test_registry_imports_r06():
    bank_checks.check_imported(BANK)


def test_r06_entries_registered_inside_window():
    bank_checks.check_registered(BANK, 47)


# entries whose engine side lives inline in registry_r06.py rather than
# an operator module: the per-op parity tests exercise their own copies,
# so the registry copies are executed against their oracles here
_INLINED = (
    "corpus_shard_manifest", "quality_distribution_drift",
    "mart_cohort_ltv", "events_top_paths",
    "events_dwell_time", "text_lang_confusion", "text_ngram_novelty",
)


def test_inlined_registry_entries_match_oracles(spark):
    bank_checks.check_oracles(spark, _INLINED)
