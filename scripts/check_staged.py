"""Re-run the staged r17 bank's oracle-parity smoke at the DRIVER'S
certification scale factor (sf0.01) instead of sf0.001.

registry_r17.py is the one bank registry.py does not import; its
subprocess smoke (tests/test_registry_r17_staged.py) runs at sf0.001 in
normal CI. This wrapper re-executes it with the fixture dir overridden
to the driver's scale (tests/conftest.py reads SPARK_GRAFT_SMOKE_DIR).
Wired banks are covered by scripts/check_queries.py and
scripts/full_sweep.py.

Usage: python scripts/check_staged.py [pytest args...]
"""
from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One target per staged round-17 bank sweep
# (yougile_etl_pipeline_spark/registry_r17.py) — the bank's
# subprocess smoke executes EVERY R17_ENTRIES member's REGISTRY copy
# against its oracle at SPARK_GRAFT_SMOKE_DIR (this wrapper sets
# sf0.01), so a single target covers the whole manifest; keep it in
# sync if the bank ever splits across test files (ADVICE r09 #4: name
# the manifest, not a subset of entries).
PARITY_TESTS: list[str] = [
    "tests/test_registry_r17_staged.py::"
    "test_r17_module_registers_and_runs_in_subprocess",
]


def main() -> int:
    if not PARITY_TESTS:
        print("staged parity sweep: r17 bank is empty — nothing to run")
        return 0
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.01")
    print(f"staged parity sweep at {env['SPARK_GRAFT_SMOKE_DIR']} "
          f"({len(PARITY_TESTS)} test targets)")
    return subprocess.call(
        [sys.executable, "-m", "pytest", "-q", *PARITY_TESTS,
         *sys.argv[1:]],
        cwd=REPO, env=env)


if __name__ == "__main__":
    sys.exit(main())
