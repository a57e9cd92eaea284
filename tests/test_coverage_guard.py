"""Self-auditing correctness coverage.

The driver's oracle harness emits rows for the FIRST ``DRIVER_WINDOW``
entries of ``queries()`` only (observed: CORRECTNESS_r02.json is
exactly the first 50 registry keys of round 2). Round 2 shipped 51
operators with no driver-verified row because they sat past the
window. These guards make that failure mode impossible to repeat
silently:

* every registry entry beyond the window must already have a row in
  some shipped ``CORRECTNESS_r*.json`` — i.e. only already-verified
  queries may be parked outside the window;
* every windowed entry must carry an oracle (or be a documented
  ``no_oracle`` exception) so the driver's check is the strong
  rows+schema+hash form, not the weak rows-only form.
"""

from __future__ import annotations

import glob
import json
import os

import __spark_entry__ as entry_mod
from shaha_spark.catalog import WINDOW_ANCHORS

REPO = os.path.dirname(os.path.abspath(entry_mod.__file__))

#: Size of the driver's correctness window (first N queries() entries).
DRIVER_WINDOW = 50

#: Queries with a justified missing oracle (DuckDB can't express them);
#: the driver records a weaker rows-only check for these.
NO_ORACLE_OK = {
    "build_hash256",     # DuckDB SQL lacks sha256(BLOB) so the DRIVER
                         # row stays rows-only; locally it carries a
                         # full value oracle via create_function
                         # (shaha_spark.catalog.local_oracle_sql), plus the
                         # build_all_algos known-answer vectors
}


def _verified_names() -> set[str]:
    names: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            names.update(json.load(fh))
    return names


def test_correctness_files_exist():
    assert glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")), (
        "no shipped CORRECTNESS_r*.json — cannot audit coverage"
    )


def test_no_query_escapes_driver_verification():
    """Never-verified entries must not be parked where the rotation
    forgets them.

    When more never-verified entries exist than window slots (the
    round-4 merge registered 72 staged operators at once against a
    50-slot window), the overflow is acceptable ONLY as a contiguous
    block immediately after the window — i.e. the mechanical
    front-of-next-round position. Anything never-verified sitting
    deeper in the registry would silently escape rotation."""
    keys = list(entry_mod.queries())
    verified = _verified_names()
    anchors = set(WINDOW_ANCHORS)
    never_idx = [i for i, k in enumerate(keys) if k not in verified]
    if not never_idx:
        return
    # contiguous block…
    gaps = [
        keys[i]
        for i in range(never_idx[0], never_idx[-1] + 1)
        if keys[i] in verified and keys[i] not in anchors
    ]
    assert not gaps, (
        f"already-verified, non-anchor entries interleave the "
        f"never-verified block: {gaps}"
    )
    # …that starts at the front of the registry (only documented
    # anchors may precede it), so the window + subsequent rounds'
    # rotation reach every entry mechanically.
    leading = [k for k in keys[: never_idx[0]] if k not in anchors]
    assert not leading, (
        f"already-verified entries occupy slots ahead of the "
        f"never-verified block: {leading}. Reorder queries() so "
        f"never-verified entries lead the registry."
    )


def test_windowed_queries_have_oracles():
    keys = list(entry_mod.queries())[:DRIVER_WINDOW]
    oracles = entry_mod.oracle_sql()
    missing = [k for k in keys if k not in oracles and k not in NO_ORACLE_OK]
    assert not missing, f"windowed queries without oracle SQL: {missing}"


def test_oracle_keys_subset_of_queries():
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())


def test_coverage_md_in_sync():
    """COVERAGE.md's registry section must match the live registry."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "gen_coverage_registry.py"),
         "--check"],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr
