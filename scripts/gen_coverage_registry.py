"""Regenerate the auto-derived registry section of COVERAGE.md.

COVERAGE.md's prose inventory went stale in round 2 ("74 driver
queries" while the registry held 101). This script derives the
registry facts — counts, oracle coverage, driver-verification status
per query — directly from ``shaha_spark.catalog``'s ``queries()`` /
``oracle_sql()`` and the shipped ``CORRECTNESS_r*.json`` files, and
rewrites everything between the AUTOGEN markers. A pytest guard
(tests/test_coverage_guard.py::test_coverage_md_in_sync) fails when
the committed doc drifts from the generated text.

Usage: python scripts/gen_coverage_registry.py [--check]
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BEGIN = "<!-- AUTOGEN:REGISTRY begin (scripts/gen_coverage_registry.py) -->"
END = "<!-- AUTOGEN:REGISTRY end -->"

DRIVER_WINDOW = 50


def generate() -> str:
    from shaha_spark.catalog import (
        ORACLE_CONTRACT_NOTES,
        local_oracle_sql,
        oracle_sql,
        queries,
    )

    keys = list(queries())
    oracles = set(oracle_sql())

    rounds: dict[str, set[str]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = os.path.basename(path)[len("CORRECTNESS_") : -len(".json")]
        with open(path) as fh:
            rounds[rnd] = set(json.load(fh))

    def status(name: str) -> str:
        seen = [r for r, names in rounds.items() if name in names]
        return ",".join(seen) if seen else "pending"

    n_oracled = sum(1 for k in keys if k in oracles)
    lines = [
        BEGIN,
        "",
        "## Driver query registry (auto-generated — do not edit by hand)",
        "",
        f"{len(keys)} registered queries; {n_oracled} carry a DuckDB oracle "
        f"({', '.join(k for k in keys if k not in oracles) or 'none'} "
        "rows-only). The driver's correctness harness checks the first "
        f"{DRIVER_WINDOW} entries per round; 'driver rows' lists the rounds "
        "in which each query had a driver correctness row ('pending' = "
        "in the current window awaiting its first row).",
        "",
        "| # | query | oracle | driver rows |",
        "|---|---|---|---|",
    ]
    notes = ORACLE_CONTRACT_NOTES
    local = set(local_oracle_sql())
    for i, k in enumerate(keys, 1):
        window = " (windowed)" if i <= DRIVER_WINDOW else ""
        flag = "yes" if k in oracles else "rows-only"
        if k in local and k not in oracles:
            flag = "local-udf"
        if k in notes and k in oracles:
            flag = "yes-weak"
        lines.append(f"| {i} | `{k}` | {flag} | {status(k)}{window} |")
    if local:
        lines += [
            "",
            "`local-udf`: full value oracle in the LOCAL suite via DuckDB "
            "`create_function` (tests/test_oracle.py); the driver gate "
            "runs plain SQL, so its row for these stays rows-only.",
        ]
    if notes:
        lines += ["", "Weaker-contract oracles (`yes-weak` above):", ""]
        for k, note in sorted(notes.items()):
            lines.append(f"- `{k}` — {note}")

    lines += ["", END]
    return "\n".join(lines)


def _stable_projection(text: str) -> str:
    """The comparison view used by ``--check``: registry-table rows with
    the volatile 'driver rows' cell removed.

    The driver drops a new CORRECTNESS_r{N}.json into the tree AT ROUND
    END — after the round's last commit — which flips every windowed
    entry's 'pending' to 'r{N}' in the generated text. Comparing that
    cell would make the shipped tree's sync guard fail at every round
    boundary through no drift of the registry itself (the exact
    round-3/4 failure mode). Names, order, oracle flags and counts stay
    strictly compared; the rows column is refreshed by the round-start
    rotation (scripts/plan_window.py workflow)."""
    import re as _re

    out = []
    for ln in text.split("\n"):
        m = _re.match(r"^(\| \d+ \| `[^`]+` \| [a-z-]+ )\| .* \|$", ln)
        out.append(m.group(1) + "|" if m else ln)
    return "\n".join(out)


def main() -> int:
    check = "--check" in sys.argv
    path = os.path.join(REPO, "COVERAGE.md")
    with open(path) as fh:
        doc = fh.read()
    block = generate()
    if BEGIN in doc:
        head, rest = doc.split(BEGIN, 1)
        _, tail = rest.split(END, 1)
        new = head + block + tail
    else:
        new = doc.rstrip() + "\n\n" + block + "\n"
    if check:
        if _stable_projection(new) != _stable_projection(doc):
            print("COVERAGE.md registry section is stale; rerun "
                  "scripts/gen_coverage_registry.py", file=sys.stderr)
            return 1
        return 0
    with open(path, "w") as fh:
        fh.write(new)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
