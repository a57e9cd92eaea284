#!/usr/bin/env python3
"""A/B of the hash-database benchmark: a base revision against the
working tree.

Exports ``--base`` with ``git archive`` into a temporary directory and
runs ``perfbench/run.py --seconds 1`` on both sides for every seed,
alternating which side goes first (the base on even positions in the
seed list, the working tree on odd ones). Then, per workload and
metric, it prints each side's median and quartiles and the number of
pairs the working tree won; ties count for neither side. For each
end-to-end metric the last column gives a verdict, in the metric's
``better`` direction and with its ``BENCHMARK.json`` bound:

* ``gain``: the working tree wins at least nine pairs in ten, and its
  median beats the base's by more than the base's interquartile range;
* ``unresolved``: the base's interquartile range exceeds the bound
  times its median, so the runs spread too widely to tell, and not
  every run of the working tree beats every run of the base;
* otherwise ``within`` or ``OUTSIDE``: whether the working tree's median
  is no worse than the base's by more than the bound times the base's
  median.

    python3 scripts/perfbench_ab.py --base HEAD~1 --seeds 1-10
    make perfbench-ab BASE=HEAD~1 SEEDS=1-10

Run it from the repository root. Each run writes only under
``.perfbench_work/`` of its own tree, which run.py removes itself.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_seeds(spec: str) -> list[int]:
    """``"1-10"``, ``"3,7,9"`` or a mix (``"1-5,11"``)."""
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def export(rev: str, into: Path) -> None:
    """The committed tree of ``rev`` under ``into``."""
    archive = into.with_suffix(".tar")
    subprocess.run(
        ["git", "archive", "--format=tar", f"--output={archive}", rev],
        cwd=ROOT, check=True,
    )
    with tarfile.open(archive) as tar:
        tar.extractall(into)
    archive.unlink()


def run(tree: Path, workload: str, seed: int, trace: int) -> dict:
    """The result line of one benchmark run in ``tree``."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=tree, env=env, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"{tree} {workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> list[float]:
    """First quartile, median, third quartile."""
    return statistics.quantiles(values, n=4) if len(values) > 1 else values * 3


def spread(values: list[float]) -> str:
    """``median [first quartile, third quartile]``."""
    q1, med, q3 = quartiles(values)
    return f"{med:.4g} [{q1:.4g}, {q3:.4g}]"


def verdict(
    base: list[float], change: list[float], wins: int, sign: int, bound: float
) -> str:
    """The verdict (see the module docstring) on paired runs of an
    end-to-end metric, of which the change won ``wins``; ``sign`` is 1
    where lower is better, else -1."""
    q1, med, q3 = quartiles(base)
    ahead = sign * (med - statistics.median(change))  # > 0: the change is better
    if 10 * wins >= 9 * len(base) and ahead > q3 - q1:
        return "gain"
    if q3 - q1 > bound * abs(med) and not all(
        sign * (y - x) < 0 for x in base for y in change
    ):
        return "unresolved"
    return f"{'within' if -ahead <= bound * abs(med) else 'OUTSIDE'} {bound:g}"


def declared() -> dict[str, tuple[bool, float | None]]:
    """Per metric of ``BENCHMARK.json``: whether lower is better, and
    the bound of an end-to-end metric (None for a per-layer one)."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {
        m["name"]: (m["better"] == "lower", m.get("bound"))
        for m in spec["end_to_end"] + spec["per_layer"]
    }


def report(workload: str, pairs: list[tuple[dict, dict]]) -> None:
    metrics = declared()
    failed = [sum(side["failed"] for side in sides) for sides in zip(*pairs)]
    print(f"\n== {workload}: {len(pairs)} pairs; failed base {failed[0]}, "
          f"change {failed[1]}")
    print(f"{'metric':40} {'base median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'ratio':>7} {'wins':>6} {'verdict':>14}")
    names = sorted(set.intersection(*(set(r["metrics"]) for p in pairs for r in p)))
    for name in names:
        a = [p[0]["metrics"][name]["value"] for p in pairs]
        b = [p[1]["metrics"][name]["value"] for p in pairs]
        lower, bound = metrics.get(name, (True, None))
        sign = 1 if lower else -1
        wins = sum(sign * (y - x) < 0 for x, y in zip(a, b))
        ma, mb = statistics.median(a), statistics.median(b)
        ratio = mb / ma if ma else float("nan")
        held = "" if bound is None else verdict(a, b, wins, sign, bound)
        print(f"{name:40} {spread(a):>30} {spread(b):>30} {ratio:>7.3f} "
              f"{wins:>3}/{len(pairs)} {held:>14}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default="HEAD", help="git revision to compare against")
    ap.add_argument("--seeds", default="1-10", help='e.g. "1-10" or "3,7,9"')
    ap.add_argument("--workloads", default="build,lifecycle")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--json", help="also write every result line here")
    args = ap.parse_args()

    seeds = parse_seeds(args.seeds)
    raw: list[dict] = []
    with tempfile.TemporaryDirectory(prefix="perfbench-ab-") as tmp:
        base = Path(tmp) / "base"
        export(args.base, base)
        for workload in args.workloads.split(","):
            pairs = []
            for i, seed in enumerate(seeds):
                order = [("base", base), ("change", ROOT)]
                if i % 2:
                    order.reverse()
                got = {}
                for side, tree in order:
                    got[side] = run(tree, workload, seed, args.trace)
                    raw.append({"workload": workload, "seed": seed, "side": side,
                                "first": side == order[0][0], **got[side]})
                    print(f"{workload} seed {seed} {side} done", file=sys.stderr)
                pairs.append((got["base"], got["change"]))
                if args.json:
                    Path(args.json).write_text(json.dumps(raw, indent=1))
            report(workload, pairs)


if __name__ == "__main__":
    main()
