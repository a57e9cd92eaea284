"""Targeted record deletion ("forget") from a hash database — the
GDPR-style erasure path: remove every record for a set of preimages
(or raw digests) while rewriting ONLY the files whose hash range can
contain them.

Why this is cheap here: the build writes the dataset globally sorted
by digest (range partitioning), so each parquet file covers a disjoint
[min, max] hash slice and footer statistics locate the files a digest
could live in without reading any data. A forget of k digests touches
at most k files (usually far fewer), regardless of dataset size — at
100 TB that's the difference between rewriting gigabytes and running a
full-dataset anti-join job.

Pruning is conservative: a file is a candidate if any target digest
falls inside its footer [min, max] (truncated parquet statistics only
widen the range, so candidates are a superset); the rewrite then
filters by EXACT digest equality, so over-selection costs a file scan,
never a wrong delete.

Each file is swapped by the protocol every rewrite shares
(:func:`shaha_spark.pipeline.compact.replace_files`, under the write
lock and recovery of :func:`~shaha_spark.pipeline.compact.writing`): a
crash mid-swap
either leaves the original intact or rolls the replacement forward —
never both, never neither — and the roll-forward also points history at
the replacement and writes the sidecar. Unlike compaction, the original
is always deleted ("erase"), never retained: erased rows may not
survive in history. A file whose every row is forgotten is replaced by
nothing.

This is an extension beyond the reference CLI (which has no delete);
a transactional table format would make the swap a metadata commit —
noted in SCALE.md as the production upgrade path.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shaha_spark import io_util
from shaha_spark.pipeline import snapshot
from shaha_spark.pipeline.build import read_sidecar
from shaha_spark.pipeline.compact import (
    adjusted,
    hash_range,
    live_sidecar,
    one_sorted_file,
    replace_files,
    writing,
)


def plan_forget(
    spark: SparkSession, path: str, digests: list[bytes]
) -> dict[str, Any]:
    """Driver-side footer-only planning: which files can contain any
    of ``digests`` — live files and the history copies retained for
    snapshots. Requires a local filesystem for footer reads (the same
    constraint as the file index); a file without statistics stays a
    candidate."""
    root = io_util.qualify(spark, path)
    return _plan_forget(root, io_util.list_files(spark, root), digests)


def _plan_forget(
    path: str, entries: list[tuple[str, int]], digests: list[bytes]
) -> dict[str, Any]:
    targets = sorted(set(digests))
    candidates: list[dict[str, Any]] = []
    total_files = 0
    for p, sz in entries:
        # erasure reaches live files and the history copies retained
        rel = snapshot.rel_of(path, p).removeprefix(snapshot.RETAINED_PREFIX)
        if not p.endswith(".parquet") or not snapshot.is_visible(rel):
            continue
        total_files += 1
        lo, hi, n_rows = hash_range(p)
        if lo is None or any(lo <= d <= hi for d in targets):
            candidates.append({"file": p, "rows": n_rows, "bytes": sz})
    return {
        "n_digests": len(targets),
        "total_files": total_files,
        "candidate_files": len(candidates),
        "candidates": candidates,
    }


def _empty_forget_report() -> dict[str, Any]:
    """Nothing-to-do report with the SAME key set as a real run, so
    callers reading any documented key never hit a shape difference."""
    return {
        "n_digests": 0,
        "total_files": 0,
        "candidate_files": 0,
        "rows_deleted": 0,
        "live_rows_deleted": 0,
        "files_rewritten": 0,
        "files_dropped": 0,
        "recovered": {"rolled_forward": 0, "dropped_stages": 0},
    }


def forget_digests(
    spark: SparkSession, path: str, digests: list[bytes]
) -> dict[str, Any]:
    """Delete every record whose ``hash`` equals one of ``digests``,
    rewriting only range-matching files. Returns a report; idempotent
    (a second run deletes nothing)."""
    if not digests:
        return _empty_forget_report()
    with writing(spark, path) as (path, entries, recovered):
        plan = _plan_forget(path, entries, digests)
        meta = live_sidecar(spark, path, snapshot.visible_files(path, entries))
        targets = [bytes(d) for d in sorted(set(digests))]

        rows_deleted = live_rows_deleted = rewritten = dropped = 0
        for cand in plan["candidates"]:
            p = cand["file"]
            df: DataFrame = spark.read.parquet(p)
            # lazy checkpoint: the survivor set is consumed twice (the
            # count that decides drop-vs-rewrite, then the rewrite
            # itself) — one filtered read of the candidate file, not two
            remaining = df.where(~F.col("hash").isin(targets)).localCheckpoint(
                eager=False
            )
            n_after = remaining.count()
            n_delete = cand["rows"] - n_after
            if n_delete == 0:
                continue  # range false positive
            rows_deleted += n_delete
            # rows scrubbed from retained history copies under _snapshots/
            # are not live rows: the sidecar's total_records counts the
            # visible database only, so decrementing it by history-copy
            # deletions would make info/stats drift permanently after any
            # compaction+snapshot cycle
            live = snapshot.is_visible(snapshot.rel_of(path, p))
            # a file whose every row was an erasure target is replaced by
            # nothing: it leaves history too (read_snapshot reports the hole)
            meta = replace_files(
                spark,
                path,
                [(p, cand["bytes"])],
                one_sorted_file(remaining) if n_after else None,
                "forget",
                "erase",
                adjusted(meta, -cand["rows"], -cand["bytes"]) if live else meta,
                rows=n_after,
            )["sidecar"]
            if live:
                live_rows_deleted += n_delete
            if n_after:
                rewritten += 1
            else:
                dropped += 1
        return {
            **{k: plan[k] for k in ("n_digests", "total_files", "candidate_files")},
            "rows_deleted": rows_deleted,
            "live_rows_deleted": live_rows_deleted,
            "files_rewritten": rewritten,
            "files_dropped": dropped,
            "recovered": recovered,
        }


def preimage_digests(
    spark: SparkSession,
    path: str,
    preimages: list[str],
    algorithms: list[str] | None = None,
) -> list[bytes]:
    """Expand preimages into the digests to erase, under every
    algorithm the database holds (or an explicit subset). The algorithm
    list comes from the sidecar, FALLING BACK TO A SCAN when the
    sidecar is missing — the single shared expansion for both the real
    erasure and the CLI dry-run, so the plan can never claim a no-op
    for a run that would delete rows. Digests are computed with the
    engine's own hasher kernels on a tiny in-memory DataFrame — no
    driver-side reimplementation to drift."""
    from shaha_spark.functions.hashers import hash_expr
    from shaha_spark.pipeline.stats import scan_stats

    if algorithms is None:
        meta = read_sidecar(spark, path)
        algorithms = (
            meta["algorithms"] if meta else scan_stats(spark, path)["algorithms"]
        )
    if not preimages or not algorithms:
        return []
    words = spark.createDataFrame([(w,) for w in preimages], "word string")
    return [
        bytes(r.d)
        for algo in algorithms
        for r in words.select(hash_expr(algo, F.col("word")).alias("d")).collect()
    ]


def forget_preimages(
    spark: SparkSession,
    path: str,
    preimages: list[str],
    algorithms: list[str] | None = None,
) -> dict[str, Any]:
    """Erase ``preimages`` under every algorithm the database holds
    (or an explicit subset) — see :func:`preimage_digests`."""
    digests = preimage_digests(spark, path, preimages, algorithms)
    if not digests:
        return _empty_forget_report()
    return forget_digests(spark, path, digests)
