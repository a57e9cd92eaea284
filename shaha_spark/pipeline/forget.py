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

The per-file swap is slice compaction's crash protocol
(:func:`shaha_spark.pipeline.compact.replace_files`, recovered by
:func:`~shaha_spark.pipeline.compact.recover_slices`): a crash mid-swap
either leaves the original intact or rolls the replacement forward —
never both, never neither. Unlike compaction, the original is always
deleted, never retained: erased rows may not survive in history. Files
whose every row is forgotten are simply deleted (idempotent; a crash
just re-deletes on re-run).

This is an extension beyond the reference CLI (which has no delete);
a transactional table format would make the swap a metadata commit —
noted in SCALE.md as the production upgrade path.
"""

from __future__ import annotations

from functools import partial
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shaha_spark import io_util
from shaha_spark.pipeline.build import read_sidecar, refresh_sidecar
from shaha_spark.pipeline.compact import hash_range, recover_slices, replace_files


def plan_forget(
    spark: SparkSession, path: str, digests: list[bytes]
) -> dict[str, Any]:
    """Driver-side footer-only planning: which files can contain any
    of ``digests``. Requires a local filesystem for footer reads (the
    same constraint as slice compaction); a file without statistics
    stays a candidate."""
    targets = sorted(set(digests))
    candidates: list[dict[str, Any]] = []
    total_files = 0
    for p, _sz in io_util.list_files(spark, path):
        total_files += 1
        lo, hi, n_rows = hash_range(p)
        if lo is None or any(lo <= d <= hi for d in targets):
            candidates.append({"file": p, "rows": n_rows})
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
    from . import snapshot

    recovered = recover_slices(spark, path)
    snap_refs = snapshot.referenced_rels(spark, path)
    plan = plan_forget(spark, path, digests)
    targets = [bytes(d) for d in sorted(set(digests))]

    rows_deleted = live_rows_deleted = rewritten = dropped = 0
    delete = partial(io_util.delete, spark)
    try:
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
            # rows scrubbed from retained history copies under
            # _snapshots/ are not live rows: the sidecar's total_records
            # counts the visible database only, so decrementing it by
            # history-copy deletions would make info/stats drift
            # permanently after any compaction+snapshot cycle
            retained = snapshot.in_retained(path, p)
            n_live = 0 if retained else n_delete
            if n_after == 0:
                # every row was an erasure target: the file leaves
                # history too (read_snapshot reports the hole) — erased
                # data may not survive in retained copies
                delete(p)
                if retained:
                    snapshot.repoint_retained(
                        spark, path, snapshot.retained_rel_of(path, p), None
                    )
                live_rows_deleted += n_live
                dropped += 1
                continue
            final = replace_files(
                spark, [p], remaining, "forget", delete, records_delta=-n_live
            )
            live_rows_deleted += n_live
            # erasure reaches HISTORY: a rewritten retained file keeps
            # serving its snapshots under the new stem; a
            # snapshot-referenced visible original is aliased to its
            # replacement, whose content is exactly the original minus
            # the erased rows — the most history erasure law permits
            if retained:
                old_rrel = snapshot.retained_rel_of(path, p)
                stem = final.rsplit("/", 1)[1]
                new_rrel = (
                    old_rrel.rsplit("/", 1)[0] + "/" + stem
                    if "/" in old_rrel
                    else stem
                )
                snapshot.repoint_retained(spark, path, old_rrel, new_rrel)
            else:
                try:
                    rel_old = snapshot.rel_of(path, p)
                    if rel_old in snap_refs:
                        snapshot.alias_rel(
                            spark, path, rel_old, snapshot.rel_of(path, final)
                        )
                except ValueError:
                    pass
            rewritten += 1
    finally:
        # the swaps that completed, even if a later one failed; a
        # committed-but-unpublished swap's rows travel in its manifest
        if live_rows_deleted:
            refresh_sidecar(spark, path, -live_rows_deleted)
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
