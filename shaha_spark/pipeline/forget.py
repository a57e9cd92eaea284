"""Targeted record deletion ("forget") from a hash database — the
GDPR-style erasure path: remove every record for a set of preimages
(or raw digests) while rewriting ONLY the files whose hash range can
contain them.

Why this is cheap here: the build writes the dataset globally sorted
by digest (range partitioning), so each parquet file covers a disjoint
[min, max] hash slice, and the index entries that record it (the
sidecar's file index for live files, the snapshot manifests for the
history copies) locate the files a digest could live in without
reading any data or footer. A forget of k digests touches at most k
files (usually far fewer), regardless of dataset size — at
100 TB that's the difference between rewriting gigabytes and running a
full-dataset anti-join job.

Pruning is conservative: a file is a candidate if any target digest
falls inside its entry's [min, max] (taken from footer statistics,
which truncation only widens, so candidates are a superset); the
rewrite then filters by EXACT digest equality, so over-selection costs
a file scan, never a wrong delete.

A forget commits in one swap of every live file it erases from
(:func:`shaha_spark.pipeline.compact.replace_files`, under the write
lock and recovery of :func:`~shaha_spark.pipeline.compact.writing`),
and in a second only when it erases from the history copies retained
for snapshots. A crash mid-swap either leaves every original intact or
rolls every replacement forward, never a mix, and the roll-forward also
points history at the replacements and writes the sidecar. Unlike
compaction, the originals are always deleted ("erase"), never retained:
erased rows may not survive in history. A file whose every row is
forgotten is replaced by nothing; a candidate with nothing to erase is
left alone. Each swap disposes of its originals before it returns, so
once :func:`forget_digests` returns no live file, retained copy or
snapshot entry holds an erased row.

This is an extension beyond the reference CLI (which has no delete);
a transactional table format would make the swap a metadata commit —
noted in SCALE.md as the production upgrade path.
"""

from __future__ import annotations

from collections import defaultdict
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shaha_spark import io_util
from shaha_spark.pipeline import snapshot
from shaha_spark.pipeline.build import read_sidecar
from shaha_spark.pipeline.compact import (
    adjusted,
    file_index,
    hash_range,
    live_sidecar,
    one_sorted_file,
    replace_files,
    writing,
)
from shaha_spark.schema import HASH_DB_SCHEMA


def plan_forget(
    spark: SparkSession, path: str, digests: list[bytes]
) -> dict[str, Any]:
    """Driver-side planning from index entries, no data and no footers
    read: which files can contain any of ``digests`` — the live files
    the sidecar's index names and the history copies retained for
    snapshots, which their manifest entries name. A database whose
    sidecar has no index gets one from its footers, as a writer would
    (``compact.live_sidecar``), which needs a local filesystem."""
    root = io_util.qualify(spark, path)
    live = snapshot.live_files(spark, root)
    return _plan_forget(spark, root, live, live_sidecar(spark, root, live), digests)


def _plan_forget(
    spark: SparkSession,
    root: str,
    live: list[tuple[str, int]],
    meta: dict[str, Any] | None,
    digests: list[bytes],
) -> dict[str, Any]:
    """The plan over the index of ``live``, the database's live files,
    from their sidecar ``meta`` (``compact.live_sidecar``) or their
    footers, and the entries of the snapshots' retained copies; one
    candidate per file: an entry whose range holds a target, or that
    has no range while it may hold rows (a snapshot of a store without
    an index, whose rows the footer gives)."""
    index = (meta or {}).get("files") or file_index(root, live)
    if index is None:
        raise ValueError(
            f"forget needs the file index of {root}, or footers it can read "
            "to build one (a local filesystem)"
        )
    targets = sorted(set(digests))
    entries = {e["path"]: e for e in index}
    for m in snapshot.snapshot_list(spark, root):
        for e in m["files"]:
            if (e["path"] or "").startswith(snapshot.RETAINED_PREFIX):
                entries.setdefault(e["path"], e)
    candidates = [
        {
            "file": f"{root}/{rel}",
            "rows": hash_range(f"{root}/{rel}")[2] if e["rows"] is None else e["rows"],
            "bytes": e["bytes"],
        }
        for rel, e in sorted(entries.items())
        if e["rows"] != 0 and (
            e["min"] is None
            or any(bytes.fromhex(e["min"]) <= d <= bytes.fromhex(e["max"]) for d in targets)
        )
    ]
    return {
        "n_digests": len(targets),
        "total_files": len(entries),
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
        live = snapshot.visible_files(path, entries)
        meta = live_sidecar(spark, path, live)
        plan = _plan_forget(spark, path, live, meta, digests)
        hit = F.col("hash").isin([bytes(d) for d in sorted(set(digests))])
        retained = path + "/" + snapshot.RETAINED_PREFIX.rstrip("/")
        cands = sorted(plan["candidates"], key=lambda c: c["file"])
        for c in cands:
            c["history"] = not snapshot.is_visible(snapshot.rel_of(path, c["file"]))
            # one filtered read, checkpointed lazily: it feeds both the
            # count below and the write
            c["survivors"] = (
                spark.read.schema(HASH_DB_SCHEMA)
                .option("basePath", retained if c["history"] else path)
                .parquet(c["file"])
                .where(~hit)
                .localCheckpoint(eager=False)
            )
        counts = dict(
            reduce(
                DataFrame.unionByName,
                [c["survivors"].select(F.lit(i).alias("i")) for i, c in enumerate(cands)],
            ).groupBy("i").count().collect()
        ) if cands else {}
        # one swap per tree (the database, its retained history) and
        # layout; a candidate with nothing erased stays out of it
        swaps: dict[tuple[bool, bool], list[dict[str, Any]]] = defaultdict(list)
        for i, c in enumerate(cands):
            c["left"] = counts.get(i, 0)
            if c["left"] < c["rows"]:
                swaps[c["history"], "/algorithm=" in c["file"]].append(c)

        rows_deleted = live_rows_deleted = rewritten = dropped = 0
        for (history, partitioned), touched in sorted(swaps.items()):
            # the rewritten files first, each paired with its frame, then
            # the files left with no rows
            touched.sort(key=lambda c: not c["left"])
            frames = [one_sorted_file(c["survivors"]) for c in touched if c["left"]]
            n_rows = sum(c["rows"] for c in touched)
            n_after = sum(c["left"] for c in touched)
            # history copies hold no live rows: the sidecar counts the
            # visible database only
            meta = replace_files(
                spark,
                path,
                [(c["file"], c["bytes"]) for c in touched],
                reduce(DataFrame.unionByName, frames) if frames else None,
                "forget",
                "erase",
                meta if history else adjusted(
                    meta, -n_rows, -sum(c["bytes"] for c in touched)
                ),
                rows=n_after,
                partition_by="algorithm" if partitioned else None,
            )["sidecar"]
            rows_deleted += n_rows - n_after
            live_rows_deleted += 0 if history else n_rows - n_after
            rewritten += len(frames)
            dropped += len(touched) - len(frames)
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
