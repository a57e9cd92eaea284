"""Small-file compaction for long-lived hash databases.

Every streaming micro-batch or incremental append adds files; at 100 TB
a database accumulating thousands of small parquet files pays for it on
every query (task-per-file scheduling, footer reads, lost row-group
locality). Compaction rewrites the dataset into size-targeted files
while PRESERVING the global hash sort (the property point lookups and
prefix scans rely on), then swaps it into place with the same
checked-rename protocol as append.

The rewrite is one range-repartition + per-partition sort + write —
identical machinery to the original build, so a compacted database is
indistinguishable from a freshly built one (same layout, same blooms,
same sidecar schema). The planner is pure metadata: it reads file
listings, never data, and skips when the layout is already within
target, so a no-op compaction costs one directory listing.
"""

from __future__ import annotations

import json
import math
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from shaha_spark import io_util
from shaha_spark.pipeline.build import (
    is_algorithm_partitioned,
    read_hashdb,
    refresh_sidecar,
    sort_for_write,
    write_hashdb,
)

#: default target size per output file (pre-compression bytes on disk)
DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def plan_compaction(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> dict[str, Any]:
    """Metadata-only compaction plan: current layout vs target.

    ``needed`` is True when the file count exceeds what the total size
    justifies at ``target_file_bytes`` — i.e. the dataset is fragmented,
    not merely large.
    """
    from . import snapshot

    files = snapshot.live_files(spark, path)
    total = sum(sz for _, sz in files)
    target_files = max(1, math.ceil(total / target_file_bytes))
    return {
        "n_files": len(files),
        "total_bytes": total,
        "target_files": target_files,
        "needed": len(files) > target_files,
    }


def compact_hashdb(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    force: bool = False,
) -> dict[str, Any]:
    """Rewrite ``path`` into ``target_files`` hash-sorted files.

    No-op (returns the plan with ``compacted=False``) unless the plan
    says fragmentation exists or ``force`` is set. The swap follows the
    build/append protocol: write to a temp dir, checked-rename the live
    dataset aside, checked-rename the compacted one into place, drop
    the backup only after both renames succeeded. The sidecar's logical
    metadata (algorithms, sources, total_records) is carried over
    unchanged; its physical stats are recomputed.
    """
    plan = plan_compaction(spark, path, target_file_bytes)
    if not plan["needed"] and not force:
        return {**plan, "compacted": False}

    df = read_hashdb(spark, path)
    from . import snapshot

    old_live = snapshot.live_files(spark, path)
    tmp = path.rstrip("/") + ".__compact__"
    io_util.delete(spark, tmp)
    write_hashdb(
        sort_for_write(df, num_files=plan["target_files"]),
        tmp,
        partition_by_algorithm=is_algorithm_partitioned(old_live),
    )

    snapshot.swap_live_tree(spark, path, tmp, old_live, op="compaction")
    refresh_sidecar(spark, path)
    after = plan_compaction(spark, path, target_file_bytes)
    return {
        **plan,
        "compacted": True,
        "files_after": after["n_files"],
    }


# ------------------------------------------------------------ slices

#: a file under this share of the target size is "small" and may merge
SMALL_FILE_RATIO = 0.5


def hash_range(path: str) -> tuple[bytes | None, bytes | None, int]:
    """(min, max, num_rows) of one parquet file's ``hash`` column across
    all row groups, from footer metadata only; (None, None, num_rows)
    when a row group has no statistics.

    Footers are read with pyarrow, so this needs a local filesystem; a
    remote ``path`` raises ValueError (plan whole-dataset compaction
    with :func:`plan_compaction` there instead)."""
    import pyarrow.parquet as pq

    if path.startswith("file:"):
        local = path[len("file:"):]
    elif "://" not in path and not path.startswith("viewfs:"):
        local = path
    else:
        raise ValueError(
            f"footer planning needs local parquet footers, got {path}; "
            "use plan_compaction/compact_hashdb for remote stores"
        )
    md = pq.ParquetFile(local).metadata
    col_idx = md.schema.to_arrow_schema().names.index("hash")
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(col_idx).statistics
        if st is None or st.min is None or st.max is None:
            return None, None, md.num_rows
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return lo, hi, md.num_rows


def plan_slice_compaction(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> dict[str, Any]:
    """Plan per-slice compaction: contiguous runs of undersized files.

    The global hash sort makes every file a disjoint [min, max] hash
    range, so any contiguous-in-range subset can be rewritten
    independently without touching (or re-sorting) the rest — at 100 TB
    this is the difference between rewriting gigabytes and rewriting
    the dataset. Planning is driver-side footer metadata only
    (:func:`hash_range`): each candidate file's min ``hash`` orders the
    run, and a file without statistics never joins one; no data is
    read. Partitioned layouts are sliced per partition directory
    (ranges from different ``algorithm=`` partitions interleave and
    must never merge).
    """
    import os
    from collections import defaultdict

    from . import snapshot

    small = int(target_file_bytes * SMALL_FILE_RATIO)
    by_dir: dict[str, list[tuple[str, int]]] = defaultdict(list)
    for p, sz in snapshot.live_files(spark, path):
        by_dir[os.path.dirname(p)].append((p, sz))

    slices: list[dict[str, Any]] = []
    for d, files in sorted(by_dir.items()):
        keyed = []
        for p, sz in files:
            lo = hash_range(p)[0]
            if lo is not None:
                keyed.append((lo, p, sz))
        keyed.sort()
        run: list[tuple[str, int]] = []
        run_bytes = 0

        def flush():
            nonlocal run, run_bytes
            if len(run) >= 2:
                slices.append({"dir": d, "files": run, "bytes": run_bytes})
            run, run_bytes = [], 0

        for _, p, sz in keyed:
            if sz >= small or run_bytes + sz > int(target_file_bytes * 1.5):
                flush()
            if sz < small:
                run.append((p, sz))
                run_bytes += sz
        flush()
    return {
        "n_slices": len(slices),
        "slice_files": sum(len(s["files"]) for s in slices),
        "slice_bytes": sum(s["bytes"] for s in slices),
        "slices": slices,
        "needed": bool(slices),
    }


#: sidecar manifest name per staged file: records the swap so a crash
#: between "dispose of originals" and "rename visible" rolls forward
MANIFEST_SUFFIX = ".manifest.json"


def replace_files(
    spark: SparkSession,
    originals: list[str],
    df: DataFrame,
    stem_prefix: str,
    dispose: Callable[[str], Any],
    records_delta: int = 0,
) -> str:
    """Replace ``originals`` (files of one database directory) with ONE
    file holding ``df``, crash-safely; returns the published path. The
    one home of the per-file swap protocol that slice compaction and
    forget share:

    1. ``df`` is sorted by ``(hash[, algorithm])`` into one file in a
       hidden temp dir, then renamed beside the originals under an
       ``_incoming-`` name (underscore-prefixed files are invisible to
       parquet readers);
    2. commit point: a manifest records the originals, the final name
       and ``records_delta`` (the live-row change the swap makes);
    3. ``dispose`` removes each original (compaction may retain it for
       snapshots; erasure must delete it);
    4. the replacement is renamed visible, then the temp dir and the
       manifest are dropped.

    A crash before step 2 leaves the originals intact; after it,
    :func:`recover_slices` rolls the swap forward, sidecar included.
    """
    d = originals[0].rsplit("/", 1)[0]
    sort_cols = ["hash"] + (["algorithm"] if "algorithm" in df.columns else [])
    tmp = f"{d}/.__{stem_prefix}_{uuid.uuid4().hex[:8]}__"
    write_hashdb(df.coalesce(1).sortWithinPartitions(*sort_cols), tmp)
    part = next(p for p, _ in io_util.list_files(spark, tmp))
    stem = f"{stem_prefix}-{uuid.uuid4().hex[:12]}.zstd.parquet"
    incoming = f"{d}/_incoming-{stem}"
    final = f"{d}/{stem}"
    if not io_util.rename(spark, part, incoming):
        io_util.delete(spark, tmp)
        raise IOError(f"{stem_prefix}: could not stage {incoming}")
    io_util.write_text_atomic(
        spark,
        incoming + MANIFEST_SUFFIX,
        json.dumps(
            {"originals": originals, "final": final, "records_delta": records_delta}
        ),
    )
    for p in originals:
        dispose(p)
    if not io_util.rename(spark, incoming, final):
        raise IOError(
            f"{stem_prefix}: staged file {incoming} could not be made "
            "visible; its manifest rolls the swap forward on the next run"
        )
    io_util.delete(spark, tmp)
    io_util.delete(spark, incoming + MANIFEST_SUFFIX)
    return final


def recover_slices(spark: SparkSession, path: str) -> dict[str, int]:
    """Finish or undo per-file swaps (:func:`replace_files`) interrupted
    by a crash.

    * staged ``_incoming`` file WITH a manifest: the swap committed —
      roll forward (delete any surviving originals, rename the
      replacement visible, apply the manifest's ``records_delta`` to
      the sidecar, drop the manifest);
    * staged file WITHOUT a manifest: the swap never committed — the
      originals are all still live, so the stage is redundant; drop it.

    Idempotent; called automatically by :func:`compact_slices` and
    ``forget_digests``.
    """
    import os

    entries = io_util.list_files(spark, path, suffix=None)
    names = {p for p, _ in entries}
    rolled = dropped = records_delta = 0
    for p in sorted(names):
        base = os.path.basename(p)
        if base.startswith("_incoming-") and p.endswith(MANIFEST_SUFFIX):
            incoming = p[: -len(MANIFEST_SUFFIX)]
            try:
                manifest = json.loads(io_util.read_text(spark, p) or "")
                manifest["final"]
            except (ValueError, KeyError, TypeError):
                # torn manifest (crash mid-write, pre-atomic-write
                # legacy): the commit point was never reached, so the
                # originals are all intact — drop the stage and the
                # torn marker instead of crashing recovery forever
                io_util.delete(spark, p)
                if incoming in names:
                    io_util.delete(spark, incoming)
                    dropped += 1
                continue
            for orig in manifest.get("originals", []):
                io_util.delete(spark, orig)
            if incoming in names:
                if not io_util.rename(spark, incoming, manifest["final"]):
                    raise IOError(
                        f"slice recovery: could not make {incoming} visible"
                    )
            io_util.delete(spark, p)
            records_delta += manifest.get("records_delta", 0)
            rolled += 1
        elif base.startswith("_incoming-") and not p.endswith(MANIFEST_SUFFIX):
            if p + MANIFEST_SUFFIX not in names:
                io_util.delete(spark, p)
                dropped += 1
    if rolled:
        refresh_sidecar(spark, path, records_delta)
    return {"rolled_forward": rolled, "dropped_stages": dropped}


def compact_slices(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    max_slices: int | None = None,
) -> dict[str, Any]:
    """Rewrite each fragmented hash-range slice into one sorted file.

    Each slice is swapped in place by :func:`replace_files` (no
    directory swap — the rest of the dataset keeps serving); replaced
    originals a snapshot still references are retired, not deleted.
    Any crash is recoverable by :func:`recover_slices`, run
    automatically at the start of every compaction. A transactional
    table format would collapse the whole protocol into one commit —
    noted in SCALE.md; this is the honest ceiling of a directory-layout
    store.

    ``max_slices`` bounds one maintenance run (schedule by
    fragmentation score at scale); slices are processed worst-first
    (most files first).
    """
    from functools import partial

    from . import snapshot

    recovered = recover_slices(spark, path)
    retire = partial(
        snapshot.retire_or_delete,
        spark,
        path,
        refs=snapshot.referenced_rels(spark, path),
    )
    plan = plan_slice_compaction(spark, path, target_file_bytes)
    todo = sorted(plan["slices"], key=lambda s: -len(s["files"]))
    if max_slices is not None:
        todo = todo[:max_slices]
    if not todo:
        return {**plan, "compacted": 0, "recovered": recovered}

    for s in todo:
        files = [p for p, _ in s["files"]]
        replace_files(spark, files, spark.read.parquet(*files), "slice", retire)
    refresh_sidecar(spark, path)
    return {**plan, "compacted": len(todo), "recovered": recovered}
