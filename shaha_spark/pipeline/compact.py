"""Compaction of a long-lived hash database, and the one swap protocol
every rewrite goes through.

Every streaming micro-batch or incremental append adds files; at 100 TB
thousands of small parquet files cost every query (task-per-file
scheduling, footer reads, lost row-group locality). Compaction rewrites
the dataset, whole (:func:`compact_hashdb`, the build's own range sort)
or one hash-range slice at a time (:func:`compact_slices`), into
size-targeted files that keep the global hash sort lookups rely on.

:func:`replace_files` is the only way a database's Parquet files change
after a fresh build; :func:`recover_and_list` runs first in append, both
compactions and forget, finishes a swap an earlier run committed, and
lists the database once for the verb's planning. The planners read
listings and footers, never data.

The persistent ANN index (``operators/ann_index.py``), the repo's other
on-disk store of Parquet files plus a sidecar, changes its files through
the same swap and recovery: its appends add ``centroid_id=`` bucket
files, and its compaction replaces them all.
"""

from __future__ import annotations

import json
import math
import re
import uuid
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from shaha_spark import io_util
from shaha_spark.pipeline import snapshot
from shaha_spark.pipeline.build import (
    is_algorithm_partitioned,
    put_sidecar,
    read_hashdb,
    read_sidecar,
    sort_for_write,
    with_index,
    write_hashdb,
)
from shaha_spark.schema import SIDECAR_NAME

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
    return _plan_whole(snapshot.live_files(spark, path), target_file_bytes)


def _plan_whole(files: list[tuple[str, int]], target_file_bytes: int) -> dict[str, Any]:
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
    says fragmentation exists or ``force`` is set. The rewrite replaces
    every live file in one :func:`replace_files` swap: originals a
    snapshot references are retained, the sidecar's logical metadata
    (algorithms, sources) carries over, and its ``total_records`` and
    ``file_size_bytes`` are those of the files written. An
    ``algorithm=`` layout is kept.
    """
    path, entries, recovered = recover_and_list(spark, path)
    live = snapshot.visible_files(path, entries)
    plan = _plan_whole(live, target_file_bytes)
    if not plan["needed"] and not force:
        return {**plan, "compacted": False, "recovered": recovered}

    meta = read_sidecar(spark, path)
    manifest = replace_files(
        spark,
        path,
        live,
        sort_for_write(read_hashdb(spark, path), num_files=plan["target_files"]),
        "compact",
        "retain",
        meta and {**meta, "total_records": 0, "file_size_bytes": 0, "files": []},
        partition_by="algorithm" if is_algorithm_partitioned(live) else None,
    )
    return {
        **plan,
        "compacted": True,
        "files_after": len(manifest["staged"]),
        "recovered": recovered,
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


def index_entry(path: str, rel: str, nbytes: int) -> dict[str, Any] | None:
    """The sidecar index entry (``build.with_index``) of the ``nbytes``
    parquet file at ``path``, listed under the db-relative ``rel``;
    None where :func:`hash_range` cannot give its range (a remote
    store, a file without statistics)."""
    try:
        lo, hi, rows = hash_range(path)
    except ValueError:
        return None
    if rows and lo is None:
        return None
    return {
        "path": rel,
        "rows": rows,
        "bytes": nbytes,
        "min": lo.hex() if rows else None,
        "max": hi.hex() if rows else None,
    }


def file_index(
    root: str, files: list[tuple[str, int]]
) -> list[dict[str, Any]] | None:
    """The sidecar index of ``files``, ``(path, bytes)`` of the
    database at ``root``, sorted by path; None if one file has no
    entry."""
    out = []
    for p, sz in files:
        entry = index_entry(p, snapshot.rel_of(root, p), sz)
        if entry is None:
            return None
        out.append(entry)
    return sorted(out, key=lambda e: e["path"])


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
    return _plan_slices(snapshot.live_files(spark, path), target_file_bytes)


def _plan_slices(
    live: list[tuple[str, int]], target_file_bytes: int
) -> dict[str, Any]:
    import os
    from collections import defaultdict

    small = int(target_file_bytes * SMALL_FILE_RATIO)
    by_dir: dict[str, list[tuple[str, int]]] = defaultdict(list)
    for p, sz in live:
        by_dir[os.path.dirname(p)].append((p, sz))

    slices: list[dict[str, Any]] = []
    for d, files in sorted(by_dir.items()):
        keyed = []
        for p, sz in files:
            lo, _, rows = hash_range(p)
            if lo is not None:
                keyed.append((lo, p, sz, rows))
        keyed.sort()
        run: list[tuple[str, int]] = []
        run_bytes = run_rows = 0

        def flush():
            nonlocal run, run_bytes, run_rows
            if len(run) >= 2:
                slices.append(
                    {"dir": d, "files": run, "bytes": run_bytes, "rows": run_rows}
                )
            run, run_bytes, run_rows = [], 0, 0

        for _, p, sz, rows in keyed:
            if sz >= small or run_bytes + sz > int(target_file_bytes * 1.5):
                flush()
            if sz < small:
                run.append((p, sz))
                run_bytes += sz
                run_rows += rows
        flush()
    return {
        "n_slices": len(slices),
        "slice_files": sum(len(s["files"]) for s in slices),
        "slice_bytes": sum(s["bytes"] for s in slices),
        "slices": slices,
        "needed": bool(slices),
    }


# ------------------------------------------------------------ the swap

#: the prefix that hides a staged file (and a swap's manifest) from
#: parquet readers until the swap publishes it
STAGE_PREFIX = "_incoming-"
#: suffix of a swap's manifest, the commit record of :func:`replace_files`
MANIFEST_SUFFIX = ".manifest.json"


def one_sorted_file(df: DataFrame) -> DataFrame:
    """``df`` as one partition in the build's ``(hash, algorithm)``
    order, with no shuffle: the frame of a per-file replacement."""
    sort_cols = ["hash"] + (["algorithm"] if "algorithm" in df.columns else [])
    return df.coalesce(1).sortWithinPartitions(*sort_cols)


def adjusted(
    meta: dict[str, Any] | None, rows: int, nbytes: int
) -> dict[str, Any] | None:
    """Sidecar ``meta`` with ``rows`` records and ``nbytes`` bytes added
    (negative: removed); None (no sidecar) stays None."""
    return meta and {
        **meta,
        "total_records": meta["total_records"] + rows,
        "file_size_bytes": meta["file_size_bytes"] + nbytes,
    }


def live_sidecar(
    spark: SparkSession, path: str, live: list[tuple[str, int]]
) -> dict[str, Any] | None:
    """The sidecar, with ``file_size_bytes`` taken from the verb's own
    ``(path, bytes)`` listing of the live files, and its file index
    rebuilt from that listing when it does not name exactly those files
    (written by a checkout without the index, or missing)."""
    meta = read_sidecar(spark, path)
    if meta is None:
        return None
    files = meta.get("files")
    listed = {(snapshot.rel_of(path, p), sz) for p, sz in live}
    if files is None or {(e["path"], e["bytes"]) for e in files} != listed:
        files = file_index(path, live)
    return with_index({**meta, "file_size_bytes": sum(sz for _, sz in live)}, files)


def replace_files(
    spark: SparkSession,
    path: str,
    originals: list[tuple[str, int]],
    df: DataFrame | None,
    stem_prefix: str,
    dispose: str,
    sidecar: dict[str, Any] | None,
    *,
    rows: int | None = None,
    partition_by: str | None = None,
    expect_rows: int | None = None,
) -> dict[str, Any]:
    """Replace ``originals``, ``(path, bytes)`` files of the store at
    ``path``, with the files of ``df``, crash-safely; returns the
    committed manifest. The one swap protocol of every rewrite after a
    fresh build, for the hash database (append, whole and slice
    compaction, forget) and the ANN index (append, compaction):

    1. ``df`` is written to a hidden temp dir, one file per partition
       and ``partition_by`` directory (:func:`one_sorted_file` for a
       per-file replacement, :func:`sort_for_write` for a whole
       rewrite, which may keep the ``algorithm=`` layout). Each file is
       renamed to an ``_incoming-`` name beside the originals, or in
       its partition directory; the partition index ends the stem, so
       names sort in hash order. ``df=None`` publishes nothing.
    2. Commit point: one manifest records the originals, the staged
       files, how the originals are disposed of (``dispose``, see
       :func:`snapshot.dispose`) and the sidecar after the swap:
       ``sidecar`` describes the store without the originals, and
       the swap adds the rows and bytes it publishes (None: no sidecar).
       ``rows`` is the row count of ``df`` when the caller knows it;
       otherwise the write job counts it. The sidecar's file index, if
       it has one, loses the originals and gains each published file's
       entry, read from the staged file's footer. When ``expect_rows``
       is given and the write counted other than that, the stage is
       dropped and nothing commits.
    3. :func:`_finish` disposes of the originals, publishes the staged
       files and writes the sidecar; the temp dir and manifest go last.

    A crash before step 2 leaves the originals intact, and recovery
    drops the stage; after it, :func:`recover_and_list` replays step 3.
    """
    root = path.rstrip("/")
    uid = uuid.uuid4().hex[:12]
    d = root
    if originals and partition_by is None:
        d = originals[0][0].rsplit("/", 1)[0]  # beside the originals
    tmp = f"{d}/.__{stem_prefix}_{uid}__"
    indexed = sidecar is not None and sidecar.get("files") is not None
    staged: list[list[str]] = []
    added = 0
    entries: list[dict[str, Any] | None] = []  # of the published files
    obs = Observation(f"{stem_prefix}_{uid}")
    if df is not None:
        if rows is None:
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        write_hashdb(df, tmp, partition_by=partition_by)
        for i, (part, size) in enumerate(sorted(io_util.list_files(spark, tmp))):
            sub = snapshot.rel_of(tmp, part).rpartition("/")[0]
            where = f"{d}/{sub}" if sub else d
            name = f"{stem_prefix}-{uid}-{i:05d}.zstd.parquet"
            incoming = f"{where}/{STAGE_PREFIX}{name}"
            if sub:
                io_util.mkdirs(spark, where)
            if not io_util.rename(spark, part, incoming):
                raise IOError(f"{stem_prefix}: could not stage {incoming}")
            final = snapshot.rel_of(root, f"{where}/{name}")
            staged.append([snapshot.rel_of(root, incoming), final])
            if snapshot.is_visible(final):
                added += size
                if indexed:
                    entries.append(index_entry(incoming, final, size))
    # a rewritten history copy adds no live rows
    if not (staged and snapshot.is_visible(staged[0][1])):
        rows = 0
    elif rows is None:
        rows = int(obs.get["n"])
    if expect_rows is not None and rows != expect_rows:
        for incoming, _ in staged:
            io_util.delete(spark, f"{root}/{incoming}")
        io_util.delete(spark, tmp)
        raise RuntimeError(
            f"{stem_prefix}: wrote {rows} rows where {expect_rows} were "
            "expected; nothing was replaced"
        )
    gone = [snapshot.rel_of(root, p) for p, _ in originals]
    after = adjusted(sidecar, rows, added)
    if indexed:
        kept = [e for e in after["files"] if e["path"] not in gone]
        after = with_index(
            after,
            None if None in entries else sorted(kept + entries, key=lambda e: e["path"]),
        )
    manifest = {
        "originals": gone,
        "staged": staged,
        "dispose": dispose,
        "sidecar": after,
    }
    manifest_path = f"{root}/{STAGE_PREFIX}{stem_prefix}-{uid}{MANIFEST_SUFFIX}"
    io_util.write_text_atomic(spark, manifest_path, json.dumps(manifest))
    _finish(spark, root, manifest)
    io_util.delete(spark, tmp)
    io_util.delete(spark, manifest_path)
    return manifest


def _finish(spark: SparkSession, root: str, manifest: dict[str, Any]) -> None:
    """Step 3 of :func:`replace_files`, for the live run and for
    recovery: a staged file already published before a crash is done."""
    staged = manifest["staged"]
    snapshot.dispose(
        spark,
        root,
        manifest["originals"],
        manifest.get("dispose"),
        staged[0][1] if len(staged) == 1 else None,
    )
    for incoming, final in staged:
        src, dst = f"{root}/{incoming}", f"{root}/{final}"
        if not io_util.rename(spark, src, dst) and not io_util.exists(spark, dst):
            raise IOError(
                f"staged file {src} could not be made visible; "
                "its manifest rolls the swap forward on the next run"
            )
    if manifest.get("sidecar") is not None:
        put_sidecar(spark, root, manifest["sidecar"])


def _settle_sidecar_write(spark: SparkSession, root: str, old_present: bool) -> None:
    """Finish or drop a sidecar write (``io_util.write_text_atomic``)
    cut short: once the old sidecar is gone the temporary one was
    complete, so it moves into place; otherwise it is dropped."""
    tmp = f"{root}/{SIDECAR_NAME}.tmp"
    if not old_present:
        try:
            json.loads(io_util.read_text(spark, tmp) or "")
            io_util.rename(spark, tmp, f"{root}/{SIDECAR_NAME}")
            return
        except ValueError:
            pass  # the first sidecar's write itself was cut short
    io_util.delete(spark, tmp)


def recover_slices(spark: SparkSession, path: str) -> dict[str, int]:
    """Finish or undo interrupted swaps; see :func:`recover_and_list`."""
    return recover_and_list(spark, path)[2]


#: a swap's hidden temp dir (``.__<verb>_<id>__``), as a db-relative prefix
_TEMP_DIR = re.compile(r"(?:[^/]+/)*?\.__[^/]+__(?=/)")


def recover_and_list(
    spark: SparkSession, path: str
) -> tuple[str, list[tuple[str, int]], dict[str, int]]:
    """Finish or undo swaps (:func:`replace_files`) interrupted by a
    crash; return the database's qualified path (the one a verb passes
    on), its listing (every file) and the report. A verb lists its
    database once: this listing is reused unless recovery changed the
    visible files.

    * a manifest commits its swap: :func:`_finish` replays it and the
      manifest is dropped. A manifest in the older one-file form
      (``final``, optional ``records_delta``) deletes its originals and
      moves the sidecar count by the delta; the sidecar's size and file
      index are then taken from a listing;
    * a staged file no manifest names, or a torn manifest: the swap
      never committed and the originals are all live, so drop it;
    * a leftover temp dir is dropped, and a sidecar write cut short is
      finished or dropped (:func:`_settle_sidecar_write`).

    Idempotent; runs first in append, both compactions and forget.
    """
    root = io_util.qualify(spark, path).rstrip("/")
    entries = io_util.list_files(spark, root, suffix=None)
    present: dict[str, str] = {}
    for p, _ in entries:
        try:
            present[snapshot.rel_of(root, p)] = p
        except ValueError:
            continue
    if f"{SIDECAR_NAME}.tmp" in present:
        _settle_sidecar_write(spark, root, SIDECAR_NAME in present)
    rolled = dropped = delta = legacy = 0
    covered: set[str] = set()
    for rel in sorted(present):
        base = rel.rpartition("/")[2]
        if not (base.startswith(STAGE_PREFIX) and base.endswith(MANIFEST_SUFFIX)):
            continue
        try:
            manifest = json.loads(io_util.read_text(spark, present[rel]) or "")
            old_form = "staged" not in manifest
            if old_form:
                manifest["final"]
        except (ValueError, KeyError, TypeError):
            # torn manifest (crash mid-write, pre-atomic-write legacy):
            # the commit point was never reached — drop the marker, and
            # its stage below
            io_util.delete(spark, present[rel])
            continue
        if old_form:
            legacy += 1
            delta += manifest.get("records_delta", 0)
            stage = rel[: -len(MANIFEST_SUFFIX)]
            manifest = {
                "originals": [snapshot.rel_of(root, o) for o in manifest["originals"]],
                "staged": [[stage, snapshot.rel_of(root, manifest["final"])]],
            }
        _finish(spark, root, manifest)
        io_util.delete(spark, present[rel])
        covered.update(incoming for incoming, _ in manifest["staged"])
        rolled += 1
    temp_dirs = set()
    for rel in present:
        base = rel.rpartition("/")[2]
        staged = base.startswith(STAGE_PREFIX) and base.endswith(".parquet")
        if staged and rel not in covered:
            io_util.delete(spark, f"{root}/{rel}")
            dropped += 1
        if m := _TEMP_DIR.match(rel):
            temp_dirs.add(m.group(0))
    for t in temp_dirs:
        io_util.delete(spark, f"{root}/{t}")
    if rolled or dropped:
        entries = io_util.list_files(spark, root, suffix=None)
    meta = read_sidecar(spark, root) if legacy else None
    if meta is not None:
        # the older form carries no sidecar: size and index come from
        # the listing of what recovery left
        live = snapshot.visible_files(root, entries)
        meta["file_size_bytes"] = sum(sz for _, sz in live)
        put_sidecar(
            spark, root, with_index(adjusted(meta, delta, 0), file_index(root, live))
        )
    return root, entries, {"rolled_forward": rolled, "dropped_stages": dropped}


def compact_slices(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    max_slices: int | None = None,
) -> dict[str, Any]:
    """Rewrite each fragmented hash-range slice into one sorted file.

    Each slice is swapped in place by :func:`replace_files`, so the rest
    of the dataset keeps serving; replaced originals a snapshot still
    references are retained, not deleted, also when recovery finishes
    the swap. A transactional table format would collapse the protocol
    into one commit — noted in SCALE.md; this is the honest ceiling of a
    directory-layout store.

    ``max_slices`` bounds one maintenance run (schedule by
    fragmentation score at scale); slices are processed worst-first
    (most files first).
    """
    path, entries, recovered = recover_and_list(spark, path)
    live = snapshot.visible_files(path, entries)
    plan = _plan_slices(live, target_file_bytes)
    todo = sorted(plan["slices"], key=lambda s: -len(s["files"]))
    if max_slices is not None:
        todo = todo[:max_slices]
    if not todo:
        return {**plan, "compacted": 0, "recovered": recovered}

    meta = live_sidecar(spark, path, live)
    for s in todo:
        files = s["files"]
        meta = replace_files(
            spark,
            path,
            files,
            one_sorted_file(spark.read.parquet(*[p for p, _ in files])),
            "slice",
            "retain",
            adjusted(meta, -s["rows"], -s["bytes"]),
            rows=s["rows"],
        )["sidecar"]
    return {**plan, "compacted": len(todo), "recovered": recovered}
