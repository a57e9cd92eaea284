"""Compaction of a long-lived hash database, and the one swap protocol
every rewrite goes through.

Every streaming micro-batch or incremental append adds files; at 100 TB
thousands of small parquet files cost every query (task-per-file
scheduling, footer reads, lost row-group locality). Compaction
(:func:`compact_hashdb`) merges runs of small range-adjacent files, or
with ``force`` rewrites the database whole, into size-targeted files
that keep the global hash sort lookups rely on, and commits every run
in one swap. Its planner reads the sidecar's file index, never data.

:func:`replace_files` is the only way a database's Parquet files change
after a fresh build. :func:`writing` holds the database's write lock
around every verb that changes it and runs :func:`recover_and_list`
first, which finishes a swap an earlier run committed and lists the
database once for the verb's planning.

The persistent ANN index (``operators/ann_index.py``), the repo's other
on-disk store of Parquet files plus a sidecar, changes its files through
the same lock, swap and recovery: its appends add ``centroid_id=``
bucket files, and its compaction replaces them all.
"""

from __future__ import annotations

import json
import math
import re
import uuid
from collections import defaultdict
from contextlib import contextmanager
from functools import reduce
from typing import Any, Iterator

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from shaha_spark import io_util
from shaha_spark.pipeline import snapshot
from shaha_spark.pipeline.build import (
    is_algorithm_partitioned,
    put_sidecar,
    read_sidecar,
    sort_for_write,
    with_index,
    write_hashdb,
)
from shaha_spark.schema import HASH_DB_SCHEMA, SIDECAR_NAME

#: default target size per output file (pre-compression bytes on disk)
DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def plan_compaction(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> dict[str, Any]:
    """Metadata-only plan of :func:`compact_hashdb` without ``force``:
    the layout (``n_files``, ``total_bytes``, ``target_files`` at
    ``target_file_bytes``) and the runs (``slices``) it would rewrite;
    ``needed`` when there is one."""
    root = io_util.qualify(spark, path)
    live = snapshot.live_files(spark, root)
    return _plan(root, live, live_sidecar(spark, root, live), target_file_bytes, False)


def _plan(
    root: str,
    live: list[tuple[str, int]],
    meta: dict[str, Any] | None,
    target_file_bytes: int,
    force: bool,
) -> dict[str, Any]:
    """The runs of one compaction of ``live``, the files of the database
    at ``root`` with sidecar ``meta``, ranged by its index or the footers.
    Per directory (``algorithm=`` partitions interleave in range), a run
    is a maximal sequence of range-adjacent files, each under the target
    and together at most 1.5 times it; runs of two or more merge into one
    file. With ``force``, or with no ranges known and more files than
    ``ceil(bytes / target)``, the whole database is one run, rewritten as
    that many files (``rows`` None without an index)."""
    index = meta.get("files") if meta else file_index(root, live)
    entries = {e["path"]: e for e in index or []}
    total = sum(sz for _, sz in live)
    target_files = max(1, math.ceil(total / target_file_bytes))
    whole = force or index is None
    if whole:
        runs = [live] if live and (force or len(live) > target_files) else []
    else:
        runs = []
        by_dir: dict[str, list[tuple[str, str, int]]] = defaultdict(list)
        for p, sz in live:
            lo = entries[snapshot.rel_of(root, p)]["min"]  # hex: orders as bytes
            if lo is not None:
                by_dir[p.rpartition("/")[0]].append((lo, p, sz))
        for d in sorted(by_dir):
            runs.append([])
            run_bytes = 0
            for _, p, sz in sorted(by_dir[d]):
                if sz >= target_file_bytes or run_bytes + sz > target_file_bytes * 1.5:
                    runs.append([])
                    run_bytes = 0
                if sz < target_file_bytes:
                    runs[-1].append((p, sz))
                    run_bytes += sz
        runs = [r for r in runs if len(r) >= 2]
    slices = [
        {
            "dir": root if whole else run[0][0].rpartition("/")[0],
            "files": run,
            "bytes": sum(sz for _, sz in run),
            "rows": None if index is None else sum(
                entries[snapshot.rel_of(root, p)]["rows"] for p, _ in run
            ),
            "whole": whole,
        }
        for run in runs
    ]
    return {
        "n_files": len(live),
        "total_bytes": total,
        "target_files": target_files,
        "needed": bool(slices),
        "n_slices": len(slices),
        "slice_files": sum(len(s["files"]) for s in slices),
        "slice_bytes": sum(s["bytes"] for s in slices),
        "slices": slices,
    }


def compact_hashdb(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    force: bool = False,
    max_slices: int | None = None,
) -> dict[str, Any]:
    """Merge the runs :func:`plan_compaction` plans for ``path`` or, with
    ``force``, rewrite it whole by the build's range sort; ``max_slices``
    bounds one call to the runs with the most files. Every run, read with
    ``basePath`` (a partition column survives), replaces its files in one
    :func:`replace_files` swap that retains what snapshots reference.
    Returns the plan with ``compacted``, ``slices_compacted``,
    ``files_after`` (live files after) and ``recovered``."""
    with writing(spark, path) as (root, entries, recovered):
        live = snapshot.visible_files(root, entries)
        meta = live_sidecar(spark, root, live)
        plan = _plan(root, live, meta, target_file_bytes, force)
        slices = plan["slices"]
        worst = sorted(range(len(slices)), key=lambda i: -len(slices[i]["files"]))
        todo = [slices[i] for i in sorted(worst[:max_slices])]  # in range order
        files_after = len(live)
        if todo:
            gone = [f for s in todo for f in s["files"]]
            rows = None if todo[0]["rows"] is None else sum(s["rows"] for s in todo)
            sidecar = adjusted(meta, -(rows or 0), -sum(s["bytes"] for s in todo))
            if rows is None and sidecar:  # the whole database, counted by its write
                sidecar["total_records"] = 0
            df = reduce(
                DataFrame.unionByName,
                [_run_frame(spark, root, s, target_file_bytes) for s in todo],
            )
            manifest = replace_files(
                spark, root, gone, df, "compact", "retain", sidecar, rows=rows,
                partition_by="algorithm" if is_algorithm_partitioned(live) else None,
            )
            files_after += len(manifest["staged"]) - len(gone)
    return {
        **plan,
        "compacted": bool(todo),
        "slices_compacted": len(todo),
        "files_after": files_after,
        "recovered": recovered,
    }


def _run_frame(
    spark: SparkSession, root: str, run: dict[str, Any], target_file_bytes: int
) -> DataFrame:
    files = [p for p, _ in run["files"]]
    df = spark.read.schema(HASH_DB_SCHEMA).option("basePath", root).parquet(*files)
    n = max(1, math.ceil(run["bytes"] / target_file_bytes))
    return sort_for_write(df, num_files=n) if run["whole"] else one_sorted_file(df)


def hash_range(path: str) -> tuple[bytes | None, bytes | None, int]:
    """(min, max, num_rows) of one parquet file's ``hash`` column across
    all row groups, from footer metadata only; (None, None, num_rows)
    when a row group has no statistics.

    Footers are read with pyarrow, so this needs a local filesystem; a
    remote ``path`` raises ValueError."""
    import pyarrow.parquet as pq

    if path.startswith("file:"):
        local = path[len("file:"):]
    elif "://" not in path and not path.startswith("viewfs:"):
        local = path
    else:
        raise ValueError(f"footer planning needs local parquet footers, got {path}")
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
    out = [index_entry(p, snapshot.rel_of(root, p), sz) for p, sz in files]
    return None if None in out else sorted(out, key=lambda e: e["path"])


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
    fresh build, for the hash database (build over an existing
    database, append, compaction, forget) and the ANN index (append,
    compaction); the caller holds the lock (:func:`writing`):

    1. ``df`` is written to a hidden temp dir, one file per partition
       and ``partition_by`` directory: :func:`sort_for_write` for a
       whole rewrite, which may keep the ``algorithm=`` layout, or a
       union of :func:`one_sorted_file` frames, one per file it writes
       (``spark.sql.unionOutputPartitioning`` is off around the write,
       so each frame stays one partition). Each file is renamed to an
       ``_incoming-`` name in the tree of the originals (the root, or
       the retained tree when they are history copies under
       ``_snapshots/``), in its partition directory there; the
       partition index ends the stem, so names sort in hash order.
       ``df=None`` publishes nothing.
    2. Commit point: one manifest records the originals, the staged
       files, how the originals are disposed of (``dispose``, see
       :func:`snapshot.dispose`) and the sidecar after the swap:
       ``sidecar`` describes the store without the originals, and
       the swap adds the rows and bytes it publishes (None: no sidecar).
       ``rows`` is the row count of ``df`` when the caller knows it;
       otherwise the write job counts it. The sidecar's file index, if
       it has one, loses the originals and gains each published file's
       entry, read from the staged file's footer. An ``"erase"``
       manifest also maps each original to its replacement's entry,
       read the same way (``replacements``): the i-th original is
       replaced by the file of ``df``'s i-th partition, and an original
       past the last one by nothing. When ``expect_rows`` is given and
       the write counted other than that, the stage is dropped and
       nothing commits.
    3. :func:`_finish` publishes the staged files, writes the sidecar
       (the commit readers see) and then disposes of the originals; the
       temp dir and manifest go last.

    A crash before step 2 leaves the originals intact, and recovery
    drops the stage; after it, :func:`recover_and_list` replays step 3.
    """
    root = path.rstrip("/")
    uid = uuid.uuid4().hex[:12]
    gone = [snapshot.rel_of(root, p) for p, _ in originals]
    history = bool(gone) and all(r.startswith(snapshot.RETAINED_PREFIX) for r in gone)
    d = root + "/" + snapshot.RETAINED_PREFIX.rstrip("/") if history else root
    tmp = f"{d}/.__{stem_prefix}_{uid}__"
    indexed = sidecar is not None and sidecar.get("files") is not None
    erase = dispose == "erase"
    staged: list[list[str]] = []
    replacements: dict[str, dict[str, Any] | None] = {}
    added = 0
    entries: list[dict[str, Any] | None] = []  # of the published files
    obs = Observation(f"{stem_prefix}_{uid}")
    if df is not None:
        if rows is None:
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        zips = spark.conf.get("spark.sql.unionOutputPartitioning", "true")
        spark.conf.set("spark.sql.unionOutputPartitioning", "false")
        try:
            write_hashdb(df, tmp, partition_by=partition_by)
        finally:
            spark.conf.set("spark.sql.unionOutputPartitioning", zips)
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
            entry = index_entry(incoming, final, size) if indexed or erase else None
            if erase:  # Spark names a file by its task
                task = re.match(r"part-(\d+)", part.rpartition("/")[2])
                replacements[gone[int(task.group(1))]] = entry
            if snapshot.is_visible(final):
                added += size
                entries.append(entry)
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
    if erase:
        manifest["replacements"] = replacements
    manifest_path = f"{root}/{STAGE_PREFIX}{stem_prefix}-{uid}{MANIFEST_SUFFIX}"
    io_util.write_text_atomic(spark, manifest_path, json.dumps(manifest))
    _finish(spark, root, manifest)
    io_util.delete(spark, tmp)
    io_util.delete(spark, manifest_path)
    return manifest


def _finish(spark: SparkSession, root: str, manifest: dict[str, Any]) -> None:
    """Step 3 of :func:`replace_files`, for the live run and for
    recovery, in three idempotent steps: publish the staged files (one
    published before a crash is done), write the sidecar, whose index
    is what readers read, then dispose of the originals. Until the
    sidecar is written the old index names only originals, all still
    present; after it the new one names only published files."""
    for incoming, final in manifest["staged"]:
        src, dst = f"{root}/{incoming}", f"{root}/{final}"
        if not io_util.rename(spark, src, dst) and not io_util.exists(spark, dst):
            raise IOError(
                f"staged file {src} could not be made visible; "
                "its manifest rolls the swap forward on the next run"
            )
    if manifest.get("sidecar") is not None:
        put_sidecar(spark, root, manifest["sidecar"])
    snapshot.dispose(
        spark,
        root,
        manifest["originals"],
        manifest.get("dispose"),
        manifest.get("replacements") or {},
    )


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


@contextmanager
def writing(
    spark: SparkSession, path: str
) -> Iterator[tuple[str, list[tuple[str, int]], dict[str, int]]]:
    """Hold the write lock of the store at ``path``, a marker file beside
    it, and yield :func:`recover_and_list`'s result. Every verb that
    changes either store's files enters here: recovery drops every stage
    no manifest names, so an unlocked verb could drop another's stage
    between its write and its commit. A snapshot log in an older layout
    is refused before anything changes (:func:`snapshot.snapshot_list`).
    The lock's name dates from when only appends took it; a stale one
    is deleted by hand (README)."""
    lock = io_util.qualify(spark, path).rstrip("/") + ".__append_lock__"
    if not io_util.create_marker(spark, lock):
        raise RuntimeError(
            f"an append or another write to {path} appears to be in progress "
            f"(lock file {lock} exists); if it is stale from a crashed run, "
            "delete it and retry"
        )
    try:
        snapshot.snapshot_list(spark, path)  # refuses an older snapshot log
        yield recover_and_list(spark, path)
    finally:
        io_util.delete(spark, lock)


def recover_slices(spark: SparkSession, path: str) -> dict[str, int]:
    """Finish or undo interrupted swaps; see :func:`recover_and_list`."""
    with writing(spark, path) as (_, _, report):
        return report


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

    Idempotent; runs first in every writer, under its lock
    (:func:`writing`).
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

