"""Snapshot log, time-travel reads, and snapshot-aware vacuum for a
hashdb directory — the Iceberg/Delta-shaped capability a directory
store can honestly provide without a transactional catalog.

Layout (all driver-side JSON, data files never copied):

    <db>/_snapshots/v<N>.json        one manifest per snapshot version:
                                     {"version", "note", "created_unix",
                                      "files": [{"rel", "bytes"}, ...]}
    <db>/_snapshots/retained.json    {rel_path: disposition} where
                                     disposition is either a path under
                                     retained/ (the file was moved there
                                     when maintenance replaced it — its
                                     rel SUBPATH is preserved so hive
                                     partition dirs survive) or "@<rel>"
                                     (an alias: the file's permissible
                                     content now lives at another rel
                                     path — see forget)
    <db>/_snapshots/retained/...     parquet files maintenance RENAMED
                                     out of the visible dataset because
                                     a snapshot still references them

Snapshots pin db-RELATIVE paths, so the database directory can be
relocated wholesale. Underscore-prefixed paths are invisible to
Spark's parquet reader, so retained history never leaks into normal
queries.

Interaction with maintenance (the whole point):

* ``compact_slices`` / ``compact_hashdb`` retire replaced originals
  via :func:`retire_or_delete` — a RENAME into ``retained/`` when any
  snapshot references them (O(1) metadata, no data movement, exactly
  how Iceberg keeps superseded files for time travel), a plain delete
  otherwise.
* ``forget`` (GDPR erasure) must reach HISTORY, not just the current
  state: retained files are rewritten in place with the erased rows
  removed (the mapping is repointed at the rewritten stem), and a
  replaced visible original is aliased to its own replacement — whose
  content is exactly the original minus the erased rows, the best
  content erasure law permits history to keep. A file whose every row
  was erased disappears from history entirely; ``read_snapshot``
  raises on the hole unless ``allow_missing=True``.
* :func:`vacuum` drops manifests beyond the retention count and
  deletes retained files no surviving manifest references — the
  storage-reclaim half of the contract.

100 TB notes: every operation here is driver-side metadata (file
listings, renames, small JSON) — nothing scans data. Manifests list
one entry per file; at the ~1 GB target file size that is ~10^5
entries per 100 TB snapshot, trivially a few MB of JSON. The single
maintenance-runner assumption of build/compact/forget (their lock and
swap protocols) extends to snapshot creation and vacuum. A crash
inside a slice swap recovers forward by DELETING originals (see
compact.recover_slices) — current-state correctness is unaffected, but
retention for that slice's originals is lost; a transactional table
format is the ceiling, as documented in SCALE.md.
"""

from __future__ import annotations

import json
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark import StorageLevel

from .. import io_util
from ..schema import SIDECAR_NAME

SNAP_DIR = "_snapshots"
RETAIN_SUBDIR = "retained"


def _snap_root(path: str) -> str:
    return path.rstrip("/") + "/" + SNAP_DIR


def _retain_dir(path: str) -> str:
    return _snap_root(path) + "/" + RETAIN_SUBDIR


def rel_of(db_path: str, abs_path: str) -> str:
    """Path of ``abs_path`` relative to the database at ``db_path``."""
    root = db_path.rstrip("/") + "/"
    # hadoop may return fully-qualified URIs (file:/...); compare on
    # the suffix after the scheme-independent root
    if abs_path.startswith(root):
        return abs_path[len(root):]
    i = abs_path.find(root.split("://")[-1])
    if i >= 0:
        return abs_path[i + len(root.split("://")[-1]):]
    raise ValueError(f"{abs_path} is not under {db_path}")


def _manifest_path(path: str, version: int) -> str:
    return _snap_root(path) + f"/v{version}.json"


def _read_json(spark: SparkSession, p: str) -> Any | None:
    txt = io_util.read_text(spark, p)
    return None if txt is None else json.loads(txt)


def _write_json(spark: SparkSession, p: str, obj: Any) -> None:
    io_util.write_text(spark, p, json.dumps(obj, sort_keys=True))


def _retained_map(spark: SparkSession, path: str) -> dict[str, str]:
    return _read_json(spark, _snap_root(path) + "/retained.json") or {}


def _write_retained_map(
    spark: SparkSession, path: str, m: dict[str, str]
) -> None:
    _write_json(spark, _snap_root(path) + "/retained.json", m)


def live_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """The CURRENT dataset's parquet files: everything maintenance and
    stats should see — snapshot internals excluded, and so is anything
    the parquet reader itself cannot see (any path segment starting
    with ``_`` or ``.``): staged ``_incoming-*`` swap files and
    crash-leftover ``.__slice_*__`` temp dirs are NOT live data, and
    pinning one into a snapshot manifest would break the snapshot as
    soon as recovery renames it."""
    out = []
    for p, sz in io_util.list_files(spark, path):
        try:
            rel = rel_of(path, p)
        except ValueError:
            continue
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")):
            continue
        out.append((p, sz))
    return out


def snapshot_list(spark: SparkSession, path: str) -> list[dict[str, Any]]:
    """All snapshot manifests, oldest first."""
    out = []
    for p, _sz in io_util.list_files(spark, _snap_root(path), suffix=".json"):
        name = p.rsplit("/", 1)[-1]
        if name.startswith("v") and name.endswith(".json"):
            try:
                version = int(name[1:-5])
            except ValueError:
                continue
            m = _read_json(spark, p)
            if m is not None:
                m["version"] = version
                out.append(m)
    return sorted(out, key=lambda m: m["version"])


def snapshot_create(
    spark: SparkSession, path: str, note: str = ""
) -> dict[str, Any]:
    """Record the current visible file set as the next snapshot
    version. Metadata-only; returns the manifest."""
    existing = snapshot_list(spark, path)
    version = (existing[-1]["version"] + 1) if existing else 1
    files = [
        {"rel": rel_of(path, p), "bytes": sz} for p, sz in live_files(spark, path)
    ]
    manifest = {
        "version": version,
        "note": note,
        "created_unix": int(time.time()),
        "files": sorted(files, key=lambda f: f["rel"]),
    }
    _write_json(spark, _manifest_path(path, version), manifest)
    return manifest


def referenced_rels(spark: SparkSession, path: str) -> set[str]:
    """Every rel path any snapshot manifest references, expanded
    transitively through ``@`` alias chains in the retained map.

    After ``forget`` rewrites a snapshot-referenced visible file, the
    retained map holds ``rel_old -> @rel_new``: the snapshot is served
    by ``rel_new``'s content from then on. ``rel_new`` appears in no
    manifest, so without chain expansion a later compaction/vacuum
    would see it as unreferenced and delete it, leaving the still-live
    snapshot with a FileNotFoundError hole — losing more history than
    erasure requires."""
    refs: set[str] = set()
    for m in snapshot_list(spark, path):
        refs.update(f["rel"] for f in m["files"])
    retained = _retained_map(spark, path)
    frontier = set(refs)
    while frontier:
        nxt = set()
        for rel in frontier:
            disp = retained.get(rel)
            if disp is not None and disp.startswith("@"):
                target = disp[1:]
                if target not in refs:
                    refs.add(target)
                    nxt.add(target)
        frontier = nxt
    return refs


def resolve_rel(
    spark: SparkSession,
    path: str,
    rel: str,
    retained: dict[str, str] | None = None,
) -> str | None:
    """Absolute location of a snapshot-referenced rel path: the visible
    file if it still exists, else its retained copy, else an alias
    chain (a forget-rewritten file points at its replacement)."""
    if retained is None:
        retained = _retained_map(spark, path)
    seen: set[str] = set()
    cur = rel
    while cur not in seen:
        seen.add(cur)
        visible = path.rstrip("/") + "/" + cur
        disp = retained.get(cur)
        if disp is None:
            return visible if io_util.exists(spark, visible) else None
        if disp.startswith("@"):
            cur = disp[1:]
            continue
        kept = _retain_dir(path) + "/" + disp
        return kept if io_util.exists(spark, kept) else None
    return None  # alias cycle: treat as missing


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int,
    allow_missing: bool = False,
) -> DataFrame:
    """Time-travel read: the dataset exactly as captured by snapshot
    ``version`` (modulo rows later erased by ``forget``, which the law
    requires history to lose too).

    Raises on files that have left history (fully-erased by forget, or
    vacuumed) unless ``allow_missing`` — a partial read must be an
    explicit choice, never a silent one.
    """
    manifests = {m["version"]: m for m in snapshot_list(spark, path)}
    if version not in manifests:
        raise ValueError(
            f"no snapshot v{version} under {path}; "
            f"have {sorted(manifests)}"
        )
    retained = _retained_map(spark, path)
    paths, missing = [], []
    for f in manifests[version]["files"]:
        got = resolve_rel(spark, path, f["rel"], retained)
        (paths if got else missing).append(got or f["rel"])
    if missing and not allow_missing:
        raise FileNotFoundError(
            f"snapshot v{version}: {len(missing)} file(s) have left "
            f"history (forget erasure or vacuum): {missing[:5]}; pass "
            "allow_missing=True to read the surviving subset"
        )
    if not paths:
        raise FileNotFoundError(f"snapshot v{version}: no surviving files")
    # hive-style partition columns (algorithm=...) are recovered per
    # location group with a basePath read: retirement preserves each
    # file's rel SUBPATH under retained/, so both the visible tree and
    # the retained tree parse the same partition dirs; the two groups
    # then union by name
    marker = "/" + SNAP_DIR + "/"
    visible = [p for p in paths if marker not in p]
    kept = [p for p in paths if marker in p]
    parts = []
    if visible:
        parts.append(
            spark.read.option("basePath", path).parquet(*visible)
        )
    if kept:
        parts.append(
            spark.read.option("basePath", _retain_dir(path)).parquet(*kept)
        )
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out


def snapshot_diff(
    spark: SparkSession, path: str, v_old: int, v_new: int
) -> dict[str, Any]:
    """File-level diff between two snapshot versions."""
    ms = {m["version"]: m for m in snapshot_list(spark, path)}
    for v in (v_old, v_new):
        if v not in ms:
            raise ValueError(f"no snapshot v{v}")
    old = {f["rel"]: f["bytes"] for f in ms[v_old]["files"]}
    new = {f["rel"]: f["bytes"] for f in ms[v_new]["files"]}
    return {
        "added": sorted(set(new) - set(old)),
        "removed": sorted(set(old) - set(new)),
        "bytes_added": sum(b for r, b in new.items() if r not in old),
        "bytes_removed": sum(b for r, b in old.items() if r not in new),
    }


def retire_or_delete(
    spark: SparkSession,
    db_path: str,
    abs_path: str,
    refs: set[str] | None = None,
) -> str:
    """Dispose of a visible file maintenance is replacing: RENAME it
    into the retained area when a snapshot still references it (no
    data movement), delete it otherwise. Returns 'retained' or
    'deleted'. Pass a precomputed ``refs`` set when retiring in a loop
    so the manifests are parsed once per maintenance run."""
    try:
        rel = rel_of(db_path, abs_path)
    except ValueError:
        io_util.delete(spark, abs_path)
        return "deleted"
    if refs is None:
        refs = referenced_rels(spark, db_path)
    if rel not in refs:
        io_util.delete(spark, abs_path)
        return "deleted"
    retained = _retained_map(spark, db_path)
    _retire(spark, db_path, abs_path, rel, retained)
    _write_retained_map(spark, db_path, retained)
    return "retained"


def _retire(
    spark: SparkSession,
    db_path: str,
    src: str,
    rel: str,
    retained: dict[str, str],
) -> None:
    """Rename ``src`` into the retained area as ``rel`` and record it in
    ``retained`` (the caller writes the mapping). The rel SUBPATH is
    preserved under retained/ so hive-style partition directories
    (algorithm=...) survive retirement and time-travel reads can
    recover the partition column with a basePath read."""
    dest = _retain_dir(db_path) + "/" + rel
    if "/" in rel:
        io_util.mkdirs(spark, dest.rsplit("/", 1)[0])
    if not io_util.rename(spark, src, dest):
        raise IOError(f"could not retire {src} to {dest}")
    retained[rel] = rel


def retire_replaced_tree(
    spark: SparkSession,
    db_path: str,
    backup_path: str,
    old_files: list[tuple[str, int]],
) -> int:
    """After a whole-directory swap (compact_hashdb): the previous
    dataset sits at ``backup_path`` about to be dropped; rename every
    file a snapshot still references into the retained area. One
    batched mapping write, renames only. ``old_files`` is the
    pre-swap visible listing (absolute paths under ``db_path``)."""
    refs = referenced_rels(spark, db_path)
    retained = _retained_map(spark, db_path)
    moved = 0
    for p, _sz in old_files:
        try:
            rel = rel_of(db_path, p)
        except ValueError:
            continue
        if rel not in refs or rel in retained:
            continue
        src = backup_path.rstrip("/") + "/" + rel
        if not io_util.exists(spark, src):
            continue
        _retire(spark, db_path, src, rel, retained)
        moved += 1
    if moved:
        _write_retained_map(spark, db_path, retained)
    return moved


def heal_stale_backup(spark: SparkSession, live_path: str) -> bool:
    """Finish the interrupted tail of a previous directory swap whose
    ``.__old__`` backup still exists.

    If the backup holds a snapshot log that never made it back into the
    live tree (the swap raised at the restore step), restore it and
    retire every still-referenced file out of the backup — only then is
    the backup safe to drop. Returns True if healing ran. Raises, with
    the backup preserved, when the situation is ambiguous (both trees
    hold a snapshot log) or the restore fails again.
    """
    live = live_path.rstrip("/")
    backup = live + ".__old__"
    b_snaps = backup + "/" + SNAP_DIR
    if not io_util.exists(spark, b_snaps):
        return False
    live_snaps = live + "/" + SNAP_DIR
    if io_util.exists(spark, live_snaps):
        raise IOError(
            f"stale swap backup {backup} holds a snapshot log but the "
            "live dataset has one too — resolve manually before retrying "
            "(deleting the backup could destroy retained history)"
        )
    if not io_util.rename(spark, b_snaps, live_snaps):
        raise IOError(
            f"could not restore snapshot log from {b_snaps}; backup "
            f"left at {backup} for manual recovery"
        )
    pseudo_old = [
        (live + "/" + rel_of(backup, p), sz)
        for p, sz in io_util.list_files(spark, backup)
    ]
    retire_replaced_tree(spark, live, backup, pseudo_old)
    return True


def swap_live_tree(
    spark: SparkSession,
    live_path: str,
    tmp_path: str,
    old_live: list[tuple[str, int]],
    op: str,
) -> None:
    """Checked whole-directory swap: move the live dataset aside, move
    ``tmp_path`` into place, restore the snapshot log the swap carried
    aside, retire replaced-but-referenced files, carry the sidecar over
    when ``tmp_path`` brought none, drop the backup.

    The ONE home of the protocol (build's append path and
    compact_hashdb both call it). Every rename is checked —
    FileSystem.rename reports failure by returning False, and on some
    filesystems moves src INTO an existing destination dir — so a
    failed swap can never silently nest the temp dataset or leave the
    DB absent-but-"built". A pre-existing backup from a PREVIOUS failed
    swap is healed (snapshot log + referenced files recovered) before
    anything is deleted — a retry must never destroy the history the
    earlier failure deliberately preserved.
    """
    live = live_path.rstrip("/")
    backup = live + ".__old__"
    heal_stale_backup(spark, live)
    io_util.delete(spark, backup)
    if not io_util.rename(spark, live, backup):
        raise IOError(
            f"{op} swap failed: could not move {live} aside to {backup}; "
            f"new data left at {tmp_path}"
        )
    if not io_util.rename(spark, tmp_path, live):
        restored = io_util.rename(spark, backup, live)
        raise IOError(
            f"{op} swap failed: could not move {tmp_path} into place"
            + ("" if restored else f"; MANUAL RESTORE NEEDED from {backup}")
        )
    old_snaps = backup + "/" + SNAP_DIR
    if io_util.exists(spark, old_snaps):
        if not io_util.rename(spark, old_snaps, live + "/" + SNAP_DIR):
            # deleting the backup now would destroy the entire snapshot
            # log and all retained history — leave it for manual recovery
            # (the next attempt's heal_stale_backup also finishes the
            # job automatically if the filesystem has recovered)
            raise IOError(
                f"{op} swap: could not restore snapshot log from "
                f"{old_snaps}; backup left at {backup} for manual recovery"
            )
        retire_replaced_tree(spark, live, backup, old_live)
    # a new tree written without a sidecar (compaction: same content)
    # keeps the old one; the caller refreshes its physical stats
    old_sidecar = backup + "/" + SIDECAR_NAME
    new_sidecar = live + "/" + SIDECAR_NAME
    if io_util.exists(spark, old_sidecar) and not io_util.exists(spark, new_sidecar):
        if not io_util.rename(spark, old_sidecar, new_sidecar):
            raise IOError(
                f"{op} swap: could not restore the sidecar from "
                f"{old_sidecar}; backup left at {backup}"
            )
    io_util.delete(spark, backup)


def alias_rel(
    spark: SparkSession, db_path: str, rel_old: str, rel_new: str
) -> None:
    """Point history's view of ``rel_old`` at ``rel_new`` — used by
    forget when a snapshot-referenced original is replaced by a
    rewrite whose content is the original minus the erased rows."""
    retained = _retained_map(spark, db_path)
    retained[rel_old] = "@" + rel_new
    _write_retained_map(spark, db_path, retained)


def repoint_retained(
    spark: SparkSession, db_path: str, old_name: str, new_name: str | None
) -> None:
    """After forget rewrote (or fully erased: ``new_name=None``) a file
    inside the retained area, fix every mapping entry pointing at it."""
    retained = _retained_map(spark, db_path)
    changed = False
    for rel, disp in list(retained.items()):
        if disp == old_name:
            if new_name is None:
                del retained[rel]
            else:
                retained[rel] = new_name
            changed = True
    if changed:
        _write_retained_map(spark, db_path, retained)


def in_retained(db_path: str, abs_path: str) -> bool:
    return ("/" + SNAP_DIR + "/" + RETAIN_SUBDIR + "/") in abs_path


def snapshot_drop(spark: SparkSession, path: str, version: int) -> None:
    io_util.delete(spark, _manifest_path(path, version))


def vacuum(
    spark: SparkSession, path: str, keep_latest: int = 1
) -> dict[str, Any]:
    """Expire old snapshots and reclaim their storage: drop all but the
    ``keep_latest`` newest manifests, then delete retained files (and
    mapping entries) no surviving manifest references."""
    if keep_latest < 0:
        raise ValueError("keep_latest must be >= 0")
    manifests = snapshot_list(spark, path)
    drop = manifests[: max(0, len(manifests) - keep_latest)]
    for m in drop:
        snapshot_drop(spark, path, m["version"])
    refs = referenced_rels(spark, path)
    retained = _retained_map(spark, path)
    freed_files = 0
    freed_bytes = 0
    for rel, disp in list(retained.items()):
        if rel in refs:
            continue
        if not disp.startswith("@"):
            abs_p = _retain_dir(path) + "/" + disp
            # one getFileStatus on the exact path: re-listing the whole
            # retained tree per entry was O(n^2) metadata calls, and a
            # bare suffix match could attribute another file's size
            freed_bytes += io_util.file_size(spark, abs_p)
            io_util.delete(spark, abs_p)
            freed_files += 1
        del retained[rel]
    _write_retained_map(spark, path, retained)
    return {
        "dropped_versions": [m["version"] for m in drop],
        "kept_versions": [m["version"] for m in manifests[len(drop):]],
        "freed_files": freed_files,
        "freed_bytes": freed_bytes,
    }


def snapshot_row_diff(
    spark: SparkSession,
    path: str,
    v_old: int,
    v_new: int,
    key_cols: list[str],
) -> DataFrame:
    """Row-level change data feed between two snapshots: which keys
    were inserted and which were deleted — the CDF a transactional
    table format exposes per commit, reconstructed here from any two
    pinned versions.

    Two time-travel reads + two LEFT ANTI joins on the key projection
    (column-pruned at both scans); at 100 TB the anti-joins shuffle
    only the key columns. Keys present in both versions with changed
    payloads are not reported — extend ``key_cols`` with the payload
    digest to turn updates into delete+insert pairs.
    """
    from pyspark.sql import functions as F

    old = read_snapshot(spark, path, v_old)
    new = read_snapshot(spark, path, v_new)
    # each key projection feeds BOTH anti-joins (probe side of one,
    # build side of the other); the lazy disk-backed persists make each
    # snapshot read + key projection run once instead of per consumer
    ok = old.select(*key_cols).persist(StorageLevel.DISK_ONLY)
    nk = new.select(*key_cols).persist(StorageLevel.DISK_ONLY)
    added = nk.join(ok, key_cols, "left_anti").select(
        *key_cols, F.lit("insert").alias("change")
    )
    removed = ok.join(nk, key_cols, "left_anti").select(
        *key_cols, F.lit("delete").alias("change")
    )
    from shaha_spark.caching import registers

    return registers(added.unionByName(removed), ok, nk)


def retained_rel_of(db_path: str, abs_path: str) -> str:
    """Path of a file RELATIVE to the retained area (valid only when
    :func:`in_retained` is true for it)."""
    marker = "/" + SNAP_DIR + "/" + RETAIN_SUBDIR + "/"
    i = abs_path.find(marker)
    if i < 0:
        raise ValueError(f"{abs_path} is not under the retained area")
    return abs_path[i + len(marker):]
