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

Interaction with maintenance (the whole point): every verb that
replaces files (append, compaction, forget) goes
through ``compact.replace_files``, whose manifest records how the
originals are disposed of; :func:`dispose` carries that out, live or
replayed by recovery, so a crash never costs retention.

* compaction and append ("retain") RENAME a replaced original into
  ``retained/`` when any snapshot references it (O(1) metadata, no data
  movement, exactly how Iceberg keeps superseded files for time
  travel), and delete it otherwise.
* ``forget`` ("erase", GDPR erasure) must reach HISTORY, not just the
  current state: retained files are rewritten in place with the erased
  rows removed (the mapping is repointed at the rewritten stem), and a
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
entries per 100 TB snapshot, trivially a few MB of JSON. One writer at
a time: build, append, compaction, forget, snapshot creation and
vacuum all take the database's write lock (``compact.writing``).
"""

from __future__ import annotations

import json
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark import StorageLevel

from .. import io_util

SNAP_DIR = "_snapshots"
RETAIN_SUBDIR = "retained"
#: db-relative prefix of every retained file
RETAINED_PREFIX = f"{SNAP_DIR}/{RETAIN_SUBDIR}/"


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
    # replaced whole: a crash mid-write must not leave the log unreadable
    io_util.write_text_atomic(spark, p, json.dumps(obj, sort_keys=True))


def _retained_map(spark: SparkSession, path: str) -> dict[str, str]:
    return _read_json(spark, _snap_root(path) + "/retained.json") or {}


def _write_retained_map(
    spark: SparkSession, path: str, m: dict[str, str]
) -> None:
    _write_json(spark, _snap_root(path) + "/retained.json", m)


def is_visible(rel: str) -> bool:
    """Whether Spark's parquet reader sees the db-relative path ``rel``:
    no path segment starts with ``_`` or ``.``."""
    return not any(seg.startswith(("_", ".")) for seg in rel.split("/"))


def visible_files(
    path: str, entries: list[tuple[str, int]]
) -> list[tuple[str, int]]:
    """The live parquet files among ``entries``, a ``(path, bytes)``
    listing of the database at ``path`` (see :func:`live_files`)."""
    out = []
    for p, sz in entries:
        if not p.endswith(".parquet"):
            continue
        try:
            rel = rel_of(path, p)
        except ValueError:
            continue
        if is_visible(rel):
            out.append((p, sz))
    return out


def live_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """The CURRENT dataset's parquet files: everything maintenance and
    stats should see — snapshot internals excluded, and so is anything
    the parquet reader itself cannot see: staged ``_incoming-*`` swap
    files and crash-leftover ``.__slice_*__`` temp dirs are NOT live
    data, and pinning one into a snapshot manifest would break the
    snapshot as soon as recovery renames it."""
    root = io_util.qualify(spark, path)
    return visible_files(root, io_util.list_files(spark, root))


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
    version, under the database's write lock, after recovery (see
    ``compact.writing``). Metadata-only; returns the manifest."""
    from shaha_spark.pipeline import compact

    # rels as the maintenance verbs see them
    with compact.writing(spark, path) as (path, entries, _):
        existing = snapshot_list(spark, path)
        version = (existing[-1]["version"] + 1) if existing else 1
        files = [
            {"rel": rel_of(path, p), "bytes": sz}
            for p, sz in visible_files(path, entries)
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


def dispose(
    spark: SparkSession,
    db_path: str,
    rels: list[str],
    mode: str | None,
    replacements: dict[str, str],
) -> None:
    """Dispose of the db-relative files ``rels`` a swap replaced, as its
    manifest records (see the module docstring): ``"retain"`` renames a
    snapshot-referenced file into ``retained/`` and deletes the rest;
    ``"erase"`` deletes every file and points history at its
    replacement in ``replacements`` (a retained copy's mapping is
    repointed, a referenced visible file aliased; a file with no
    replacement leaves history); ``None``, a manifest from before
    dispositions were recorded, only deletes. Idempotent, so recovery
    can replay it after a crash at any point."""
    root = db_path.rstrip("/")
    history = bool(mode) and io_util.exists(spark, _snap_root(root))
    refs = referenced_rels(spark, root) if history else set()
    retained = _retained_map(spark, root) if history else {}
    before = dict(retained)
    for rel in rels:
        src = f"{root}/{rel}"
        if mode == "retain" and rel in refs:
            # the rel SUBPATH is kept under retained/, so hive partition
            # dirs (algorithm=...) survive and a basePath read of the
            # retained tree recovers the partition column
            dest = f"{_retain_dir(root)}/{rel}"
            io_util.mkdirs(spark, dest.rsplit("/", 1)[0])
            if not io_util.rename(spark, src, dest) and not io_util.exists(spark, dest):
                raise IOError(f"could not retire {src} to {dest}")
            retained[rel] = rel
            continue
        io_util.delete(spark, src)
        if mode != "erase":
            continue
        replacement = replacements.get(rel)
        if rel.startswith(RETAINED_PREFIX):
            old = rel[len(RETAINED_PREFIX):]
            new = replacement[len(RETAINED_PREFIX):] if replacement else None
            for k, disp in list(retained.items()):
                if disp == old:
                    if new is None:
                        del retained[k]
                    else:
                        retained[k] = new
        elif rel in refs and replacement is not None:
            retained[rel] = "@" + replacement
    if retained != before:
        _write_retained_map(spark, root, retained)


def snapshot_drop(spark: SparkSession, path: str, version: int) -> None:
    io_util.delete(spark, _manifest_path(path, version))


def vacuum(
    spark: SparkSession, path: str, keep_latest: int = 1
) -> dict[str, Any]:
    """Expire old snapshots and reclaim their storage: drop all but the
    ``keep_latest`` newest manifests, then delete retained files (and
    mapping entries) no surviving manifest references. Runs under the
    database's write lock (``compact.writing``)."""
    if keep_latest < 0:
        raise ValueError("keep_latest must be >= 0")
    from shaha_spark.pipeline import compact

    with compact.writing(spark, path):
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
