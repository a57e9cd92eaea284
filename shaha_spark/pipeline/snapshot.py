"""Snapshot log, time-travel reads, and snapshot-aware vacuum for a
hashdb directory — the Iceberg/Delta-shaped capability a directory
store can honestly provide without a transactional catalog.

Layout (all driver-side JSON, data files never copied):

    <db>/_snapshots/v<N>.json        one manifest per snapshot version:
                                     {"version", "note", "created_unix",
                                      "files": [{"rel", "path", "rows",
                                                 "bytes", "min", "max"}]}
    <db>/_snapshots/retained/...     parquet files maintenance RENAMED
                                     out of the visible dataset because
                                     a snapshot entry still names them

A manifest pins the entries of the sidecar's file index
(``build.with_index``) as they were when it was taken. ``rel`` is the
name the file was pinned under, and never changes; ``path`` is where
its content lives now, db-relative (null: the content has left
history), with the ``rows``, ``bytes`` and ``hash`` range of that file
(null ranges where the store has no index: such an entry may match
any digest). Paths are db-relative, so the database directory can be
relocated wholesale. Underscore-prefixed paths are invisible to Spark's
parquet reader, so retained history never leaks into a directory read.

Interaction with maintenance (the whole point): every verb that
replaces files (append, compaction, forget) goes through
``compact.replace_files``, whose manifest records how the originals
are disposed of; :func:`dispose` carries that out after the swap has
committed, live or replayed by recovery, so a crash never costs
retention.

* compaction and append ("retain") RENAME a replaced original that an
  entry names into ``retained/`` (its rel SUBPATH kept, so hive
  partition dirs survive), then repoint those entries; every other
  original is deleted.
* ``forget`` ("erase", GDPR erasure) must reach HISTORY, not just the
  current state: the entries naming a replaced original are repointed
  at its replacement's entry (the original minus the erased rows, the
  best content erasure law permits history to keep), then the
  original is deleted. A file whose every row was erased leaves a
  hole; ``read_snapshot`` raises on it unless ``allow_missing=True``.
* :func:`vacuum` drops manifests beyond the retention count and
  deletes retained files no surviving entry names — the storage-reclaim
  half of the contract.

A log written by an older version (a ``retained.json`` map of renames
and ``@`` aliases, or entries without ``path``) is refused, not
converted: see the README, "An older snapshot log".

100 TB notes: every operation here is driver-side metadata (file
listings, renames, small JSON) — nothing scans data. Manifests list
one entry per file; at the ~1 GB target file size that is ~10^5
entries per 100 TB snapshot, a few tens of MB of JSON. One writer at
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
    """The CURRENT dataset's parquet files, from a listing: everything
    the parquet reader itself can see. Snapshot internals are excluded,
    and so are a swap's staged ``_incoming-*`` files and its hidden
    ``.__<verb>_<id>__`` temp dir, which are not live data."""
    root = io_util.qualify(spark, path)
    return visible_files(root, io_util.list_files(spark, root))


def _older_log(path: str) -> ValueError:
    return ValueError(
        f"{path}: its snapshot log was written by an older version (a "
        "retained.json map, or manifest entries without a path) and is "
        "not read; see the README, 'An older snapshot log'"
    )


def snapshot_list(spark: SparkSession, path: str) -> list[dict[str, Any]]:
    """All snapshot manifests, oldest first. Raises on a log in an
    older layout (module docstring)."""
    out = []
    for p, _sz in io_util.list_files(spark, _snap_root(path), suffix=".json"):
        name = p.rsplit("/", 1)[-1]
        if name == "retained.json":
            raise _older_log(path)
        if name.startswith("v") and name.endswith(".json"):
            try:
                version = int(name[1:-5])
            except ValueError:
                continue
            m = _read_json(spark, p)
            if m is not None:
                if any("path" not in e for e in m["files"]):
                    raise _older_log(path)
                m["version"] = version
                out.append(m)
    return sorted(out, key=lambda m: m["version"])


def snapshot_create(
    spark: SparkSession, path: str, note: str = ""
) -> dict[str, Any]:
    """Record the current file index as the next snapshot version,
    under the database's write lock, after recovery (see
    ``compact.writing``). Metadata-only; returns the manifest."""
    from shaha_spark.pipeline import compact

    with compact.writing(spark, path) as (path, entries, _):
        existing = snapshot_list(spark, path)
        version = (existing[-1]["version"] + 1) if existing else 1
        live = visible_files(path, entries)
        meta = compact.live_sidecar(spark, path, live)
        index = (meta or {}).get("files") or compact.file_index(path, live)
        if index is None:  # no ranges known: every entry may match
            index = [
                {"path": rel_of(path, p), "rows": None, "bytes": sz, "min": None, "max": None}
                for p, sz in live
            ]
        manifest = {
            "version": version,
            "note": note,
            "created_unix": int(time.time()),
            "files": [{"rel": e["path"], **e} for e in index],
        }
        _write_json(spark, _manifest_path(path, version), manifest)
        return manifest


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int,
    allow_missing: bool = False,
) -> DataFrame:
    """Time-travel read: the dataset exactly as captured by snapshot
    ``version`` (modulo rows later erased by ``forget``, which the law
    requires history to lose too), read from its entries' ``path``.

    Raises on entries whose content has left history (fully erased by
    forget) or whose file is missing, unless ``allow_missing`` — a
    partial read must be an explicit choice, never a silent one.
    """
    manifests = {m["version"]: m for m in snapshot_list(spark, path)}
    if version not in manifests:
        raise ValueError(
            f"no snapshot v{version} under {path}; "
            f"have {sorted(manifests)}"
        )
    root = path.rstrip("/")
    paths, missing = [], []
    for e in manifests[version]["files"]:
        p = e["path"] and f"{root}/{e['path']}"
        (paths if p and io_util.exists(spark, p) else missing).append(p or e["rel"])
    if missing and not allow_missing:
        raise FileNotFoundError(
            f"snapshot v{version}: {len(missing)} file(s) have left "
            f"history (forget erasure) or are missing: {missing[:5]}; pass "
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
            spark.read.option("basePath", root).parquet(*visible)
        )
    if kept:
        parts.append(
            spark.read.option("basePath", _retain_dir(root)).parquet(*kept)
        )
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out


def snapshot_diff(
    spark: SparkSession, path: str, v_old: int, v_new: int
) -> dict[str, Any]:
    """File-level diff between two snapshot versions, by the names
    their files were pinned under."""
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
    replacements: dict[str, dict[str, Any] | None],
) -> None:
    """Dispose of the db-relative files ``rels`` a committed swap
    replaced, as its manifest records (see the module docstring):
    ``"retain"`` renames a file a snapshot entry names into
    ``retained/`` and repoints the entries, and deletes the rest;
    ``"erase"`` repoints the entries naming a file at its replacement's
    entry in ``replacements`` (none, or one whose footer was unread: a
    hole), then deletes every file; ``None`` only deletes. Each
    manifest that changes is rewritten once. Idempotent, so recovery can replay it after a crash at any
    point: a rename already made is done, and an original no entry
    names any more is only deleted."""
    root = db_path.rstrip("/")
    history = bool(mode) and io_util.exists(spark, _snap_root(root))
    manifests = snapshot_list(spark, root) if history else []
    named = {e["path"] for m in manifests for e in m["files"]}
    moved: dict[str, dict[str, Any]] = {}  # original -> what entries now name
    for rel in rels:
        if rel not in named:
            continue
        if mode == "retain":
            src, dest = f"{root}/{rel}", f"{root}/{RETAINED_PREFIX}{rel}"
            io_util.mkdirs(spark, dest.rsplit("/", 1)[0])
            if not io_util.rename(spark, src, dest) and not io_util.exists(spark, dest):
                raise IOError(f"could not retire {src} to {dest}")
            moved[rel] = {"path": RETAINED_PREFIX + rel}
        else:
            moved[rel] = replacements.get(rel) or {"path": None}
    for m in manifests:
        files = [{**e, **moved.get(e["path"], {})} for e in m["files"]]
        if files != m["files"]:
            _write_json(spark, _manifest_path(root, m["version"]), {**m, "files": files})
    for rel in rels:
        if mode != "retain" or rel not in moved:
            io_util.delete(spark, f"{root}/{rel}")


def snapshot_drop(spark: SparkSession, path: str, version: int) -> None:
    io_util.delete(spark, _manifest_path(path, version))


def vacuum(
    spark: SparkSession, path: str, keep_latest: int = 1
) -> dict[str, Any]:
    """Expire old snapshots and reclaim their storage: drop all but the
    ``keep_latest`` newest manifests, then delete the retained files no
    surviving entry names. Runs under the database's write lock
    (``compact.writing``)."""
    if keep_latest < 0:
        raise ValueError("keep_latest must be >= 0")
    from shaha_spark.pipeline import compact

    with compact.writing(spark, path) as (path, _, _):
        manifests = snapshot_list(spark, path)
        drop = manifests[: max(0, len(manifests) - keep_latest)]
        for m in drop:
            snapshot_drop(spark, path, m["version"])
        named = {e["path"] for m in manifests[len(drop):] for e in m["files"]}
        freed = [
            (p, sz)
            for p, sz in io_util.list_files(spark, _retain_dir(path))
            if rel_of(path, p) not in named
        ]
        for p, _ in freed:
            io_util.delete(spark, p)
        return {
            "dropped_versions": [m["version"] for m in drop],
            "kept_versions": [m["version"] for m in manifests[len(drop):]],
            "freed_files": len(freed),
            "freed_bytes": sum(sz for _, sz in freed),
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
