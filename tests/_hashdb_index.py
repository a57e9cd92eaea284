"""Checks of the sidecar's per-file index, shared by the build/query and
maintenance tests: the index must name exactly the live files, with the
rows, bytes and hash range their footers give, and ``query()`` reading
through it must return what a read of the whole directory returns."""

from __future__ import annotations

from shaha_spark import io_util
from shaha_spark.pipeline import snapshot
from shaha_spark.pipeline.build import read_hashdb, read_sidecar
from shaha_spark.pipeline.compact import hash_range
from shaha_spark.query import query


def footer_index(spark, db):
    """The index of the live files, from a listing and their footers."""
    root = io_util.qualify(spark, db)
    out = []
    for p, sz in snapshot.live_files(spark, db):
        lo, hi, rows = hash_range(p)
        out.append(
            {
                "path": snapshot.rel_of(root, p),
                "rows": rows,
                "bytes": sz,
                "min": lo.hex() if rows else None,
                "max": hi.hex() if rows else None,
            }
        )
    return sorted(out, key=lambda e: e["path"])


def assert_index_exact(spark, db):
    meta = read_sidecar(spark, db)
    assert meta["files"] == footer_index(spark, db)
    assert sum(e["rows"] for e in meta["files"]) == meta["total_records"]
    assert sum(e["bytes"] for e in meta["files"]) == meta["file_size_bytes"]


def _key(r):
    return (bytes(r.hash), r.preimage, r.algorithm, tuple(r.sources))


def assert_lookups_match_directory(spark, db):
    """Hits, misses, 1-, 3- and 16-byte prefixes, the empty prefix and
    ``algorithm=`` lookups return the rows of a directory read."""
    every = read_hashdb(spark, db)
    columns = every.columns
    rows = sorted(map(_key, every.collect()))
    assert rows, "the checks need a non-empty database"
    sha = [r[0] for r in rows if r[2] == "sha256"] or [rows[0][0]]
    mid = sha[len(sha) // 2]
    miss = mid[:-1] + bytes([mid[-1] ^ 1])
    probes = [
        (mid, None),
        (rows[0][0], None),
        (rows[-1][0], None),
        (miss, None),
        (bytes(32), None),
        (b"\xff" * 32, None),
        (mid[:1], None),
        (mid[:3], None),
        (mid[:16], None),
        (b"", None),
        (mid, "sha256"),
        (mid[:1], "md5"),
        (b"", "md5"),
    ]
    for prefix, algorithm in probes:
        got = query(spark, db, prefix.hex(), algorithm=algorithm)
        assert got.columns == columns
        want = [
            r for r in rows
            if r[0].startswith(prefix) and algorithm in (None, r[2])
        ]
        assert sorted(map(_key, got.collect())) == want, (prefix.hex(), algorithm)
