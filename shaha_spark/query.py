"""Reverse-lookup query path: hash prefix / point → preimages.

Re-expresses the reference's query machinery (ref
/root/reference/src/storage/parquet.rs:476-570, src/cli/query.rs:68-130)
as a single filtered DataFrame whose predicates are all pushdown-friendly:

  * full-digest prefix (16/20/32/64 bytes) → EQUALITY on the binary
    `hash` column. The Parquet reader consults the native column bloom
    filter (written at build time) and row-group min/max stats — the
    same short-circuit as the reference's footer bloom
    (ref parquet.rs:481-487) with zero custom code.
  * shorter prefix → half-open binary RANGE ``hash >= p AND hash <
    succ(p)``, which is EXACTLY the set of digests starting with ``p``
    under bytewise ordering, and prunes row groups via min/max stats on
    the hash-sorted layout (ref parquet.rs:493-516, 262-272). No
    residual ``startswith`` is needed: the range form is precise for
    whole-byte prefixes (the only kind expressible — query input is
    hex-decoded, ref query.rs:69-70).
  * optional algorithm equality (F3) and LIMIT with early termination
    (O2 → CollectLimitExec).

Which files are read: the reference prunes by the stats in its single
file's footer; this store writes many files, so the sidecar carries a
per-file index (``files``: path, rows, bytes, min and max ``hash``,
see ``build.with_index``), and a swap commits by writing it. A lookup
reads the committed index and scans only the files whose [min, max]
meets the predicate (``build.read_committed``): a point lookup reads
one file, not all of them. Only a sidecar without an index (an older
writer, a remote store) makes the lookup read the directory.
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from shaha_spark.pipeline.build import read_committed, read_sidecar
from shaha_spark.schema import (
    DIGEST_LENGTHS,
    FULL_HASH_LENGTHS,
    hex_to_bytes,
)

#: Applied by the CLI when the user gives no -n and the format must
#: materialize every row driver-side (json/table). Plain format streams
#: instead, so it needs no cap. Guards against an unbounded collect()
#: of a short-prefix match on a 100 TB database.
DEFAULT_QUERY_LIMIT = 1000


def prefix_successor(prefix: bytes) -> bytes | None:
    """Smallest byte string greater than every string prefixed by
    ``prefix``: increment the last non-0xff byte, dropping the tail.
    None when the prefix is all 0xff (no upper bound needed)."""
    buf = bytearray(prefix)
    while buf and buf[-1] == 0xFF:
        buf.pop()
    if not buf:
        return None
    buf[-1] += 1
    return bytes(buf)


def prefix_predicate(
    prefix: bytes, column: str = "hash", max_digest_len: int | None = None
) -> Column:
    """Pushdown-friendly predicate for 'digest starts with prefix'.

    Empty prefix matches everything (ref tests/integration.rs:395-396).
    The reference's row filter is ALWAYS startswith — even a full-length
    input only uses the footer bloom as a row-group screen, then matches
    ``hash.starts_with(prefix)`` (ref parquet.rs:481-487, 547) — so a
    16-byte md5-length query can legitimately hit a 32-byte sha256
    digest sharing that prefix. The half-open range
    ``p <= hash < succ(p)`` is EXACTLY startswith under bytewise order,
    so it is the default for every length.

    The one pushdown upgrade: when the caller proves no digest in the
    scanned data is longer than the prefix (``max_digest_len``, from the
    database sidecar's algorithm list), startswith degenerates to
    equality — which parquet-mr can additionally screen through the
    native column bloom filter, the same fast path as the reference's
    point-lookup gate (ref parquet.rs:258-260).
    """
    col = F.col(column)
    if len(prefix) == 0:
        return F.lit(True)
    if (
        len(prefix) in FULL_HASH_LENGTHS
        and max_digest_len is not None
        and len(prefix) >= max_digest_len
    ):
        return col == F.lit(prefix)
    upper = prefix_successor(prefix)
    pred = col >= F.lit(prefix)
    if upper is not None:
        pred = pred & (col < F.lit(upper))
    return pred


def indexed_files(meta: dict[str, Any], prefix: bytes) -> list[str]:
    """Db-relative paths of the files whose ``hash`` range meets
    ``prefix`` (the half-open range of :func:`prefix_predicate`; an
    equality is inside it), from the sidecar ``meta``'s file index. When
    no file matches, one file is named anyway: the predicate empties it,
    at the cost of a read that finds nothing, and the frame keeps its
    schema. A file of an ``algorithm=`` directory whose digests are
    shorter than ``prefix`` is skipped: none of them starts with it."""
    files = meta["files"]
    upper = prefix_successor(prefix) if prefix else None
    hit = [
        e["path"]
        for e in files
        if e["rows"]
        and _digest_length(e["path"]) >= len(prefix)
        and bytes.fromhex(e["max"]) >= prefix
        and (upper is None or bytes.fromhex(e["min"]) < upper)
    ]
    return hit or [e["path"] for e in files[:1]]


def _digest_length(rel: str) -> float:
    """Digest length of the rows of the db-relative file ``rel``: that of
    its ``algorithm=<name>/`` directory, else unbounded."""
    for seg in rel.split("/")[:-1]:
        key, _, name = seg.partition("=")
        if key == "algorithm" and name in DIGEST_LENGTHS:
            return DIGEST_LENGTHS[name]
    return math.inf


def query(
    spark: SparkSession,
    db_path: str,
    prefix_hex: str,
    *,
    algorithm: str | None = None,
    limit: int | None = None,
    at_version: int | None = None,
) -> DataFrame:
    """Reverse lookup over a hash database directory.

    Returns [hash, preimage, algorithm, sources]; collect/format on the
    caller side (the reference's plain/json/table renderers are
    driver-side presentation, ref query.rs:132-179).

    The live read names only the files the committed index selects
    (module docstring). ``at_version`` time-travels: the scan runs over
    the file set pinned by that snapshot (pipeline/snapshot.py) instead
    of the live dataset. The pruning predicates are identical — snapshot
    reads are plain parquet scans, so min/max + bloom skipping applies
    to history too.
    """
    prefix = hex_to_bytes(prefix_hex)
    if algorithm is not None and algorithm not in DIGEST_LENGTHS:
        # validate up front: a typo'd name would otherwise just filter
        # to zero rows and report "No matches found" for a hash that IS
        # in the database (the reference's enum parse errors instead,
        # ref query.rs:69-70)
        raise ValueError(
            f"unknown algorithm {algorithm!r} "
            f"(available: {', '.join(sorted(DIGEST_LENGTHS))})"
        )
    if at_version is not None:
        from shaha_spark.pipeline.snapshot import read_snapshot

        base = read_snapshot(spark, db_path, at_version)
        meta = read_sidecar(spark, db_path) if algorithm is None else None
    else:
        base, meta = read_committed(
            spark, db_path, lambda m: indexed_files(m, prefix)
        )
    # Longest digest the scan can contain: from the explicit algorithm
    # filter, else the sidecar's algorithm list. Lets prefix_predicate
    # use the bloom-eligible equality form when it is provably exact.
    if algorithm is not None:
        max_len = DIGEST_LENGTHS[algorithm]
    else:
        algos = (meta or {}).get("algorithms") or []
        lengths = [DIGEST_LENGTHS[a] for a in algos if a in DIGEST_LENGTHS]
        max_len = max(lengths) if lengths and len(lengths) == len(algos) else None
    df = base.filter(prefix_predicate(prefix, max_digest_len=max_len))
    if algorithm is not None:
        df = df.filter(F.col("algorithm") == F.lit(algorithm))
    if limit is not None:
        df = df.limit(limit)
    return df


def format_rows(rows, fmt: str = "plain") -> str:
    """Driver-side result rendering (K4, ref query.rs:132-179):
    plain / json / table (UTF-8 grid, ref query.rs:165-178)."""
    import json as _json

    if fmt == "json":
        return _json.dumps(
            [
                {
                    "hash": r.hash.hex(),
                    "preimage": r.preimage,
                    "algorithm": r.algorithm,
                    "sources": list(r.sources),
                }
                for r in rows
            ],
            indent=2,
        )
    if fmt == "table":
        headers = ["Preimage", "Algorithm", "Sources"]
        cells = [[r.preimage, r.algorithm, ", ".join(r.sources)] for r in rows]
        widths = [
            max(len(headers[i]), *(len(c[i]) for c in cells)) if cells else len(headers[i])
            for i in range(3)
        ]

        def line(left: str, mid: str, right: str, fill: str = "─") -> str:
            return left + mid.join(fill * (w + 2) for w in widths) + right

        def row(values: list[str]) -> str:
            return "│" + "│".join(f" {v:<{w}} " for v, w in zip(values, widths)) + "│"

        out = [line("┌", "┬", "┐"), row(headers), line("├", "┼", "┤")]
        out += [row(c) for c in cells]
        out.append(line("└", "┴", "┘"))
        return "\n".join(out)
    lines = [
        f"{r.hash.hex()}  {r.algorithm:<10}  {r.preimage}  ({', '.join(r.sources)})"
        for r in rows
    ]
    return "\n".join(lines)
