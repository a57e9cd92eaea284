"""Output checks that do not go through shaha_spark.

DuckDB reads the written Parquet files directly; digests are recomputed
with hashlib, and the four algorithms hashlib cannot vouch for
(keccak256, blake3, ripemd160, hash160) are checked against the
published known-answer vectors.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from pathlib import Path

import duckdb
import pyarrow as pa

from perfbench.inputs import WORDLIST
from shaha_spark.functions.digest_vectors import VECTOR_DIGESTS

HASHLIB: dict[str, Callable[[bytes], bytes]] = {
    "md5": lambda b: hashlib.md5(b).digest(),
    "sha1": lambda b: hashlib.sha1(b).digest(),
    "sha256": lambda b: hashlib.sha256(b).digest(),
    "sha512": lambda b: hashlib.sha512(b).digest(),
    "hash256": lambda b: hashlib.sha256(hashlib.sha256(b).digest()).digest(),
}
KNOWN_ANSWER_ALGORITHMS = ("keccak256", "blake3", "ripemd160", "hash160")
SAMPLE_ROWS = 1000


def digest(algorithm: str, word: str) -> bytes:
    """Expected digest of ``word``: hashlib, else the known-answer table."""
    if algorithm in HASHLIB:
        return HASHLIB[algorithm](word.encode())
    return bytes.fromhex(VECTOR_DIGESTS[word][algorithm])


def check_database(
    db: Path,
    *,
    expected_rows: int,
    algorithms: list[str],
    seed: int,
    overlaps: list[tuple[str, str]] = (),
    forgotten: list[bytes] = (),
) -> dict[str, bool]:
    """Named pass/fail results for one database directory.

    ``overlaps`` pairs a main-list word with the batch source that
    re-added it, so it must carry both that source and the main
    wordlist's; ``forgotten`` lists digests that must be absent.
    """
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        files = f"{db}/*.parquet".replace("'", "''")
        con.execute(
            f"CREATE VIEW db AS SELECT * FROM read_parquet('{files}', "
            "filename = true, file_row_number = true)"
        )
        out: dict[str, bool] = {}
        rows, keys = con.execute(
            "SELECT count(*), count(DISTINCT (hash, algorithm)) FROM db"
        ).fetchone()
        out["row_count"] = rows == expected_rows
        out["unique_hash_algorithm"] = keys == rows
        descents = con.execute(
            "SELECT count(*) FROM (SELECT hash < lag(hash) OVER "
            "(ORDER BY filename, file_row_number) AS down FROM db) WHERE down"
        ).fetchone()[0]
        out["sorted_across_files"] = descents == 0

        checked = [a for a in algorithms if a in HASHLIB]
        sample = con.execute(
            "SELECT hash, preimage, algorithm FROM "
            "(SELECT * FROM db WHERE list_contains(?, algorithm)) "
            f"USING SAMPLE reservoir({SAMPLE_ROWS} ROWS) REPEATABLE ({seed})",
            [checked],
        ).fetchall()
        out["hashlib_sample"] = len(sample) == min(SAMPLE_ROWS, rows) and all(
            HASHLIB[a](p.encode()) == bytes(h) for h, p, a in sample
        )

        if set(KNOWN_ANSWER_ALGORITHMS) <= set(algorithms):
            got = {
                (p, a): bytes(h)
                for p, a, h in con.execute(
                    "SELECT preimage, algorithm, hash FROM db "
                    "WHERE list_contains(?, preimage)",
                    [list(VECTOR_DIGESTS)],
                ).fetchall()
            }
            out["known_answer_vectors"] = all(
                got.get((w, a)) == digest(a, w)
                for w in VECTOR_DIGESTS
                for a in KNOWN_ANSWER_ALGORITHMS
            )

        if overlaps:
            words, sources = zip(*overlaps)
            con.register("ov", pa.table({"word": list(words), "src": list(sources)}))
            both = con.execute(
                "SELECT count(*) FROM db JOIN ov ON db.preimage = ov.word "
                "WHERE list_contains(db.sources, ?) "
                "AND list_contains(db.sources, ov.src)",
                [WORDLIST],
            ).fetchone()[0]
            out["overlap_has_both_sources"] = both == len(overlaps) * len(algorithms)

        if forgotten:
            con.register("gone", pa.table({"h": pa.array(list(forgotten), pa.binary())}))
            left = con.execute(
                "SELECT count(*) FROM db JOIN gone ON db.hash = gone.h"
            ).fetchone()[0]
            out["forgotten_absent"] = left == 0
        return out
    finally:
        con.close()
