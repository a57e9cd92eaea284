"""Canonical schemas and binary/hex helpers.

The hash-record schema mirrors the reference's fixed Arrow schema
(ref /root/reference/src/storage/parquet.rs:74-83): all columns
non-nullable, ``sources`` a list of non-null strings.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    StringType,
    StructField,
    StructType,
)

#: One row per (hash, algorithm) pair — ref src/storage/mod.rs:10-16.
HASH_DB_SCHEMA = StructType(
    [
        StructField("hash", BinaryType(), False),
        StructField("preimage", StringType(), False),
        StructField("algorithm", StringType(), False),
        StructField("sources", ArrayType(StringType(), containsNull=False), False),
    ]
)

#: Digest length in bytes per algorithm (ref src/storage/parquet.rs:258-260
#: gates bloom lookups on these lengths).
DIGEST_LENGTHS = {
    "md5": 16,
    "sha1": 20,
    "sha256": 32,
    "sha512": 64,
    "keccak256": 32,
    "ripemd160": 20,
    "blake3": 32,
    "hash160": 20,
    "hash256": 32,
}

#: Full-digest byte lengths eligible for point-lookup short-circuit.
FULL_HASH_LENGTHS = frozenset({16, 20, 32, 64})

#: Name of the sidecar metadata file replacing the reference's Parquet
#: footer key-value metadata (ref src/storage/parquet.rs:20-26) — Spark's
#: DataFrame writer cannot emit custom footer KVs.
SIDECAR_NAME = "_shaha_meta.json"


def hex_to_bytes(prefix_hex: str) -> bytes:
    """Decode a user-supplied hex string, erroring on bad hex.

    Mirrors ref src/cli/query.rs:69-70 (only whole-byte prefixes are
    representable: input is hex-decoded before comparison).
    """
    try:
        return bytes.fromhex(prefix_hex)
    except ValueError as exc:
        raise ValueError(f"invalid hex prefix: {prefix_hex!r}") from exc
