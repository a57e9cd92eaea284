"""Local text-file source (S1, ref /root/reference/src/source/file.rs).

The scan itself is fully distributed: ``spark.read.text`` splits large
files across executor tasks; only the content fingerprint is a
driver-side streamed read (1 MiB blocks; ref file.rs:43-56 streams
64 KiB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from shaha_spark.functions.blake3_pure import Blake3Hasher


def content_hash_file(path: str, block_size: int = 1024 * 1024) -> str:
    """Streamed blake3 fingerprint of a local file (ref file.rs:43-56).

    Reads fixed blocks through an incremental hasher — the fingerprint
    of a multi-GB wordlist must be bounded by the block size, never by
    driver memory (a whole-file read here would undo url_source's
    streamed download). A 1 MiB block hands the pure hasher ~1k chunks
    per ``update``, which it compresses as numpy lanes. The native
    wheel's Rust kernel is used when importable; the pure hasher is the
    dependency-free fallback, both producing identical spec digests.
    """
    try:
        from blake3 import blake3 as _native  # type: ignore[import-not-found]

        hasher = _native()
    except ImportError:
        hasher = Blake3Hasher()
    with open(path, "rb") as fh:
        while True:
            block = fh.read(block_size)
            if not block:
                break
            hasher.update(block)
    return hasher.digest().hex()


def file_source(spark: SparkSession, path: str):
    """Words of a text file, a directory or a glob, one per non-empty line.

    Only a regular file is fingerprinted. A directory or a glob gets
    ``content_hash=None``, as stdin does, so the idempotence gate does
    not apply to it: every build of it ingests again.
    """
    from shaha_spark.sources import SourceResult

    words = (
        spark.read.text(path)
        .select(F.col("value").alias("word"))
        .filter(F.length("word") > 0)
    )
    name = os.path.basename(path)
    local = path if not path.startswith("file:") else path[len("file:"):]
    chash = content_hash_file(local) if os.path.isfile(local) else None
    return SourceResult(words=words, name=name, content_hash=chash)
