"""Aspell dictionary source (S5/S12, ref /root/reference/src/source/aspell.rs).

``aspell -d <lang> dump master`` as a driver subprocess, stdout cached
and parallelized. Gated behind binary availability so the engine works
in containers without aspell.
"""

from __future__ import annotations

import shutil
import subprocess

from pyspark.sql import SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from shaha_spark.functions.blake3_pure import Blake3Hasher

_WORD_SCHEMA = StructType([StructField("word", StringType(), False)])


def aspell_available() -> bool:
    return shutil.which("aspell") is not None


def list_dicts() -> list[str]:
    """``aspell dicts`` → language list (S12, ref aspell.rs:82-106)."""
    if not aspell_available():
        raise RuntimeError("aspell binary not found")
    out = subprocess.run(["aspell", "dicts"], capture_output=True, text=True, check=True)
    return sorted({ln.strip() for ln in out.stdout.splitlines() if ln.strip()})


def aspell_source(spark: SparkSession, lang: str):
    from shaha_spark.sources import SourceResult

    if not aspell_available():
        raise RuntimeError("aspell binary not found (ref src/source/aspell.rs:25-28)")
    out = subprocess.run(
        ["aspell", "-d", lang, "dump", "master"],
        capture_output=True, check=True,
    )
    text = out.stdout.decode("utf-8", errors="replace")
    rows = [(ln,) for ln in text.splitlines() if ln]
    words = spark.createDataFrame(rows, _WORD_SCHEMA)
    return SourceResult(
        words=words, name=f"aspell:{lang}",
        content_hash=Blake3Hasher().update(out.stdout).hexdigest(),
    )
