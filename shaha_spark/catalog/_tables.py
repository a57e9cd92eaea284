"""Table readers and SQL fragments shared by the catalog's families.

The Spark side reads each parquet table through :func:`_t` (``events``
through :func:`_events`, which normalizes its timestamps); the DuckDB
twins start from the word/token CTEs defined here.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from shaha_spark.util import normalize_event_ts


_PKG_SHIPPED: set[int] = set()


def _ensure_pkg(spark: SparkSession) -> None:
    """Ship the shaha_spark package to this session's Python workers.

    Queries that pickle Python functions (mapInPandas / pandas UDFs)
    reference the package by module path; the driver's session may not
    have it importable on workers. addPyFile distributes a zip that
    lands on every executor's sys.path — the same mechanism used for a
    real cluster deploy.
    """
    key = id(spark)
    if key in _PKG_SHIPPED:
        return

    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
    tmp = tempfile.mkdtemp(prefix="shaha_pkg_")
    zpath = shutil.make_archive(
        os.path.join(tmp, "shaha_spark_pkg"), "zip", root_dir=root, base_dir="shaha_spark"
    )
    spark.sparkContext.addPyFile(zpath)
    _PKG_SHIPPED.add(key)


#: (sf_dir, table) -> inferred StructType. Schema METADATA only — never
#: rows, never results: every query still scans the parquet afresh.
#: Each spark.read.parquet() call re-infers the schema from the file
#: footer (~80 ms per table); a 6-table join paid ~0.5 s
#: of its wall time re-reading footers it had already read (a
#: driver-side planning cost; same spirit as Spark's own session-wide
#: FileStatusCache for listings). `events` is deliberately NOT cached:
#: its physical ts type is sniffed under the nanosAsLong session conf
#: (see _events), so its inferred schema is conf-dependent.
_TABLE_SCHEMAS: dict[tuple[str, str], Any] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return spark.read.parquet(path)
    key = (sf_dir, name)
    schema = _TABLE_SCHEMAS.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _TABLE_SCHEMAS[key] = schema
    return spark.read.schema(schema).parquet(path)


def _utc(spark: SparkSession) -> None:
    """Timestamp queries assume UTC rendering; the driver's session may
    not be configured that way, so pin it at query time."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with a normalized microsecond-epoch column `tus`.

    The fixture's `ts` encoding has varied across regenerations —
    TIMESTAMP(NANOS) (readable only as raw int64 under the legacy
    nanosAsLong conf) or plain micros TIMESTAMP_NTZ — so normalization
    is delegated to :func:`shaha_spark.util.normalize_event_ts`; with
    the session pinned to UTC, `unix_micros(ts)` then agrees exactly
    with DuckDB's `epoch_us(ts)` on the same parquet."""
    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = normalize_event_ts(_t(spark, sf_dir, "events"))
    return ev.withColumn("tus", F.unix_micros(F.col("ts")))


def _words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenized documents: [word, source, doc_id], empties dropped."""
    return (
        _t(spark, sf_dir, "documents")
        .select(
            F.explode(F.split("text", " ")).alias("word"), "source", "doc_id"
        )
        .filter(F.col("word") != "")
    )


def _dwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _words(spark, sf_dir).select("word").distinct()


def _hex(col: str = "hash") -> F.Column:
    return F.lower(F.hex(F.col(col))).alias("hash_hex")


def _dec(col: str, prec: str = "decimal(12,2)") -> F.Column:
    return F.col(col).cast(prec)


_WORDS_CTE = """words AS (
  SELECT w AS word, source, doc_id FROM (
    SELECT unnest(regexp_split_to_array(text, '[ \\t\\n\\r]+')) AS w, source, doc_id FROM documents
  ) WHERE w <> ''
)"""

_DWORDS_CTE = _WORDS_CTE + ",\ndwords AS (SELECT DISTINCT word FROM words)"

_MULTI_CTE = (
    _DWORDS_CTE
    + """,
multi AS (
  SELECT md5(word) AS hash_hex, word AS preimage, 'md5' AS algorithm FROM dwords
  UNION ALL
  SELECT sha256(word) AS hash_hex, word AS preimage, 'sha256' AS algorithm FROM dwords
)"""
)

_TOKS_CTE = """toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), t -> t <> '') AS t FROM documents
)"""

_SHINGLES_CTE = (
    _TOKS_CTE
    + """,
sh AS (
  SELECT doc_id, CASE WHEN len(t) >= 3
    THEN list_transform(range(1, len(t) - 1), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))
    ELSE CAST([] AS VARCHAR[]) END AS s
  FROM toks
)"""
)
