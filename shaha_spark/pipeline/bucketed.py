"""Bucketed-table layout: shuffle-free co-located merge joins.

The append-merge (J1) joins the full existing database against the
incoming batch on (hash, algorithm). With a plain parquet directory
that join shuffles BOTH sides every append — at 100 TB the existing-DB
shuffle dominates the job. Writing the database as a bucketed table
fixes the partitioning at write time: both sides of a future join that
are bucketed the same way join with NO exchange on the bucketed side.

Bucketing requires the session catalog (``saveAsTable``); the table is
external (data lives at ``path``), so it composes with the sidecar and
the plain-directory readers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from shaha_spark.pipeline.build import WRITE_OPTIONS


def write_bucketed_hashdb(
    df: DataFrame,
    table: str,
    path: str,
    n_buckets: int = 64,
) -> None:
    """Write hash records as an external bucketed table.

    Bucketed by (hash, algorithm) — the append-merge join key — and
    sorted by hash within buckets so row-group pruning still applies.
    ``n_buckets`` should scale with expected data volume (buckets are
    the unit of join parallelism; target ≤ ~1 GB per bucket). The
    Parquet options are :func:`~shaha_spark.pipeline.build.write_hashdb`'s.
    """
    (
        df.write.mode("overwrite")
        .options(**WRITE_OPTIONS)
        .option("path", path)
        .bucketBy(n_buckets, "hash", "algorithm")
        .sortBy("hash")
        .format("parquet")
        .saveAsTable(table)
    )


def read_bucketed_hashdb(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def bucketed_append_merge(
    spark: SparkSession, table: str, new: DataFrame
) -> DataFrame:
    """Append-merge against a bucketed table: the existing side carries
    its bucket partitioning into the join, so only the (small) new batch
    shuffles. Verify with .explain(): one Exchange, on the new side."""
    from shaha_spark.pipeline.append import append_merge

    return append_merge(read_bucketed_hashdb(spark, table), new)
