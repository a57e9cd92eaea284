"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the config choices below are the ones
that matter identically on a 1000-executor cluster: AQE on (runtime
shuffle-partition coalescing + skew-join splitting), Arrow transfer for
the pandas-UDF digest path, zstd parquet, session timezone pinned to
UTC so timestamp semantics are reproducible against external oracles.
"""

from __future__ import annotations

import os
import pathlib

from pyspark.sql import SparkSession

#: Directory containing the ``shaha_spark`` package.
_PKG_ROOT = str(pathlib.Path(__file__).resolve().parent.parent)


def _ensure_workers_see_package() -> None:
    """Make Python workers able to import shaha_spark (pandas-UDF pickles).

    In local mode the worker processes inherit the driver environment, so
    extending PYTHONPATH before the JVM starts is sufficient. On a real
    cluster, ship the package instead: ``spark.submit.pyFiles`` with a
    wheel/zip, or ``sc.addPyFile``.
    """
    existing = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_PKG_ROOT}{os.pathsep}{existing}" if existing else _PKG_ROOT
        )


def get_spark(
    app_name: str = "shaha-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    _ensure_workers_see_package()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # SPARK_GRAFT_CPUS feeds the local[{n}] master string, where
        # '*' (all cores) is valid Spark syntax — honor it here too
        # instead of crashing every command on int('*')
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            if cpus.strip() == "*":
                shuffle_partitions = os.cpu_count() or 8
            else:
                raise ValueError(
                    f"SPARK_GRAFT_CPUS must be an integer or '*', got {cpus!r}"
                ) from None
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # a file a swap disposed of under a running read fails the job
        # rather than dropping its rows from the answer
        .config("spark.sql.files.ignoreMissingFiles", "false")
        .config("spark.driver.memory", os.environ.get("SHAHA_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
