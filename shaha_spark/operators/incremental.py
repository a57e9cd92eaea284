"""Incremental aggregate maintenance: keep a (key, hour) rollup table
up to date by folding in new event batches WITHOUT rescanning history —
the batch counterpart of a streaming windowed aggregation, and the
standard shape for maintaining a materialized rollup over an
append-only 100 TB event store.

Exactness: the partial state per bucket is ``(count, DECIMAL(38,2)
sum)`` — inputs quantize at scale 2, and the state column carries the
widest precision Spark supports so repeated merges never narrow it.
Decimal addition is associative and commutative, so any split
of the input into batches — and any merge order — reproduces the
full-recompute result bit-for-bit. That identity is what the driver
oracle checks: a two-batch incremental build must hash-match DuckDB's
single-pass aggregation over all events.

Scale: each increment aggregates ONLY the new batch (one hash-agg with
map-side partials), and the merge is a union + re-aggregation on the
bucket key — proportional to the touched buckets, not to history.
Late-arriving data needs no special case: its bucket either merges
into an existing row or creates one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shaha_spark.operators.profile import split_cast_double, split_cast_double_sql


def rollup_increment(
    events: DataFrame,
    key_col: str = "event_type",
    tus_col: str = "tus",
    value_col: str = "value",
) -> DataFrame:
    """Partial-state rollup of one batch: ``(key, hour, n, sv)`` with
    the decimal sum kept as state (not yet cast for display)."""
    hour = F.date_trunc("hour", F.timestamp_micros(F.col(tus_col)))
    return events.groupBy(F.col(key_col), hour.alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        # inputs quantize at scale 2; the STATE column carries the
        # widest decimal Spark supports so repeated merges never narrow
        # it back down (a cast to decimal(18,2) would silently NULL any
        # accumulated total past 18 digits under non-ANSI semantics)
        F.sum(F.col(value_col).cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("sv"),
    )


def merge_rollup(existing: DataFrame, increment: DataFrame) -> DataFrame:
    """Fold an increment into an existing rollup: union the two state
    tables and re-aggregate by the bucket key; counts and decimal sums
    add, and buckets present on only one side pass through unchanged
    (summing a single row is the identity).

    This is the single-pass aggregation's fold: SUM over the union
    skips NULL partial sums, decimal addition at the widened state
    precision is associative, and groupBy collapses NULL keys into one
    bucket exactly as a null-safe join condition would match them. A
    bucket whose every value is NULL keeps ``sv`` NULL, as the DuckDB
    oracle's one-pass ``SUM`` gives (the previous full-outer-join form's
    COALESCE(a,0)+COALESCE(b,0) gave 0 there, which disagreed with the
    oracle); for every other bucket the two forms agree. It plans as ONE
    exchange with map-side partial aggregation instead of a
    two-exchange sort-merge full-outer join (guide §2.3/§2.4: aggregate
    before you shuffle; at most one state row per bucket per side
    crosses the wire, pre-combined map-side when both land in one map
    task).
    """
    key_cols = [c for c in existing.columns if c not in ("n", "sv")]
    cols = [*key_cols, "n", "sv"]
    unioned = existing.select(cols).unionByName(increment.select(cols))
    return unioned.groupBy(*key_cols).agg(
        F.sum("n").cast("bigint").alias("n"),
        # keep the partial state at the widened precision end to end —
        # narrowing per merge would corrupt the maintained rollup once
        # totals exceed the narrow precision (sum over decimal(38,2)
        # already yields decimal(38,2); the cast pins the contract)
        F.sum("sv").cast("decimal(38,2)").alias("sv"),
    )


def finalize_rollup(rollup: DataFrame, key_col: str = "event_type") -> DataFrame:
    """Display form: formatted hour, bigint count, double sum — the
    same rendering convention as the one-shot hourly query."""
    return rollup.select(
        F.col(key_col),
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.col("n").cast("bigint").alias("n_events"),
        split_cast_double(F.col("sv"), 2).alias("sum_value"),
    )


def incremental_rollup_sql(table: str = "events") -> str:
    """DuckDB oracle: the FULL single-pass aggregation the incremental
    path must reproduce exactly, regardless of how the input was
    batched."""
    return f"""SELECT event_type,
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
  CAST(count(*) AS BIGINT) AS n_events,
  {split_cast_double_sql("SUM(CAST(value AS DECIMAL(18,2)))", 2)} AS sum_value
FROM {table} GROUP BY 1, 2"""
