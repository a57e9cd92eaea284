"""Incremental rollup maintenance (operators/incremental.py): any
batching and merge order must reproduce the single-pass aggregation
exactly — the decimal partial state makes the fold associative and
commutative. Oracle parity at fixture scale runs in
tests/test_oracle.py.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from shaha_spark.operators.incremental import (
    finalize_rollup,
    merge_rollup,
    rollup_increment,
)


def _full(ev):
    return finalize_rollup(rollup_increment(ev))


def _key(r):
    return (r.event_type, r.hour)


def _as_map(rows):
    return {_key(r): (r.n_events, r.sum_value) for r in rows}


def test_incremental_matches_full_recompute_random_splits(spark, sf_dir):
    from shaha_spark.catalog._tables import _events

    ev = _events(spark, sf_dir).limit(3000).localCheckpoint(eager=True)
    expected = _as_map(_full(ev).collect())

    rng = random.Random(11)
    n_batches = 4
    # random disjoint exhaustive batching on a content hash
    bucket = F.abs(F.hash(F.col("event_id"), F.lit(rng.randint(0, 99)))) % n_batches
    tagged = ev.withColumn("__b", bucket)
    state = rollup_increment(tagged.where(F.col("__b") == 0))
    order = list(range(1, n_batches))
    rng.shuffle(order)
    for m in order:
        state = merge_rollup(state, rollup_increment(tagged.where(F.col("__b") == m)))
    got = _as_map(finalize_rollup(state).collect())
    assert got == expected


def test_merge_with_empty_increment_is_identity(spark, sf_dir):
    from shaha_spark.catalog._tables import _events

    ev = _events(spark, sf_dir).limit(500)
    base = rollup_increment(ev)
    empty = rollup_increment(ev.where(F.lit(False)))
    merged = merge_rollup(base, empty)
    assert _as_map(finalize_rollup(merged).collect()) == _as_map(
        finalize_rollup(base).collect()
    )


def test_late_data_creates_or_updates_buckets(spark):
    rows = [
        (1, 1, "a", 0, 1.5, "{}"),
        (2, 1, "a", 3_600_000_000, 2.0, "{}"),
    ]
    late = [
        (3, 1, "a", 10, 4.0, "{}"),               # lands in existing hour-0
        (4, 1, "a", 7_200_000_000, 8.0, "{}"),    # opens a new hour-2 bucket
    ]
    schema = "event_id bigint, user_id bigint, event_type string, tus bigint, value double, props string"
    base = rollup_increment(spark.createDataFrame(rows, schema))
    merged = merge_rollup(base, rollup_increment(spark.createDataFrame(late, schema)))
    out = {r.hour: (r.n_events, r.sum_value) for r in finalize_rollup(merged).collect()}
    assert out["1970-01-01 00:00:00"] == (2, 5.5)
    assert out["1970-01-01 01:00:00"] == (1, 2.0)
    assert out["1970-01-01 02:00:00"] == (1, 8.0)


def test_null_keys_merge_into_one_bucket(spark):
    """groupBy collapses NULL keys into one bucket per side; the merge
    join must match them null-safely or every merge would append a
    fresh duplicate (NULL, hour) row instead of folding the counts."""
    rows_a = [(None, 10, 1.0), ("buy", 20, 2.0)]
    rows_b = [(None, 30, 4.0), (None, 40, 8.0)]
    schema = "event_type string, tus long, value double"
    a = rollup_increment(spark.createDataFrame(rows_a, schema))
    b = rollup_increment(spark.createDataFrame(rows_b, schema))
    merged = merge_rollup(a, b)
    out = finalize_rollup(merged).collect()
    assert len(out) == 2  # one NULL bucket, one "buy" bucket
    null_rows = [r for r in out if r.event_type is None]
    assert len(null_rows) == 1
    assert (null_rows[0].n_events, null_rows[0].sum_value) == (3, 13.0)
    # merging the other direction gives the identical result
    out_rev = finalize_rollup(merge_rollup(b, a)).collect()
    assert set(map(tuple, out)) == set(map(tuple, out_rev))


def test_merged_totals_survive_past_18_digits(spark):
    """ADVICE r3: the partial-state sum must stay at widened precision
    end to end — a per-merge cast back to decimal(18,2) silently NULLs
    any accumulated total past 18 digits under non-ANSI semantics."""
    rows = [("buy", 1_000_000 + i, 9e15) for i in range(20)]
    ev = spark.createDataFrame(
        rows, "event_type string, tus long, value double"
    )
    half_a = rollup_increment(ev.limit(10))
    half_b = rollup_increment(ev.subtract(ev.limit(10)))
    merged = merge_rollup(half_a, half_b)
    # 20 * 9e15 = 1.8e17 > 18-digit decimal capacity at scale 2
    out = finalize_rollup(merged).collect()
    assert len(out) == 1
    assert out[0].sum_value is not None
    assert out[0].sum_value == 20 * 9e15
    assert out[0].n_events == 20
    # repeated self-merge keeps widening-safety (state type is stable)
    doubled = merge_rollup(merged, merged)
    assert dict(doubled.dtypes)["sv"] == dict(merged.dtypes)["sv"]
    out2 = finalize_rollup(doubled).collect()
    assert out2[0].sum_value == 40 * 9e15


def test_all_null_value_bucket_merges_to_single_pass_null(spark):
    """A bucket whose every value is NULL sums to NULL in the one-pass
    aggregation (and in the DuckDB oracle's SUM); merging split
    increments must give the same NULL, not 0. The bucket is NULL on
    both sides of one merge and on one side only of another."""
    schema = "event_type string, tus long, value double"
    rows_a = [("nulls", 10, None), ("both", 20, None), ("buy", 30, 2.0)]
    rows_b = [("nulls", 40, None), ("both", 50, 4.0), ("only_b", 60, None)]
    a = rollup_increment(spark.createDataFrame(rows_a, schema))
    b = rollup_increment(spark.createDataFrame(rows_b, schema))
    merged = _as_map(finalize_rollup(merge_rollup(a, b)).collect())
    single = _as_map(
        _full(spark.createDataFrame(rows_a + rows_b, schema)).collect()
    )
    assert merged == single
    assert merged[("nulls", "1970-01-01 00:00:00")] == (2, None)
    assert merged[("only_b", "1970-01-01 00:00:00")] == (1, None)
    assert merged[("both", "1970-01-01 00:00:00")] == (2, 4.0)
