"""Semantics tests for the time-series shaping operators
(operators/timeseries.py) and the per-group cap / pacing-bucket
additions, on small constructed inputs where the expected output is
checkable by hand. Oracle parity at fixture scale is covered by
tests/test_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from shaha_spark.operators.sampling import source_cap
from shaha_spark.operators.timeseries import debounce, gapfill, scd2_intervals

HOUR_US = 3_600_000_000


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, tus bigint, value double, props string"
    )


def test_gapfill_inserts_empty_buckets_and_carries_forward(spark):
    # type 'a': events in hour 0 and hour 3 -> hours 1,2 are gaps
    rows = [
        (1, 1, "a", 0, 10.0, "{}"),
        (2, 1, "a", 10, 20.0, "{}"),
        (3, 1, "a", 3 * HOUR_US, 5.0, "{}"),
        (4, 1, "b", HOUR_US, 7.0, "{}"),
    ]
    out = gapfill(_ev(spark, rows)).orderBy("event_type", "hour").collect()
    a = [r for r in out if r.event_type == "a"]
    assert [r.n_events for r in a] == [2, 0, 0, 1]
    assert [r.sum_value for r in a] == [30.0, 0.0, 0.0, 5.0]
    # gaps carry the last observed hourly sum forward
    assert [r.ffill_sum_value for r in a] == [30.0, 30.0, 30.0, 5.0]
    b = [r for r in out if r.event_type == "b"]
    assert len(b) == 1 and b[0].n_events == 1


def test_gapfill_grid_is_per_key_span(spark):
    # key spans don't leak into each other: 'b' exists only in hour 1
    rows = [
        (1, 1, "a", 0, 1.0, "{}"),
        (2, 1, "a", 2 * HOUR_US, 1.0, "{}"),
        (3, 1, "b", HOUR_US, 1.0, "{}"),
    ]
    out = gapfill(_ev(spark, rows))
    counts = {r["event_type"]: 0 for r in out.collect()}
    for r in out.collect():
        counts[r.event_type] += 1
    assert counts == {"a": 3, "b": 1}


def test_debounce_drops_fast_repeats_keeps_distinct_keys(spark):
    rows = [
        (1, 1, "click", 0, 0.0, "{}"),
        (2, 1, "click", 30_000_000, 0.0, "{}"),   # +30s -> dropped
        (3, 1, "click", 90_000_000, 0.0, "{}"),   # +60s from #2 -> kept (lag vs #2)
        (4, 1, "view", 1_000_000, 0.0, "{}"),     # other key -> kept
        (5, 2, "click", 2_000_000, 0.0, "{}"),    # other user -> kept
    ]
    kept = {r.event_id for r in debounce(_ev(spark, rows)).collect()}
    assert kept == {1, 3, 4, 5}


def test_debounce_simultaneous_keeps_lowest_id(spark):
    rows = [
        (7, 1, "click", 100, 0.0, "{}"),
        (5, 1, "click", 100, 0.0, "{}"),
    ]
    kept = [r.event_id for r in debounce(_ev(spark, rows)).collect()]
    assert kept == [5]


def test_scd2_intervals_reconstruct_change_history(spark):
    rows = [
        (1, 1, "e", 100, 0.0, '{"k": 1}'),
        (2, 1, "e", 200, 0.0, '{"k": 1}'),
        (3, 1, "e", 300, 0.0, '{"k": 2}'),
        (4, 1, "e", 400, 0.0, '{"k": 1}'),   # back to 1 -> NEW interval
        (5, 2, "e", 150, 0.0, '{"k": 9}'),
    ]
    out = scd2_intervals(_ev(spark, rows))
    u1 = sorted(
        [r for r in out.collect() if r.user_id == 1],
        key=lambda r: r.valid_from_us,
    )
    assert [(r.attr, r.valid_from_us, r.valid_to_us, r.n_events) for r in u1] == [
        (1, 100, 300, 2),
        (2, 300, 400, 1),
        (1, 400, None, 1),
    ]
    assert [r.is_current for r in u1] == [False, False, True]
    u2 = [r for r in out.collect() if r.user_id == 2]
    assert len(u2) == 1 and u2[0].is_current and u2[0].attr == 9


def test_scd2_closed_open_intervals_tile_the_timeline(spark, sf_dir):
    from shaha_spark.catalog._tables import _events

    out = scd2_intervals(_events(spark, sf_dir).limit(2000))
    rows = out.collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from_us)
        assert sum(r.is_current for r in ivs) == 1
        assert ivs[-1].valid_to_us is None
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to_us == b.valid_from_us  # half-open tiling
            assert a.attr != b.attr  # a change actually happened


def test_source_cap_keeps_at_most_cap_and_is_stable(spark):
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("source"),
    )
    out = source_cap(df, "source", "doc_id", cap=5)
    counts = out.groupBy("source").count().collect()
    assert all(r["count"] == 5 for r in counts)
    # stability: the kept set is a function of content, not of input order
    kept1 = {r.doc_id for r in out.collect()}
    shuffled = df.orderBy(F.rand(seed=7))
    kept2 = {r.doc_id for r in source_cap(shuffled, "source", "doc_id", 5).collect()}
    assert kept1 == kept2


def test_source_cap_under_cap_group_kept_whole(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id bigint, source string"
    )
    out = source_cap(df, "source", "doc_id", cap=10)
    assert out.count() == 3


def test_ppl_pacing_buckets_orders_head_to_tail(spark, sf_dir):
    from shaha_spark.operators.terms import ppl_pacing_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ppl_pacing_buckets(docs, buckets=3).collect()
    assert len(out) == docs.count()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        sizes = [0, 0, 0]
        for r in rs:
            sizes[r.bucket - 1] += 1
        # equal-count ntile: sizes differ by at most 1, ordered desc
        assert max(sizes) - min(sizes) <= 1
        # head bucket scores dominate tail bucket scores
        head = min(r.avg_logprob for r in rs if r.bucket == 1)
        tail = max(r.avg_logprob for r in rs if r.bucket == 3)
        assert head >= tail


# ------------------------------------------------------- plan shapes

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_source_cap_plan_uses_window_group_limit(spark):
    # rank filter should prune through WindowGroupLimit: only `cap`
    # rows per group materialize past the per-group sort, so a
    # mega-domain never fully sorts through the window operator
    from shaha_spark.catalog import queries

    plan = _plan(queries()["docs_source_cap"](spark, SF))
    assert "WindowGroupLimit" in plan
    assert "EvalPython" not in plan


def test_gapfill_plan_no_python_single_corpus_scan(spark):
    from shaha_spark.catalog import queries

    plan = _plan(queries()["events_gapfill"](spark, SF))
    assert "EvalPython" not in plan
    # hourly agg feeds both the span (grid) side and the join-back side:
    # two scans of the events table by design, never more
    assert plan.count("Scan parquet") <= 2


def test_debounce_and_scd2_plans_single_shuffle_no_python(spark):
    from shaha_spark.catalog import queries

    for name in ["events_debounce", "users_scd2"]:
        plan = _plan(queries()[name](spark, SF))
        assert "EvalPython" not in plan, name
        # one hash shuffle on the partition key; scd2's second window
        # shares the sort (same keys), its LEAD pass rides the grouped
        # (segment-level) table
        assert plan.count("Exchange hashpartitioning") <= 2, name


# ------------------------------------------------------------- EWMA


def test_ewma_matches_pandas_adjust_true_within_tail(spark):
    """With horizon K the truncation error vs pandas ewm(adjust=True)
    is bounded by the dropped tail weight; K=24 at alpha=0.3 makes it
    ~1e-4 relative."""
    import pandas as pd

    from shaha_spark.operators.timeseries import ewma

    vals = [float((7 * i) % 23 + 1) for i in range(60)]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "uid int, t int, v double"
    )
    got = [
        r["ewma"]
        for r in sorted(
            ewma(df, ["uid"], ["t"], "v", alpha=0.3, horizon=24).collect(),
            key=lambda r: r["t"],
        )
    ]
    ref = pd.Series(vals).ewm(alpha=0.3, adjust=True).mean().tolist()
    for g, r in zip(got, ref):
        assert abs(g - r) < 1e-3 * max(1.0, abs(r)), (g, r)


def test_ewma_first_row_is_value_and_constant_series_fixed_point(spark):
    from shaha_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [(1, i, 42.0) for i in range(10)], "uid int, t int, v double"
    )
    rows = ewma(df, ["uid"], ["t"], "v", alpha=0.4, horizon=8).collect()
    for r in rows:
        assert abs(r["ewma"] - 42.0) < 1e-12  # weighted mean of a constant


def test_ewma_null_values_excluded_not_zero_filled(spark):
    """NULL rows drop out of the series entirely: lags skip over them
    rather than injecting zeros."""
    from shaha_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [(1, 0, 10.0), (1, 1, None), (1, 2, 30.0)],
        "uid int, t int, v double",
    )
    rows = {r["t"]: r["ewma"] for r in
            ewma(df, ["uid"], ["t"], "v", alpha=0.5, horizon=4).collect()}
    assert 1 not in rows
    # row t=2 sees t=0 as its lag-1: (0.5*30 + 0.25*10) / 0.75
    assert abs(rows[2] - (0.5 * 30 + 0.25 * 10) / 0.75) < 1e-12


def test_ewma_validates_params(spark):
    import pytest

    from shaha_spark.operators.timeseries import ewma

    df = spark.createDataFrame([(1, 0, 1.0)], "uid int, t int, v double")
    with pytest.raises(ValueError, match="alpha"):
        ewma(df, ["uid"], ["t"], "v", alpha=0.0)
    with pytest.raises(ValueError, match="horizon"):
        ewma(df, ["uid"], ["t"], "v", horizon=-1)
