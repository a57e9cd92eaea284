"""Edge-case tests for the late-round-3 batch: nearest_join tie and
tolerance rules, CDC snapshot delete semantics, and the two-stage ANN
variants (SQ8 ADC, Matryoshka prefix re-rank).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from shaha_spark.operators.joins import nearest_join
from shaha_spark.operators.timeseries import cdc_apply


def _left(spark, rows):
    return spark.createDataFrame(
        [Row(user_id=u, event_id=e, tus=t) for u, e, t in rows],
        "user_id bigint, event_id bigint, tus bigint",
    )


def test_nearest_join_picks_closest_either_direction(spark):
    left = _left(spark, [(1, 10, 100)])
    right = _left(spark, [(1, 20, 80), (1, 21, 105)])
    out = nearest_join(
        left, right, "user_id", "tus", tolerance=50,
        right_value_cols=["event_id"], order_col="event_id",
    ).collect()
    assert len(out) == 1
    r = out[0]
    # 105 is 5 away, 80 is 20 away -> forward match wins
    assert r.near_event_id == 21 and r.near_tus == 105 and r.near_delta == 5


def test_nearest_join_equidistant_tie_resolves_backward(spark):
    left = _left(spark, [(1, 10, 100)])
    right = _left(spark, [(1, 20, 90), (1, 21, 110)])
    out = nearest_join(
        left, right, "user_id", "tus", tolerance=50,
        right_value_cols=["event_id"], order_col="event_id",
    ).collect()
    assert len(out) == 1
    assert out[0].near_event_id == 20 and out[0].near_delta == 10


def test_nearest_join_equal_timestamp_counts_as_backward(spark):
    left = _left(spark, [(1, 10, 100)])
    right = _left(spark, [(1, 20, 100)])
    out = nearest_join(
        left, right, "user_id", "tus", tolerance=0,
        right_value_cols=["event_id"], order_col="event_id",
    ).collect()
    assert len(out) == 1
    assert out[0].near_event_id == 20 and out[0].near_delta == 0


def test_nearest_join_tolerance_drops_far_and_unmatched(spark):
    left = _left(spark, [(1, 10, 100), (2, 11, 100)])
    right = _left(spark, [(1, 20, 500)])  # 400 away; user 2 has none
    out = nearest_join(
        left, right, "user_id", "tus", tolerance=100,
        right_value_cols=["event_id"], order_col="event_id",
    ).collect()
    assert out == []


def test_nearest_join_keys_never_cross(spark):
    left = _left(spark, [(1, 10, 100)])
    right = _left(spark, [(2, 20, 100)])
    out = nearest_join(
        left, right, "user_id", "tus", tolerance=1000,
        right_value_cols=["event_id"], order_col="event_id",
    ).collect()
    assert out == []


def _changelog(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, tus=t, event_id=e, op=op, value=v) for k, t, e, op, v in rows],
        "k bigint, tus bigint, event_id bigint, op string, value double",
    )


def test_cdc_apply_latest_delete_removes_key(spark):
    ch = _changelog(
        spark,
        [(1, 10, 1, "upsert", 1.0), (1, 20, 2, "delete", 0.0),
         (2, 10, 3, "upsert", 2.0)],
    )
    out = {r.k: r for r in cdc_apply(
        ch, ["k"], "tus", "op", ["value"], "event_id"
    ).collect()}
    assert 1 not in out
    assert out[2].value == 2.0 and out[2].last_op == "upsert"


def test_cdc_apply_upsert_after_delete_resurrects(spark):
    ch = _changelog(
        spark, [(1, 10, 1, "delete", 0.0), (1, 20, 2, "upsert", 5.0)]
    )
    out = cdc_apply(ch, ["k"], "tus", "op", ["value"], "event_id").collect()
    assert len(out) == 1 and out[0].value == 5.0 and out[0].last_tus == 20


def test_cdc_apply_same_ts_tiebreaks_on_tie_col(spark):
    ch = _changelog(
        spark, [(1, 10, 1, "upsert", 1.0), (1, 10, 2, "upsert", 2.0)]
    )
    out = cdc_apply(ch, ["k"], "tus", "op", ["value"], "event_id").collect()
    assert len(out) == 1 and out[0].value == 2.0


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _queries(emb):
    return emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_sq_topk_self_match_rank1(emb):
    from shaha_spark.operators.embeddings import sq_topk

    out = sq_topk(emb, _queries(emb), m=20, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        top = min(rs, key=lambda r: r.rank)
        # the query IS a corpus vector: exact re-rank must surface it first
        assert top.vec_id == q and top.cosine == 1.0
        assert len(rs) == 5
        ranks = sorted(r.rank for r in rs)
        assert ranks == [1, 2, 3, 4, 5]


def test_sq_adc_matches_numpy(emb):
    """The ADC integer dot must equal an independent numpy computation
    of the same quantization formula."""
    import numpy as np

    from shaha_spark.operators.embeddings import dim_stats, sq_code_arrays, sq_topk

    stats = dim_stats(emb, "embedding")
    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    mn = np.array([s[0] for s in stats])
    span = np.array([s[1] - s[0] for s in stats])

    def codes(v):
        with np.errstate(divide="ignore", invalid="ignore"):
            c = np.floor((v - mn) / span * 256.0)
        c = np.where(span == 0.0, 0.0, np.clip(c, 0, 255))
        return c.astype(np.int64)

    out = sq_topk(emb, _queries(emb), m=20, k=5).collect()
    for r in out:
        expect = int((codes(rows[r.vec_id]) - 128) @ (codes(rows[r.query_id]) - 128))
        assert r.adc == expect


def test_prefix_topk_self_match_and_candidate_discipline(emb):
    from shaha_spark.operators.similarity import prefix_topk

    out = prefix_topk(emb, _queries(emb), prefix_dims=8, m=20, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert by_q, "no results"
    for q, rs in by_q.items():
        top = min(rs, key=lambda r: r.rank)
        # prefix of the query trivially matches itself -> survives stage A
        assert top.vec_id == q and top.cosine == 1.0 and top.prefix_cosine == 1.0
        scores = [r.cosine for r in sorted(rs, key=lambda r: r.rank)]
        assert scores == sorted(scores, reverse=True)


def test_ndcg_known_values(spark):
    """Hand-computed nDCG@3 with harmonic discount: perfect ranking ->
    1.0; self-only overlap -> first-term fraction; empty overlap -> 0."""
    from decimal import ROUND_HALF_UP, Decimal

    from shaha_spark.operators.similarity import ndcg_at_k, ndcg_ideal

    def mk(rows):
        return spark.createDataFrame(
            [Row(query_id=q, vec_id=v, rank=r) for q, v, r in rows],
            "query_id bigint, vec_id bigint, rank bigint",
        )

    exact = mk([(1, 10, 1), (1, 11, 2), (1, 12, 3),
                (2, 20, 1), (2, 21, 2), (2, 22, 3)])
    # q1: perfect; q2: only the top item retrieved, rest misses
    approx = mk([(1, 10, 1), (1, 11, 2), (1, 12, 3),
                 (2, 20, 1), (2, 99, 2), (2, 98, 3)])
    got = {r.query_id: r.ndcg for r in ndcg_at_k(exact, approx, 3).collect()}
    assert got[1] == 1.0
    ideal = ndcg_ideal(3)

    def q9(x):
        return Decimal(x).quantize(Decimal("1e-9"), ROUND_HALF_UP)

    expect2 = float(q9(3.0 / 2.0)) / ideal
    assert got[2] == round(expect2, 6)
    # disjoint result set scores exactly zero
    approx0 = mk([(2, 97, 1), (2, 98, 2), (2, 99, 3)])
    z = ndcg_at_k(exact.where("query_id = 2"), approx0, 3).collect()
    assert z[0].ndcg == 0.0


def test_pair_counts_bounded_expansion(spark):
    from shaha_spark.operators.basket import basket_rules, pair_counts

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (1, "a"),   # dup item counts once
         (2, "a"), (2, "b"),
         (3, "a"), (3, "b"),
         (4, "c")],                                # singleton: no pairs
        "basket bigint, item string",
    )
    pc = {(r.item_a, r.item_b): r.n_pair
          for r in pair_counts(df, "basket", "item").collect()}
    assert pc == {("a", "b"): 3, ("a", "c"): 1, ("b", "c"): 1}

    rules = basket_rules(df, "basket", "item", min_pair_count=2, top=5).collect()
    assert len(rules) == 1
    r = rules[0]
    # 4 baskets; a in 3, b in 3, (a,b) in 3
    assert (r.item_a, r.item_b, r.n_pair) == ("a", "b", 3)
    assert r.support == 0.75
    assert r.confidence == 1.0
    assert r.lift == round(3 * 4 / (3 * 3), 9)


def test_null_basket_keys_are_not_a_basket(spark):
    """A NULL transaction key identifies no transaction: groupBy would
    otherwise collect every null-key row into ONE mega-basket and
    fabricate co-occurrence pairs across unrelated rows."""
    from shaha_spark.operators.basket import (
        basket_rules,
        pair_counts,
        set_similarity_join,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"),
         (None, "x"), (None, "y"), (None, "z")],   # orphan rows
        "basket bigint, item string",
    )
    pc = {(r.item_a, r.item_b): r.n_pair
          for r in pair_counts(df, "basket", "item").collect()}
    assert pc == {("a", "b"): 1}  # no fabricated x/y/z pairs

    rules = basket_rules(df, "basket", "item", min_pair_count=1, top=5).collect()
    assert [(r.item_a, r.item_b) for r in rules] == [("a", "b")]
    assert rules[0].support == 1.0  # 1 basket total: nulls don't count

    sims = set_similarity_join(
        df.union(df.where("basket = 1").withColumn("basket", F.lit(2))),
        "basket", "item", threshold=0.5,
    ).collect()
    assert [(r.basket_a, r.basket_b) for r in sims] == [(1, 2)]


def test_basket_rules_plan_single_scan_no_eager_count(spark):
    """basket_rules must not run a driver-side count at plan-build
    time, and the three branches (pairs, item counts, basket total)
    must reuse one exchange over the basket aggregation."""
    from shaha_spark.operators.basket import basket_rules

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b")], "basket bigint, item string"
    )
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    plan_df = basket_rules(df, "basket", "item", min_pair_count=1, top=5)
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before), "plan construction ran a Spark job"
    rows = plan_df.collect()
    assert {(r.item_a, r.item_b) for r in rows} == {("a", "b")}


def test_cumulative_distinct_first_seen_semantics(spark):
    from shaha_spark.operators.timeseries import cumulative_distinct

    df = spark.createDataFrame(
        [(1, "d1"), (1, "d2"), (2, "d1"), (3, "d2"), (3, "d3"), (4, "d3")],
        "user bigint, day string",
    )
    out = {r.day: (r.new_keys, r.cum_keys)
           for r in cumulative_distinct(df, "user", "day").collect()}
    # returning users never recount
    assert out == {"d1": (2, 2), "d2": (1, 3), "d3": (1, 4)}


def test_classification_report_known_counts(spark):
    from shaha_spark.operators.classifier import classification_report

    df = spark.createDataFrame(
        [(0.9, True), (0.8, False), (0.3, True), (0.1, False), (0.6, True)],
        "quality_prob double, label boolean",
    )
    r = classification_report(df, "label").collect()[0]
    assert (r.tp, r.fp, r.fn, r.tn) == (2, 1, 1, 1)
    assert r.precision == round(2 / 3, 9)
    assert r.recall == round(2 / 3, 9)
    assert r.f1 == round(4 / 6, 9)
    assert r.accuracy == 0.6
    # degenerate: nothing predicted positive -> 0.0 ratios, not null
    r0 = classification_report(df, "label", threshold=1.1).collect()[0]
    assert r0.tp == 0 and r0.precision == 0.0 and r0.f1 == 0.0


def test_calibration_bins_equal_width_semantics(spark):
    from shaha_spark.operators.classifier import calibration_bins

    df = spark.createDataFrame(
        [(0.05, False), (0.07, False), (0.95, True), (0.99, True),
         (1.0, True), (0.55, True), (0.52, False)],
        "quality_prob double, label boolean",
    )
    out = {r.bin: r for r in calibration_bins(df, "label").collect()}
    assert set(out) == {0, 5, 9}
    assert out[0].n == 2 and out[0].pos_rate == 0.0
    assert out[5].n == 2 and out[5].pos_rate == 0.5
    # p = 1.0 clamps into the top bin rather than bin 10
    assert out[9].n == 3 and out[9].pos_rate == 1.0


def test_roc_auc_known_values(spark):
    from shaha_spark.operators.classifier import roc_auc

    def mk(rows):
        return spark.createDataFrame(
            rows, "quality_prob double, label boolean"
        )

    # one tie pair at half credit: pairs (.9>.7), (.9>.8), (.8>.7)=1
    # each, (.8 vs .8)=0.5 -> 3.5/4
    r = roc_auc(mk([(0.9, True), (0.8, True), (0.8, False), (0.7, False)]),
                "label").collect()[0]
    assert (r.auc, r.n_pos, r.n_neg) == (0.875, 2, 2)
    # perfect separation / perfect inversion
    assert roc_auc(mk([(0.9, True), (0.1, False)]), "label").collect()[0].auc == 1.0
    assert roc_auc(mk([(0.1, True), (0.9, False)]), "label").collect()[0].auc == 0.0
    # degenerate single-class input reports 0.0, not null
    assert roc_auc(mk([(0.5, True)]), "label").collect()[0].auc == 0.0


# ------------------------------------------------------- plan shapes

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_nearest_join_plan_no_join_no_following_frame(spark):
    """Locks the O(n²) fix: the forward pass must never compile to an
    UNBOUNDED FOLLOWING frame (Spark rescans to partition end per row
    for those — measured 57× on a 10% hot key), and the whole operator
    stays join-free with ONE hash shuffle."""
    from shaha_spark.catalog import queries

    plan = _plan(queries()["events_nearest_join"](spark, SF))
    assert "UNBOUNDED FOLLOWING" not in plan.upper()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


def test_sq_topk_plan_candidate_shuffle_is_narrow(spark):
    """Stage A's top-m exchange must move (query_id, id, adc) — never
    the raw vectors; re-rank joins are broadcast; WindowGroupLimit
    prunes per-partition before the shuffle."""
    from shaha_spark.catalog import queries

    plan = _plan(queries()["emb_sq_topk"](spark, SF))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    ex = [
        seg for seg in plan.split("\n")
        if "Exchange hashpartitioning" in seg
    ]
    assert ex, "expected the top-m/top-k window exchanges"
    assert not any("embedding" in seg for seg in ex)


def test_cdc_and_cube_plans_single_pass(spark):
    from shaha_spark.catalog import queries

    plan = _plan(queries()["events_cdc_snapshot"](spark, SF))
    assert "WindowGroupLimit" in plan  # argmax prunes to per-key head
    assert "EvalPython" not in plan

    plan = _plan(queries()["events_cube"](spark, SF))
    assert "Expand" in plan  # grouping sets in one pass, no rescans
    assert plan.count("Scan parquet") == 1


def test_auc_plan_window_runs_over_buckets_not_rows(spark):
    """The single-partition window input must be the distinct-score
    bucket aggregate, never the raw scored rows: a hash-agg (with its
    exchange) sits BELOW the single-partition exchange."""
    from shaha_spark.catalog import queries

    plan = _plan(queries()["docs_auc"](spark, SF))
    below = plan.split("Exchange SinglePartition")[-1]
    assert "HashAggregate" in below
    assert "Exchange hashpartitioning" in below


def test_welch_t_known_values(spark):
    """Hand-computed Welch t on a tiny frame, plus degenerate guards."""
    import math

    from shaha_spark.operators.profile import welch_t

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 5.0), ("b", 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_t(df, "g", "v", "a", "b").collect()[0]
    assert (r.n_a, r.n_b) == (3, 2)
    assert r.mean_a == 2.0 and r.mean_b == 6.0
    # va=1, vb=2 -> se = sqrt(1/3 + 1) ; t = -4/se
    expect = -4.0 / math.sqrt(1.0 / 3.0 + 1.0)
    assert abs(r.t_stat - expect) < 1e-9
    # single-row group -> 0.0, never null/inf
    df2 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "g string, v double")
    assert welch_t(df2, "g", "v", "a", "b").collect()[0].t_stat == 0.0


def test_psi_identical_and_shifted(spark):
    """Identical distributions score ~0; a hard shift scores large;
    both sides' totals are reported."""
    from shaha_spark.operators.profile import psi

    a = spark.range(1000).select((F.col("id") % 100).alias("x"))
    same = psi(a, a, "x", bins=10).collect()[0]
    assert same.psi == 0.0 and same.n_a == 1000 and same.n_b == 1000
    b = spark.range(1000).select((F.col("id") % 100 + 1000).alias("x"))
    shifted = psi(a, b, "x", bins=10).collect()[0]
    assert shifted.psi > 1.0  # textbook threshold for "major drift" is 0.25
    assert shifted.n_bins_used <= 10


def test_triangle_count_known_graphs(spark):
    from shaha_spark.operators.graph import triangle_count

    def mk(edges):
        return spark.createDataFrame(edges, "src bigint, dst bigint")

    # K4: 4 triangles; duplicate/reversed/self edges must not inflate
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    k4 += [(1, 1), (2, 2)]
    r = triangle_count(mk(k4)).collect()[0]
    assert (r.n_triangles, r.n_nodes, r.n_edges) == (4, 4, 6)
    # star (hub + leaves): wedges everywhere, zero closures
    star = [(0, i) for i in range(1, 8)]
    assert triangle_count(mk(star)).collect()[0].n_triangles == 0
    # closing one leaf pair creates exactly one triangle
    assert triangle_count(mk(star + [(1, 2)])).collect()[0].n_triangles == 1


def test_trigram_fuzzy_pairs_blocking_semantics(spark):
    from shaha_spark.operators.dedup import trigram_fuzzy_pairs

    df = spark.createDataFrame(
        [("spark",), ("spork",), ("sparks",), ("fizz",), ("buzz",), ("ab",)],
        "word string",
    )
    got = {(r.v_a, r.v_b): r.dist
           for r in trigram_fuzzy_pairs(df, "word", max_dist=2).collect()}
    # spark/spork share 'spo'? no — they share no trigram ('spa','par',
    # 'ark' vs 'spo','por','ork'): blocked OUT (recall-oriented screen);
    # spark/sparks share 'spa','par','ark' and dist=1: found
    assert ("spark", "sparks") in got and got[("spark", "sparks")] == 1
    assert ("spark", "spork") not in got
    # dissimilar words sharing nothing never pair; short words skipped
    assert not any("fizz" in p or "buzz" in p or "ab" in p for p in got)


def test_set_similarity_join_known_sets(spark):
    from shaha_spark.operators.basket import set_similarity_join

    rows = [
        # baskets: A={1,2,3,4}, B={1,2,3,5}  -> J = 3/5 = 0.6
        #          C={1,2}                    -> J(A,C)=2/4=0.5 (kept at t=0.5)
        #          D={9}                      -> no qualifying pair
        (10, 1), (10, 2), (10, 3), (10, 4),
        (20, 1), (20, 2), (20, 3), (20, 5),
        (30, 1), (30, 2),
        (40, 9),
    ]
    df = spark.createDataFrame(rows, "b bigint, it bigint")
    got = {(r.basket_a, r.basket_b): (r.inter, r.n_union, r.jaccard)
           for r in set_similarity_join(df, "b", "it", 0.5).collect()}
    assert got[(10, 20)] == (3, 5, 0.6)
    assert got[(10, 30)] == (2, 4, 0.5)
    assert got[(20, 30)] == (2, 4, 0.5)
    assert len(got) == 3  # D pairs with nothing; no sub-threshold row


def test_mad_outliers_robust_vs_zscore_masking(spark):
    """The scenario z-scores fail: one huge outlier inflates stddev so
    |z| of a second, smaller outlier shrinks below threshold — MAD
    still flags both. Hand-checked values."""
    import statistics

    from shaha_spark.operators.profile import mad_outliers

    vals = [10.0] * 9 + [11.0] * 9 + [1000.0, 50.0]
    rows = [("a", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, id bigint, v double")
    got = {r.id for r in mad_outliers(df, "g", "v", "id", k=3.0).collect()}
    assert 18 in got and 19 in got  # both outliers flagged
    assert got == {18, 19}
    # the masking claim is real: classical z of 50.0 here is < 1
    mean, sd = statistics.mean(vals), statistics.pstdev(vals)
    assert abs((50.0 - mean) / sd) < 1.0


def test_mad_outliers_degenerate_mad_zero(spark):
    from shaha_spark.operators.profile import mad_outliers

    rows = [("g", i, 5.0) for i in range(10)] + [("g", 99, 5.1)]
    df = spark.createDataFrame(rows, "g string, id bigint, v double")
    got = mad_outliers(df, "g", "v", "id").collect()
    # MAD = 0: any deviation from the median flags (strict reading)
    assert [r.id for r in got] == [99] and got[0].mad == 0.0


def test_mean_shift_detects_level_change(spark):
    from pyspark.sql import Row as _R

    from shaha_spark.operators.timeseries import mean_shift_points

    # flat 0s then flat 100s, 1 us apart; 4-us windows, >=3 points
    rows = [_R(k="a", tus=i, value=0.0) for i in range(6)]
    rows += [_R(k="a", tus=i, value=100.0) for i in range(6, 12)]
    df = spark.createDataFrame(rows, "k string, tus bigint, value double")
    got = {r.tus: r.shift for r in mean_shift_points(
        df, "k", "tus", "value", window_us=4, min_points=3, threshold=50.0
    ).collect()}
    # the boundary row (first of the new level) sees clean windows
    assert got.get(6) == 100.0
    # deep inside either level no shift fires
    assert 1 not in got and 10 not in got
    # no change, no flags
    flat = spark.createDataFrame(
        [_R(k="a", tus=i, value=5.0) for i in range(12)],
        "k string, tus bigint, value double",
    )
    assert mean_shift_points(
        flat, "k", "tus", "value", window_us=4, min_points=3, threshold=0.1
    ).count() == 0


def test_mean_shift_timestamp_column_uses_microsecond_frames(spark):
    """A timestamp ts column cast('long') yields SECONDS while
    window_us is MICROSECONDS — the frames would silently widen 1e6×
    and pull distant history into every window. The timestamp path
    must agree exactly with the long-micros path."""
    from pyspark.sql import Row as _R

    from shaha_spark.operators.timeseries import mean_shift_points

    # an old burst 1000 s in the past would contaminate the 'before'
    # frame of the level change if the frame were seconds-wide
    rows = [_R(k="a", tus=-1_000_000_000 + i * 10_000_000, value=77.0)
            for i in range(3)]
    rows += [_R(k="a", tus=i * 10_000_000, value=0.0) for i in range(3)]
    rows += [_R(k="a", tus=(3 + i) * 10_000_000, value=100.0) for i in range(3)]
    df = spark.createDataFrame(rows, "k string, tus bigint, value double")
    kwargs = dict(window_us=30_000_000, min_points=3, threshold=50.0)
    expected = {
        r.tus: (r.mean_before, r.mean_after, r.shift)
        for r in mean_shift_points(df, "k", "tus", "value", **kwargs).collect()
    }
    assert expected, "fixture must produce at least one shift"
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_df = df.select("k", F.timestamp_micros("tus").alias("ts"), "value")
    got = {
        r.ts: (r.mean_before, r.mean_after, r.shift)
        for r in mean_shift_points(ts_df, "k", "ts", "value", **kwargs).collect()
    }
    assert {int(k.timestamp() * 1_000_000): v for k, v in got.items()} == expected


def test_weighted_quantile_known_values(spark):
    from shaha_spark.operators.profile import weighted_quantile

    # values 1..4 with weights 1,1,1,7 (total 10): half the mass sits
    # at value 4 -> weighted median 4; the unweighted median would be 2.5
    df = spark.createDataFrame(
        [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 1.0), ("g", 4.0, 7.0)],
        "g string, v double, w double",
    )
    r = weighted_quantile(df, "g", "v", "w", 0.5).collect()[0]
    assert r.wq50 == 4.0 and r.total_weight == 10.0
    # uniform weights reduce to the plain type-1 median
    u = spark.createDataFrame(
        [("g", float(v), 1.0) for v in [10, 20, 30, 40]],
        "g string, v double, w double",
    )
    assert weighted_quantile(u, "g", "v", "w", 0.5).collect()[0].wq50 == 20.0


def test_interval_union_length_known_cases(spark):
    from shaha_spark.operators.timeseries import interval_union_length

    rows = [
        # key 1: [0,10) + [5,20) merge to [0,20); [30,40) separate
        (1, 0, 10), (1, 5, 20), (1, 30, 40),
        # key 2: adjacent [0,10) + [10,20): start == prev end -> NOT >
        # prev max end, so they merge (half-open adjacency)
        (2, 0, 10), (2, 10, 20),
        # key 3: containment
        (3, 0, 100), (3, 10, 20),
    ]
    df = spark.createDataFrame(rows, "k bigint, s bigint, e bigint")
    got = {r.k: (r.n_intervals, r.n_merged, r.covered_us)
           for r in interval_union_length(df, "k", "s", "e").collect()}
    assert got[1] == (3, 2, 30)
    assert got[2] == (2, 1, 20)
    assert got[3] == (2, 1, 100)


def test_k_core_invariants_and_known_graph(spark):
    from shaha_spark.operators.graph import k_core

    def mk(edges):
        return spark.createDataFrame(edges, "src bigint, dst bigint")

    # triangle (0,1,2) + pendant chain 2-3-4: 2-core = the triangle
    g = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)]
    core = sorted(r.node for r in k_core(mk(g), 2).collect())
    assert core == [0, 1, 2]
    # 1-core keeps everything with at least one edge
    assert sorted(r.node for r in k_core(mk(g), 1).collect()) == [0, 1, 2, 3, 4]
    # cascade: a path graph has NO 2-core (peeling unravels end to end)
    path = [(i, i + 1) for i in range(10)]
    assert k_core(mk(path), 2).count() == 0

    # invariant pair on a random graph: every survivor has >= k
    # surviving neighbors; every dropped node has < k inside the core
    import collections
    import random

    rng = random.Random(13)
    g2 = list({(min(a, b), max(a, b)) for a, b in
               ((rng.randint(0, 40), rng.randint(0, 40)) for _ in range(120))
               if a != b})
    kk = 3
    core2 = {r.node for r in k_core(mk(g2), kk).collect()}
    nbrs = collections.defaultdict(set)
    for a, b in g2:
        nbrs[a].add(b)
        nbrs[b].add(a)
    for n in core2:
        assert len(nbrs[n] & core2) >= kk, n
    for n in set(nbrs) - core2:
        assert len(nbrs[n] & core2) < kk, n


def test_rank_fusion_known_values(spark):
    from shaha_spark.operators.similarity import rank_fusion

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id bigint, rank bigint")

    # doc 1 ranks 1st in both; doc 2 only in A; doc 3 only in B (same
    # rank as doc 2 -> tie broken by id); doc 4 low in both
    a = mk([(1, 1), (2, 2), (4, 3)])
    b = mk([(1, 1), (3, 2), (4, 3)])
    out = rank_fusion(a, b, "doc_id", k=60, top=10).collect()
    order = [r.doc_id for r in out]
    assert order[0] == 1          # present in both at rank 1
    assert order[1] == 4          # both lists rank 3 beats single rank 2
    assert order[2:] == [2, 3]    # equal single-list scores -> id tiebreak
    s = {r.doc_id: r.rrf_score for r in out}
    assert s[1] == round(1 / 61, 9) * 2
    assert s[2] == s[3] == round(1 / 62, 9)


def test_kaplan_meier_textbook_example(spark):
    import pytest as _pt

    from shaha_spark.operators.timeseries import kaplan_meier

    # durations (event=1 observed, 0 censored):
    # t=5 death (n=6) -> 5/6; t=6 censored; t=8 two deaths (n=4)
    # -> 5/6 * 2/4; t=10 censored; t=12 death (n=1, everyone) -> 0
    rows = [(5, 1), (6, 0), (8, 1), (8, 1), (10, 0), (12, 1)]
    df = spark.createDataFrame(rows, "dur bigint, ev int")
    got = {r.t: r for r in kaplan_meier(df, "dur", "ev").collect()}
    assert set(got) == {5, 8, 12}  # censored-only times don't emit
    assert got[5].at_risk == 6 and got[5].deaths == 1
    assert got[5].survival == _pt.approx(5 / 6, abs=1e-6)
    assert got[8].at_risk == 4 and got[8].deaths == 2
    assert got[8].survival == _pt.approx(5 / 6 * 0.5, abs=1e-6)
    assert got[12].at_risk == 1 and got[12].survival == 0.0
    # all-censored input yields an empty curve, not an error
    cens = spark.createDataFrame([(5, 0), (7, 0)], "dur bigint, ev int")
    assert kaplan_meier(cens, "dur", "ev").count() == 0
