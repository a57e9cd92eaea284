"""Randomized differential tests for nearest_join and cdc_apply: the
EXACT oracle SQL the driver will run (registered in shaha_spark.catalog) against the
Spark operators, over seeded random event frames with forced ties —
simultaneous click+purchase, equidistant neighbours, same-timestamp
changelog collisions, keys with no match.
"""

from __future__ import annotations

import math
import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from shaha_spark.catalog import oracle_sql
from shaha_spark.operators.joins import nearest_join
from shaha_spark.operators.timeseries import cdc_apply

SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, tus bigint, "
    "value double, props string"
)

MIN_US = 60_000_000


def _random_events(seed: int, n: int = 500) -> pd.DataFrame:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        user = rng.randint(1, 8)
        etype = rng.choice(
            ["click", "click", "purchase", "purchase", "error", "view"]
        )
        # dense bursts with forced exact ties and symmetric offsets so
        # the equidistant tiebreak actually fires
        base = rng.choice([0, 5 * MIN_US, 30 * MIN_US, 300 * MIN_US])
        off = rng.choice([0, 0, MIN_US, 2 * MIN_US, -MIN_US, 7 * MIN_US])
        rows.append(
            (
                i,
                user,
                etype,
                max(0, base + off),
                round(rng.uniform(-50, 50), 2),
                "{}",
            )
        )
    return pd.DataFrame(
        rows,
        columns=["event_id", "user_id", "event_type", "tus", "value", "props"],
    )


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    return v


def _sorted_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted([tuple(_norm(r[i]) for i in order) for r in rows], key=repr)


def _duck(pdf: pd.DataFrame):
    con = duckdb.connect()
    con.register("raw", pdf)
    con.execute(
        "CREATE VIEW events AS SELECT event_id, user_id, event_type, "
        "make_timestamp(tus) AS ts, value, props FROM raw"
    )
    return con


def _compare(sdf, con, sql):
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    assert sorted(sdf.columns) == sorted(ocols)
    a = _sorted_rows([tuple(r) for r in sdf.collect()], sdf.columns)
    b = _sorted_rows(res.fetchall(), ocols)
    assert a == b


ORACLES = oracle_sql()


@pytest.mark.parametrize("seed", [11, 12, 13, 14])
def test_nearest_join_random_differential(spark, seed):
    pdf = _random_events(seed)
    ev = spark.createDataFrame(pdf, SCHEMA)
    left = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "tus"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "tus"
    )
    out = nearest_join(
        left, right, "user_id", "tus", tolerance=600_000_000,
        right_value_cols=["event_id"], order_col="event_id",
    )
    _compare(out, _duck(pdf), ORACLES["events_nearest_join"])


@pytest.mark.parametrize("seed", [15, 16, 17])
def test_cdc_snapshot_random_differential(spark, seed):
    pdf = _random_events(seed)
    ev = spark.createDataFrame(pdf, SCHEMA)
    changelog = ev.select(
        "user_id",
        "tus",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        "value",
    )
    out = cdc_apply(
        changelog, ["user_id"], "tus", "op", ["value"], "event_id"
    )
    _compare(out, _duck(pdf), ORACLES["events_cdc_snapshot"])


def _brute_nearest(rows_l, rows_r, tol):
    """Pure-python reference: per left row, nearest right row within
    tol; equal distance -> earlier; same-ts right rows count as
    backward with the LARGEST order value winning among ties."""
    out = []
    for (u, e, t) in rows_l:
        cands = [(ru, re, rt) for (ru, re, rt) in rows_r if ru == u]
        if not cands:
            continue
        back = [(rt, re) for (_, re, rt) in cands if rt <= t]
        fwd = [(rt, re) for (_, re, rt) in cands if rt > t]
        prev = max(back, key=lambda x: (x[0], x[1])) if back else None
        nxt = min(fwd, key=lambda x: (x[0], x[1])) if fwd else None
        if prev is not None and (nxt is None or t - prev[0] <= nxt[0] - t):
            pick, delta = prev, t - prev[0]
        elif nxt is not None:
            pick, delta = nxt, nxt[0] - t
        else:
            continue
        if delta <= tol:
            out.append((u, e, t, pick[0], pick[1], delta))
    return sorted(out)


@pytest.mark.parametrize("seed", [21, 22, 23])
def test_nearest_join_vs_pure_python_brute_force(spark, seed):
    """Engine-independent oracle: O(L×R) python reference on small
    random frames with dense ties."""
    rng = random.Random(seed)
    rows_l = [(rng.randint(1, 4), 1000 + i, rng.randint(0, 40))
              for i in range(60)]
    rows_r = [(rng.randint(1, 4), 2000 + i, rng.randint(0, 40))
              for i in range(60)]
    tol = 6
    left = spark.createDataFrame(
        rows_l, "user_id bigint, event_id bigint, tus bigint")
    right = spark.createDataFrame(
        rows_r, "user_id bigint, event_id bigint, tus bigint")
    got = sorted(
        (r.user_id, r.event_id, r.tus, r.near_tus, r.near_event_id, r.near_delta)
        for r in nearest_join(
            left, right, "user_id", "tus", tol,
            ["event_id"], order_col="event_id",
        ).collect()
    )
    assert got == _brute_nearest(rows_l, rows_r, tol)


def test_sq_codes_properties(spark):
    """Quantization invariants on the real embedding table: codes in
    [0,255], dimension-wise monotone, and dequantization error bounded
    by one cell width."""
    import numpy as np

    from shaha_spark.operators.embeddings import dim_stats, sq_code_arrays

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    stats = dim_stats(emb, "embedding")
    coded = {r["vec_id"]: (list(r["embedding"]), list(r["__codes"]))
             for r in sq_code_arrays(emb, stats).collect()}
    mn = np.array([s[0] for s in stats])
    span = np.array([s[1] - s[0] for s in stats])
    cell = np.where(span == 0, 0.0, span / 256.0)
    for vid, (vec, codes) in coded.items():
        c = np.array(codes)
        assert c.min() >= 0 and c.max() <= 255
        # dequantized cell floor is within one cell of the true value
        deq = mn + c * cell
        err = np.abs(np.array(vec, dtype=np.float64) - deq)
        assert (err <= cell + 1e-9).all(), vid
    # monotonicity per dimension: larger input -> >= code
    ids = sorted(coded)
    for p in range(0, len(mn), 16):
        vals = sorted((coded[i][0][p], coded[i][1][p]) for i in ids)
        codes_in_order = [c for _, c in vals]
        assert codes_in_order == sorted(codes_in_order), p


def _duck_plain(pdf: pd.DataFrame, view: str = "events"):
    con = duckdb.connect()
    con.register("raw", pdf)
    con.execute(
        f"CREATE VIEW {view} AS SELECT event_id, user_id, event_type, "
        "make_timestamp(tus) AS ts, value, props FROM raw"
    )
    return con


@pytest.mark.parametrize("seed", [31, 32])
def test_welch_chi2_skew_random_differential(spark, seed):
    """The stats family (Welch t, chi-square, key skew) against the
    driver's exact oracle SQL over seeded random frames — groups with
    wild size imbalance and constant-value stretches."""
    from pyspark.sql import functions as FF

    rng = random.Random(seed)
    rows = []
    for i in range(600):
        u = rng.choice([1] * 10 + list(range(2, 12)))  # heavy key 1
        t = rng.choice(["a", "b", "c", "error"])
        v = rng.choice([5.0, 5.0, round(rng.uniform(-100, 100), 2)])
        rows.append((i, u, t, i * 1000, v, "{}"))
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "user_id", "event_type", "tus", "value", "props"],
    )
    ev = spark.createDataFrame(pdf, SCHEMA)
    con = _duck_plain(pdf)

    from shaha_spark.operators.profile import (
        chi_square,
        key_skew_report,
        welch_t,
    )

    w = welch_t(
        ev.select((F.col("user_id") % 2).alias("cohort"), "value"),
        "cohort", "value", 0, 1,
    )
    _compare(w, con, oracle_sql()["events_ab_welch"])

    c = chi_square(
        ev.select("event_type", (F.col("user_id") % 2).alias("cohort")),
        "event_type", "cohort",
    )
    _compare(c, con, oracle_sql()["events_chi_square"])

    s = key_skew_report(ev.select("user_id"), "user_id", top=5).select(
        "n_rows", "n_keys", "max_count", "max_share", "hhi",
        FF.array_join(
            FF.transform(
                "topk_shares",
                lambda x: x.cast("decimal(12,9)").cast("string"),
            ),
            ",",
        ).alias("topk_shares_str"),
    )
    _compare(s, con, oracle_sql()["events_key_skew"])


@pytest.mark.parametrize("seed", [33, 34])
def test_mad_and_mean_shift_random_differential(spark, seed):
    from shaha_spark.operators.profile import mad_outliers
    from shaha_spark.operators.timeseries import mean_shift_points

    rng = random.Random(seed)
    rows = []
    for i in range(500):
        t = rng.choice(["a", "b"])
        # regime change halfway through for mean-shift signal
        base = 0.0 if i < 250 else 80.0
        v = round(base + rng.uniform(-5, 5), 2)
        rows.append((i, rng.randint(1, 5), t, i * 60_000_000, v, "{}"))
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "user_id", "event_type", "tus", "value", "props"],
    )
    ev = spark.createDataFrame(pdf, SCHEMA)
    con = _duck_plain(pdf)

    m = mad_outliers(
        ev.select("event_type", "event_id", "value"),
        "event_type", "value", "event_id",
    )
    _compare(m, con, oracle_sql()["events_mad_outliers"])

    ms = mean_shift_points(
        ev.select("event_type", "tus", "value"),
        "event_type", "tus", "value",
        window_us=7_200_000_000, min_points=3, threshold=10.0,
    )
    assert ms.count() > 0, "regime change must be detected"
    _compare(ms, con, oracle_sql()["events_mean_shift"])
