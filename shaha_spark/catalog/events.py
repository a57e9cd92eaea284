"""Queries over the ``events`` table and the users it names.

Sessionization, time buckets and rolling windows, statistical tests,
as-of and interval joins, sketches and incremental rollups.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Window, functions as F

from shaha_spark.caching import registers
from shaha_spark.catalog import query
from shaha_spark.catalog._tables import _dec, _events, _t
from shaha_spark.operators.incremental import (
    finalize_rollup,
    incremental_rollup_sql,
    merge_rollup,
    rollup_increment,
)
from shaha_spark.operators.joins import (
    asof_join,
    dedup_keep_latest,
    interval_join,
    nearest_join,
    point_in_time_join,
)
from shaha_spark.operators.layout import zorder_value, zorder_value_sql
from shaha_spark.operators.profile import (
    bootstrap_mean_ci,
    bootstrap_mean_ci_sql,
    chi_square,
    equi_depth_histogram,
    equi_depth_histogram_sql,
    group_quantiles,
    group_quantiles_sql,
    histogram,
    histogram_sql,
    key_skew_report,
    ks_2samp,
    ks_2samp_sql,
    mad_outliers,
    quantile_disc,
    quantile_disc_sql,
    split_cast_double as _split_cast,
    split_cast_double_sql,
    welch_t,
    welch_t_sql,
    winsorize,
    winsorize_sql,
    zscore_outliers,
    zscore_outliers_sql,
)
from shaha_spark.operators.regression import (
    autocorr,
    autocorr_sql,
    ols_fit,
    ols_fit_sql,
)
from shaha_spark.operators.sketch import (
    hll_distinct,
    hll_distinct_sql,
    hll_group_distinct,
    hll_group_distinct_sql,
)
from shaha_spark.operators.skew import salted_broadcast_join, salted_count_sum
from shaha_spark.operators.textops import redact_numbers
from shaha_spark.operators.timeseries import (
    cdc_apply,
    cumulative_distinct,
    debounce,
    debounce_sql,
    ewma,
    ewma_sql,
    gapfill,
    gapfill_sql,
    interval_union_length,
    kaplan_meier,
    mean_shift_points,
    rolling_quantile,
    rolling_quantile_sql,
    scd2_intervals,
    scd2_sql,
    seasonal_profile,
    seasonal_profile_sql,
)


SESSION_GAP_US = 1_800_000_000  # 30 min in microseconds

EVENTS_KS_SQL = ks_2samp_sql(
    "events", "event_type", "value", "click", "purchase"
)


@query("events_ks", oracle=EVENTS_KS_SQL)
def q_events_ks(spark, sf_dir):
    """Two-sample KS drift statistic between the 'click' and
    'purchase' value distributions (operators/profile.py ks_2samp):
    exact-BIGINT ECDF-difference numerator via the bucketed
    distributed prefix sum, one final IEEE division."""
    return ks_2samp(
        _t(spark, sf_dir, "events"), "event_type", "value", "click", "purchase"
    )


EVENTS_BOOTSTRAP_CI_SQL = bootstrap_mean_ci_sql(
    "events", "value", "event_id"
)


@query("events_bootstrap_ci", oracle=EVENTS_BOOTSTRAP_CI_SQL)
def q_events_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap CI of the mean event value
    (operators/profile.py bootstrap_mean_ci): 40 replicate means in
    ONE aggregation pass via hash-derived Poisson(1) weights — the
    at-scale bootstrap. Fully deterministic cross-engine (md5 hex
    slices -> integer inverse-CDF cutoffs -> decimal-exact weighted
    sums -> split-cast divisions -> order statistics)."""
    return bootstrap_mean_ci(
        _t(spark, sf_dir, "events"), "value", "event_id"
    )


#: quantile levels for events_quantile_disc (shared Spark/oracle)
_QDISC_QS = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]

EVENTS_QUANTILE_DISC_SQL = quantile_disc_sql(
    "events", "value", _QDISC_QS
)


@query("events_quantile_disc", oracle=EVENTS_QUANTILE_DISC_SQL)
def q_events_quantile_disc(spark, sf_dir):
    """Exact GLOBAL discrete quantiles of the event value — type-1
    inverse ECDF at rank max(1, ceil(q·n)), the DuckDB quantile_disc
    convention (operators/profile.py quantile_disc). The global rank
    selection runs through the ks_2samp bucketed distributed prefix
    sum — only ≤256 bucket totals cross a single-partition window at
    any scale — and returns data ELEMENTS, so the comparison is
    bit-exact with no float arithmetic anywhere."""
    return quantile_disc(_t(spark, sf_dir, "events"), "value", _QDISC_QS)


#: hour-of-epoch of 2024-01-01 00:00 UTC — fixed literal that rescales
#: event timestamps to a small x domain (DuckDB multiplies DECIMAL(18)
#: per-row products in int64; raw epoch micros would overflow it)
_TREND_EPOCH_H = 473352

EVENTS_TREND_SQL = ols_fit_sql(
    "events",
    "event_type",
    f"(epoch_us(ts) // 3600000000) - {_TREND_EPOCH_H}",
    "value",
)


@query("events_trend", oracle=EVENTS_TREND_SQL)
def q_events_trend(spark, sf_dir):
    """Per-type least-squares trend of event value over time
    (operators/regression.py ols_fit): slope/intercept/r2 from
    decimal-exact moments in ONE hash aggregation — no window, no
    join; x is hours since a fixed epoch literal so every per-row
    product stays in the oracle's int64 decimal domain."""
    ev = _events(spark, sf_dir).withColumn(
        "xh", F.expr("tus DIV 3600000000") - F.lit(_TREND_EPOCH_H)
    )
    return ols_fit(ev, "event_type", "xh", "value")


EVENTS_AUTOCORR_SQL = autocorr_sql(
    "events",
    ["event_type", "user_id"],
    "epoch_us(ts), event_id",
    "value",
    ["event_type"],
    lag=1,
)


@query("events_autocorr", oracle=EVENTS_AUTOCORR_SQL)
def q_events_autocorr(spark, sf_dir):
    """Pooled within-user lag-1 autocorrelation of event values per
    type (operators/regression.py autocorr): pairs form inside
    (event_type, user_id) series windows — data-proportional
    cardinality, never the 5-value label alone — and the Pearson
    moments pool per type in one hash aggregation."""
    return autocorr(
        _events(spark, sf_dir),
        ["event_type", "user_id"],
        ["tus", "event_id"],
        "value",
        ["event_type"],
        lag=1,
    )


EVENTS_EWMA_SQL = ewma_sql(
    "(SELECT *, epoch_us(ts) AS tus FROM events)",
    ["user_id"],
    "tus, event_id",
    "value",
    alpha=0.25,
    horizon=8,
    select="event_id, user_id",
)


@query("events_ewma", oracle=EVENTS_EWMA_SQL)
def q_events_ewma(spark, sf_dir):
    """Per-user time-decayed feature backfill: finite-horizon EWMA of
    event value (operators/timeseries.py ewma — pandas ewm(adjust=True)
    truncated at 8 lags). All weights and partial denominators are
    Python-precomputed double literals and the term chain is a fixed
    left-associated sequence, so both engines replay identical IEEE
    ops; the SQL twin materializes each product behind the window
    boundary to defeat DuckDB's FMA contraction."""
    return ewma(
        _events(spark, sf_dir),
        ["user_id"],
        ["tus", "event_id"],
        "value",
        alpha=0.25,
        horizon=8,
    ).select("event_id", "user_id", "ewma")


EVENTS_ROLLING_MEDIAN_SQL = rolling_quantile_sql(
    "(SELECT *, epoch_us(ts) AS tus FROM events)",
    ["user_id"],
    "tus, event_id",
    "value",
    q=0.5,
    window_rows=7,
    out_col="roll_median",
    select="event_id, user_id",
)


@query("events_rolling_median", oracle=EVENTS_ROLLING_MEDIAN_SQL)
def q_events_rolling_median(spark, sf_dir):
    """Per-user rolling median of event value over the trailing 7
    observed events (operators/timeseries.py rolling_quantile) — the
    robust, outlier-insensitive sibling of events_ewma. Type-1
    quantile (1-based rank max(1, ceil(q·n))), bounded rows frame, one
    window pass per user partition; the result is a data element, so
    cross-engine exactness needs only the single ceil(q·n) multiply."""
    return rolling_quantile(
        _events(spark, sf_dir),
        ["user_id"],
        ["tus", "event_id"],
        "value",
        q=0.5,
        window_rows=7,
    ).select("event_id", "user_id", F.col("rq").alias("roll_median"))


EVENTS_SEASONALITY_SQL = seasonal_profile_sql(
    "events", "epoch_us(ts)", "value"
)


@query("events_seasonality", oracle=EVENTS_SEASONALITY_SQL)
def q_events_seasonality(spark, sf_dir):
    """Day-of-week × hour-of-day seasonal profile of event values
    (operators/timeseries.py seasonal_profile): count, decimal-exact
    mean, and the seasonal index (cell mean / grand mean) per calendar
    cell. Pure integer calendar arithmetic on epoch micros (timezone-
    free, engine-library-free); ONE fact-table aggregation to ≤168
    cells, grand totals from a window over those cells."""
    return seasonal_profile(_events(spark, sf_dir), "tus", "value")


EVENTS_HOURLY_SQL = """SELECT
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
  event_type,
  count(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2"""


@query("events_hourly", oracle=EVENTS_HOURLY_SQL)
def q_events_hourly(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_format(
                F.date_trunc("hour", F.timestamp_micros(F.col("tus"))),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value", "decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


EVENTS_SESSIONIZE_SQL = f"""WITH ordered AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus,
    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > {SESSION_GAP_US}
         THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, tus,
    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM ordered
)
SELECT user_id, session_id, count(*) AS n_events,
       min(tus) AS session_start_us, max(tus) AS session_end_us
FROM sess GROUP BY user_id, session_id"""


@query("events_sessionize", oracle=EVENTS_SESSIONIZE_SQL)
def q_events_sessionize(spark, sf_dir):
    ev = _events(spark, sf_dir).select("user_id", "event_id", "tus")
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gap = F.col("tus") - F.lag("tus").over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("tus").alias("session_start_us"),
        F.max("tus").alias("session_end_us"),
    )


EVENTS_JSON_EXTRACT_SQL = (
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value FROM events"
)


@query("events_json_extract", oracle=EVENTS_JSON_EXTRACT_SQL)
def q_events_json(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


# attribution window for the interval join: 30 minutes in microseconds
ATTRIB_WINDOW_US = 30 * 60 * 1_000_000

EVENTS_ASOF_JOIN_SQL = """WITH su0 AS (
  SELECT user_id, epoch_us(ts) AS tus, event_id, value,
    row_number() OVER (PARTITION BY user_id, epoch_us(ts) ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'signup'
),
su AS (SELECT user_id, tus, event_id, value FROM su0 WHERE rn = 1),
pu AS (
  SELECT event_id, user_id, epoch_us(ts) AS tus
  FROM events WHERE event_type = 'purchase'
)
SELECT pu.event_id, pu.user_id, pu.tus,
  su.tus AS asof_tus, su.event_id AS asof_event_id, su.value AS asof_value
FROM pu ASOF LEFT JOIN su ON pu.user_id = su.user_id AND pu.tus >= su.tus"""


@query("events_asof_join", oracle=EVENTS_ASOF_JOIN_SQL)
def q_events_asof(spark, sf_dir):
    """Attribute each purchase to the user's most recent signup at or
    before it — one union + one window, zero joins (joins.asof_join)."""
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "tus"
    )
    signups = dedup_keep_latest(
        ev.filter(F.col("event_type") == "signup").select(
            "user_id", "tus", "event_id", "value"
        ),
        ["user_id", "tus"],
        "event_id",
    )
    return asof_join(
        purchases, signups, "user_id", "tus", ["event_id", "value"]
    )


EVENTS_INTERVAL_JOIN_SQL = f"""WITH iv AS (
  SELECT event_id AS interval_id, user_id, epoch_us(ts) AS start_us,
    epoch_us(ts) + {ATTRIB_WINDOW_US} AS end_us
  FROM events WHERE event_type = 'signup'
),
pu AS (
  SELECT user_id, epoch_us(ts) AS tus, value
  FROM events WHERE event_type = 'purchase'
)
SELECT iv.interval_id, iv.user_id, count(*) AS n_in_window,
  CAST(SUM(CAST(pu.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM pu JOIN iv ON pu.user_id = iv.user_id
  AND pu.tus >= iv.start_us AND pu.tus < iv.end_us
GROUP BY 1, 2"""


@query("events_interval_join", oracle=EVENTS_INTERVAL_JOIN_SQL)
def q_events_interval(spark, sf_dir):
    """Purchases landing inside each signup's 30-minute attribution
    window, via the bucketed equi-join (joins.interval_join) — never a
    quadratic range join."""
    ev = _events(spark, sf_dir)
    intervals = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("interval_id"),
        "user_id",
        F.col("tus").alias("start_us"),
        (F.col("tus") + F.lit(ATTRIB_WINDOW_US)).alias("end_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "tus", "value"
    )
    joined = interval_join(
        purchases, intervals, "user_id", "tus", max_len=ATTRIB_WINDOW_US
    )
    return joined.groupBy("interval_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_in_window"),
        F.sum(_dec("value", "decimal(18,2)")).cast("double").alias("sum_value"),
    )


EVENTS_ROLLUP_SQL = f"""WITH base AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type, value
  FROM events
)
SELECT coalesce(day, 'ALL') AS day, coalesce(event_type, 'ALL') AS event_type,
  count(*) AS n_events,
  {split_cast_double_sql("SUM(CAST(value AS DECIMAL(18,2)))", 2)} AS sum_value
FROM base GROUP BY ROLLUP (day, event_type)"""


@query("events_rollup", oracle=EVENTS_ROLLUP_SQL)
def q_events_rollup(spark, sf_dir):
    """Time-hierarchy rollup (hypertable continuous-aggregate shape):
    (day, type) → (day) → grand total in one Expand + hash aggregate;
    NULL grouping levels labelled 'ALL' for cross-engine comparability."""
    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format(F.timestamp_micros(F.col("tus")), "yyyy-MM-dd")
    )
    return (
        ev.rollup("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # the grand-total row is a whole-table sum: split-cast so
            # the decimal->double conversion stays cross-engine exact
            # past 2^53 unscaled (operators.profile.split_cast_double)
            _split_cast(F.sum(_dec("value", "decimal(18,2)")), 2).alias(
                "sum_value"
            ),
        )
        .select(
            F.coalesce("day", F.lit("ALL")).alias("day"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n_events",
            "sum_value",
        )
    )


EVENTS_FUNNEL_SQL = f"""WITH ordered AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus, event_type,
    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > {SESSION_GAP_US}
         THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, event_id, tus, event_type,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
),
st1 AS (
  SELECT *, max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
    OVER (PARTITION BY user_id, session_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS s1
  FROM sess
),
st2 AS (
  SELECT *, max(CASE WHEN event_type = 'click' AND s1 = 1 THEN 1 ELSE 0 END)
    OVER (PARTITION BY user_id, session_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS s2
  FROM st1
),
st3 AS (
  SELECT *, max(CASE WHEN event_type = 'purchase' AND s2 = 1 THEN 1 ELSE 0 END)
    OVER (PARTITION BY user_id, session_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS s3
  FROM st2
),
per_session AS (
  SELECT user_id, session_id, max(s1) + max(s2) + max(s3) AS funnel_stage
  FROM st3 GROUP BY 1, 2
)
SELECT CAST(funnel_stage AS INTEGER) AS funnel_stage, count(*) AS n_sessions
FROM per_session GROUP BY 1"""


@query("events_funnel", oracle=EVENTS_FUNNEL_SQL)
def q_events_funnel(spark, sf_dir):
    """Sessionized funnel: per 30-min-gap session, how far the
    signup → click → purchase sequence progressed (in session order,
    at-or-after semantics), counted by furthest stage. Chained running
    windows over one lineage — no per-stage self-joins."""
    ev = _events(spark, sf_dir).select("user_id", "event_id", "tus", "event_type")
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gap = F.col("tus") - F.lag("tus").over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    ws = (
        Window.partitionBy("user_id", "session_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seen_signup = F.max(
        F.when(F.col("event_type") == "signup", 1).otherwise(0)
    ).over(ws)
    click_after = F.when(
        (F.col("event_type") == "click") & (seen_signup == 1), 1
    ).otherwise(0)
    staged = sess.withColumn("s1", seen_signup).withColumn(
        "s2", F.max(click_after).over(ws)
    )
    purchase_after = F.when(
        (F.col("event_type") == "purchase") & (F.col("s2") == 1), 1
    ).otherwise(0)
    staged = staged.withColumn("s3", F.max(purchase_after).over(ws))
    per_session = staged.groupBy("user_id", "session_id").agg(
        (F.max("s1") + F.max("s2") + F.max("s3")).alias("funnel_stage")
    )
    return per_session.groupBy("funnel_stage").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )


EVENTS_TRANSITIONS_SQL = """WITH nxt AS (
  SELECT event_type,
    coalesce(lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id), 'END') AS next_type
  FROM events
)
SELECT event_type, next_type, count(*) AS n FROM nxt GROUP BY 1, 2"""


@query("events_transitions", oracle=EVENTS_TRANSITIONS_SQL)
def q_events_transitions(spark, sf_dir):
    """First-order transition counts between consecutive event types
    per user (lead window) — the Markov-matrix input for behavior
    modeling; terminal events pair with 'END'."""
    ev = _events(spark, sf_dir).select("user_id", "event_id", "tus", "event_type")
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    nxt = F.coalesce(F.lead("event_type").over(w), F.lit("END"))
    return (
        ev.withColumn("next_type", nxt)
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


EVENTS_HISTOGRAM_SQL = histogram_sql(
    "(SELECT value FROM events)", "value", bins=12
)


@query("events_histogram", oracle=EVENTS_HISTOGRAM_SQL)
def q_events_histogram(spark, sf_dir):
    """Equi-width 12-bin histogram of event values — fixed-width
    shuffle profiling (operators.profile.histogram)."""
    return histogram(_events(spark, sf_dir).select("value"), "value", bins=12)


EVENTS_ZORDER_SQL = zorder_value_sql(
    "(SELECT event_id, user_id, epoch_us(ts) AS tus FROM events)",
    "user_id",
    "tus",
    "event_id",
)


@query("events_zorder", oracle=EVENTS_ZORDER_SQL)
def q_events_zorder(spark, sf_dir):
    """32-bit Morton code over (user_id, event time) — the clustering
    key that bounds every file's bounding box in BOTH dimensions
    (operators.layout.zorder_value); integer-exact, engine-portable."""
    ev = _events(spark, sf_dir).select("event_id", "user_id", "tus")
    return zorder_value(ev, "user_id", "tus").select("event_id", "zval")


#: the closed event-type vocabulary (pivot needs an explicit list to
#: stay a single pass — an unlisted pivot triggers a distinct-scan job)
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_COLS = ",\n  ".join(
    f"count(*) FILTER (WHERE event_type = '{t}') AS \"{t}\""
    for t in EVENT_TYPES
)

EVENTS_PIVOT_SQL = f"""SELECT
  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
  {_PIVOT_COLS}
FROM events GROUP BY 1"""


@query("events_pivot", oracle=EVENTS_PIVOT_SQL)
def q_events_pivot(spark, sf_dir):
    """Long → wide: per-day event counts, one column per type. The
    explicit value list keeps pivot single-pass and the output schema
    static; absent combinations surface as 0, not null."""
    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format(F.timestamp_micros(F.col("tus")), "yyyy-MM-dd")
    )
    wide = (
        ev.groupBy("day")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "day", *[F.coalesce(t, F.lit(0)).alias(t) for t in EVENT_TYPES]
    )


_UNPIVOT_ARMS = "\nUNION ALL\n".join(
    f"SELECT day, '{t}' AS event_type, \"{t}\" AS n_events FROM wide"
    for t in EVENT_TYPES
)

EVENTS_UNPIVOT_SQL = f"""WITH wide AS ({EVENTS_PIVOT_SQL})
{_UNPIVOT_ARMS}"""


@query("events_unpivot", oracle=EVENTS_UNPIVOT_SQL)
def q_events_unpivot(spark, sf_dir):
    """Wide → long (melt): the pivoted table stacked back to
    (day, event_type, n_events) — zeros kept, so pivot∘unpivot is the
    dense day×type grid."""
    wide = q_events_pivot(spark, sf_dir)
    return wide.unpivot(
        ids=["day"],
        values=EVENT_TYPES,
        variableColumnName="event_type",
        valueColumnName="n_events",
    )


EVENTS_PERCENTILES_SQL = group_quantiles_sql(
    "events", "event_type", "value", [0.5, 0.95]
)


@query("events_percentiles", oracle=EVENTS_PERCENTILES_SQL)
def q_events_percentiles(spark, sf_dir):
    """Exact p50/p95 of value per event type, explicit-interpolation
    quantiles (operators.profile.group_quantiles)."""
    return group_quantiles(
        _events(spark, sf_dir), "event_type", "value", [0.5, 0.95]
    )


#: rolling feature window: 7 days in microseconds
ROLLING_WINDOW_US = 7 * 24 * 3600 * 1_000_000

EVENTS_ROLLING_SQL = f"""SELECT event_id, user_id, epoch_us(ts) AS tus,
  count(*) OVER w AS n_7d,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_7d
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY epoch_us(ts)
  RANGE BETWEEN {ROLLING_WINDOW_US} PRECEDING AND CURRENT ROW
)"""


@query("events_rolling", oracle=EVENTS_ROLLING_SQL)
def q_events_rolling(spark, sf_dir):
    """Per-user trailing-7-day rolling features (count + exact decimal
    sum) via a RANGE window frame — the standard feature-backfill
    shape: one shuffle on user_id, no self-join."""
    ev = _events(spark, sf_dir).select("event_id", "user_id", "tus", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus")
        .rangeBetween(-ROLLING_WINDOW_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "tus",
        F.count(F.lit(1)).over(w).alias("n_7d"),
        F.sum(_dec("value", "decimal(18,2)")).over(w).cast("double").alias("sum_7d"),
    )


EVENTS_HLL_DISTINCT_SQL = f"""WITH est AS (
  {hll_distinct_sql('events', 'event_id', p=6)}
),
ex AS (SELECT count(DISTINCT event_id) AS exact_distinct FROM events)
SELECT est.hll_estimate, est.n_registers, ex.exact_distinct
FROM est CROSS JOIN ex"""


@query("events_hll_distinct", oracle=EVENTS_HLL_DISTINCT_SQL)
def q_events_hll(spark, sf_dir):
    """Deterministic HyperLogLog distinct estimate (p=6) next to the
    exact count — the sketch is register-exact across engines
    (operators.sketch.hll_distinct)."""
    ev = _events(spark, sf_dir)
    hll = hll_distinct(ev, "event_id", p=6)
    exact = ev.agg(F.countDistinct("event_id").alias("exact_distinct"))
    return hll.crossJoin(F.broadcast(exact))


EVENTS_EQUIDEPTH_SQL = equi_depth_histogram_sql(
    "events", "event_type", "value", "event_id", buckets=8
)


@query("events_equidepth", oracle=EVENTS_EQUIDEPTH_SQL)
def q_events_equidepth(spark, sf_dir):
    """Per-event-type equi-depth histogram (8 equal-count buckets over
    value, event_id tiebreak) — operators.profile.equi_depth_histogram."""
    return equi_depth_histogram(
        _events(spark, sf_dir), "event_type", "value", "event_id", buckets=8
    )


EVENTS_DIM_SALTED_JOIN_SQL = """SELECT c_mktsegment,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1"""


@query("events_dim_salted_join", oracle=EVENTS_DIM_SALTED_JOIN_SQL)
def q_events_dim_salted_join(spark, sf_dir):
    """Skew-proof fact-dim join (operators.skew.salted_broadcast_join):
    events join customer on a salted composite key, aggregated per
    market segment. Salt-invariant — the oracle is the plain join."""
    ev = _events(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer")
    joined = salted_broadcast_join(ev, cust, "user_id", "c_custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_dec("value", "decimal(18,2)")).cast("double").alias("sum_value"),
    )


USERS_HLL_BY_TYPE_SQL = hll_group_distinct_sql(
    "events", "event_type", "user_id", p=6
)


@query("users_hll_by_type", oracle=USERS_HLL_BY_TYPE_SQL)
def q_users_hll_by_type(spark, sf_dir):
    """Per-event-type HLL distinct-user estimates
    (operators.sketch.hll_group_distinct)."""
    return hll_group_distinct(_events(spark, sf_dir), "event_type", "user_id", p=6)


EVENTS_WINSORIZED_SQL = winsorize_sql(
    "events", "event_type", "value", "event_id", 0.05, 0.95
)


@query("events_winsorized", oracle=EVENTS_WINSORIZED_SQL)
def q_events_winsorized(spark, sf_dir):
    """Per-event-type 5/95 quantile clipping
    (operators.profile.winsorize)."""
    return winsorize(
        _events(spark, sf_dir), "event_type", "value", "event_id", 0.05, 0.95
    )


EVENTS_REDACT_SQL = """SELECT event_id,
  regexp_replace(props, '[0-9]+', '<num>', 'g') AS redacted,
  CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g')) AS BIGINT) AS n_digits
FROM events"""


@query("events_redact", oracle=EVENTS_REDACT_SQL)
def q_events_redact(spark, sf_dir):
    """Digit-run redaction over the event props payload — the PII
    scrubbing plumbing (dialect-portable character-class regex)."""
    return redact_numbers(_events(spark, sf_dir), "props", id_col="event_id")


EVENTS_RETENTION_SQL = """WITH e AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM e JOIN c USING (user_id)
GROUP BY 1, 2"""


@query("events_retention", oracle=EVENTS_RETENTION_SQL)
def q_events_retention(spark, sf_dir):
    """Cohort retention matrix: users bucketed by first-seen day,
    activity counted per (cohort, day-offset) cell. Day indices are
    integer epoch-microsecond division — exact in both engines. The
    cohort attaches as a window over the user partition (single
    lineage, one shuffle on user_id) rather than a groupBy fork."""
    ev = _events(spark, sf_dir).select(
        "user_id", F.expr("tus DIV 86400000000").alias("day")
    )
    d = ev.withColumn("cohort_day", F.min("day").over(Window.partitionBy("user_id")))
    return (
        d.select("user_id", "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


EVENTS_OUTLIERS_SQL = zscore_outliers_sql(
    "events", "value", ["event_type"], "event_id", 3.0
)


@query("events_outliers", oracle=EVENTS_OUTLIERS_SQL)
def q_events_outliers(spark, sf_dir):
    """Per-event-type z-score anomaly screen (|z| > 3) with
    decimal-exact moments and a NaN-safe degenerate-group guard."""
    ev = _events(spark, sf_dir)
    return zscore_outliers(ev, "value", ["event_type"], "event_id", z=3.0)


EVENTS_SALTED_AGG_SQL = f"""SELECT event_type,
  count(*) AS n_rows,
  {split_cast_double_sql("SUM(CAST(value AS DECIMAL(18,2)))", 2)} AS sum_value
FROM events GROUP BY event_type"""


@query("events_salted_agg", oracle=EVENTS_SALTED_AGG_SQL)
def q_events_salted_agg(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return salted_count_sum(ev, ["event_type"], "value")


EVENTS_GAPFILL_SQL = gapfill_sql("events")


@query("events_gapfill", oracle=EVENTS_GAPFILL_SQL)
def q_events_gapfill(spark, sf_dir):
    """Dense hourly per-type series with zero-fill and
    last-observation-carried-forward (operators.timeseries.gapfill)."""
    return gapfill(_events(spark, sf_dir))


EVENTS_DEBOUNCE_SQL = debounce_sql("events")


@query("events_debounce", oracle=EVENTS_DEBOUNCE_SQL)
def q_events_debounce(spark, sf_dir):
    """Consecutive-gap debounce: drop (user, type) repeats within 60 s
    of the previous event (operators.timeseries.debounce)."""
    out = debounce(_events(spark, sf_dir))
    return out.select(
        "event_id", "user_id", "event_type", F.col("tus").alias("ts_us")
    )


USERS_SCD2_SQL = scd2_sql("events")


@query("users_scd2", oracle=USERS_SCD2_SQL)
def q_users_scd2(spark, sf_dir):
    """SCD2 dimension history of the props.k attribute per user
    (operators.timeseries.scd2_intervals)."""
    return scd2_intervals(_events(spark, sf_dir))


EVENTS_ROLLUP_INCREMENTAL_SQL = incremental_rollup_sql("events")


@query("events_rollup_incremental", oracle=EVENTS_ROLLUP_INCREMENTAL_SQL)
def q_events_rollup_incremental(spark, sf_dir):
    """Materialized-rollup maintenance proven exact: the events table
    split into three disjoint batches (event_id mod 3), each rolled up
    independently and folded in with two merges — must reproduce the
    oracle's single-pass aggregation bit-for-bit
    (operators.incremental.rollup_increment / merge_rollup)."""
    ev = _events(spark, sf_dir)
    state = rollup_increment(ev.where(F.col("event_id") % 3 == 0))
    for m in (1, 2):
        state = merge_rollup(
            state, rollup_increment(ev.where(F.col("event_id") % 3 == m))
        )
    return finalize_rollup(state)


_SCD_EVEN = scd2_sql("(SELECT * FROM events WHERE event_id % 2 = 0)")

EVENTS_PIT_JOIN_SQL = f"""WITH scd AS ({_SCD_EVEN}),
facts AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_id % 2 = 1
)
SELECT f.event_id, f.user_id, f.ts_us,
  s.valid_from_us AS pit_valid_from_us,
  s.attr AS pit_attr
FROM facts f LEFT JOIN scd s
  ON f.user_id = s.user_id
 AND f.ts_us >= s.valid_from_us
 AND (s.valid_to_us IS NULL OR f.ts_us < s.valid_to_us)"""


@query("events_pit_join", oracle=EVENTS_PIT_JOIN_SQL)
def q_events_pit_join(spark, sf_dir):
    """Point-in-time join: odd events pick up the props.k attribute
    valid at their timestamp from the SCD2 history built over the EVEN
    events (operators.joins.point_in_time_join over
    operators.timeseries.scd2_intervals) — the no-future-leakage
    feature-backfill shape."""
    ev = _events(spark, sf_dir)
    dim = scd2_intervals(ev.where(F.col("event_id") % 2 == 0))
    facts = ev.where(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", F.col("tus").alias("ts_us")
    )
    return point_in_time_join(facts, dim, "user_id", "ts_us", ["attr"])


EVENTS_CUBE_SQL = """WITH base AS (
  SELECT CAST(hour(ts) AS VARCHAR) AS hod, event_type, value FROM events
)
SELECT coalesce(hod, 'ALL') AS hod, coalesce(event_type, 'ALL') AS event_type,
  count(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM base GROUP BY CUBE (hod, event_type)"""


@query("events_cube", oracle=EVENTS_CUBE_SQL)
def q_events_cube(spark, sf_dir):
    """Full CUBE over (hour-of-day, event_type) — the grouping-sets
    surface events_rollup's hierarchy does not cover: the (type-only)
    and (hour-only) marginals come out of the same single Expand +
    hash aggregate."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        F.hour(F.timestamp_micros(F.col("tus"))).cast("string").alias("hod"),
        "event_type",
        "value",
    )
    return (
        base.cube("hod", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value", "decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.coalesce("hod", F.lit("ALL")).alias("hod"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n_events",
            "sum_value",
        )
    )


# mirrors nearest_join's construction step for step: union-tagged
# sides, the same (tus, side, ord) total order, backward
# last(IGNORE NULLS) / forward first(IGNORE NULLS), earlier-wins
# tie rule, tolerance filter
EVENTS_NEAREST_JOIN_SQL = """WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus, event_type FROM events
),
u AS (
  SELECT user_id, tus, 1 AS side, event_id AS ord, event_id,
         CAST(NULL AS BIGINT) AS r_tus, CAST(NULL AS BIGINT) AS r_event_id
  FROM ev WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, tus, 0 AS side, event_id AS ord, NULL AS event_id,
         tus AS r_tus, event_id AS r_event_id
  FROM ev WHERE event_type = 'purchase'
),
res AS (
  SELECT user_id, tus, side, event_id,
    last_value(r_tus IGNORE NULLS) OVER wpast AS prev_tus,
    last_value(r_event_id IGNORE NULLS) OVER wpast AS prev_id,
    first_value(r_tus IGNORE NULLS) OVER wfut AS next_tus,
    first_value(r_event_id IGNORE NULLS) OVER wfut AS next_id
  FROM u
  WINDOW wpast AS (PARTITION BY user_id ORDER BY tus, side, ord
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wfut AS (PARTITION BY user_id ORDER BY tus, side, ord
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
sel AS (
  SELECT user_id, event_id, tus,
    CASE WHEN prev_tus IS NOT NULL AND (next_tus IS NULL OR tus - prev_tus <= next_tus - tus)
         THEN prev_tus ELSE next_tus END AS near_tus,
    CASE WHEN prev_tus IS NOT NULL AND (next_tus IS NULL OR tus - prev_tus <= next_tus - tus)
         THEN prev_id ELSE next_id END AS near_event_id,
    CASE WHEN prev_tus IS NOT NULL AND (next_tus IS NULL OR tus - prev_tus <= next_tus - tus)
         THEN tus - prev_tus ELSE next_tus - tus END AS delta
  FROM res WHERE side = 1
)
SELECT user_id, event_id, tus, near_tus, near_event_id, CAST(delta AS BIGINT) AS near_delta
FROM sel WHERE near_tus IS NOT NULL AND delta <= 600000000"""


@query("events_nearest_join", oracle=EVENTS_NEAREST_JOIN_SQL)
def q_events_nearest_join(spark, sf_dir):
    """Nearest-purchase attribution for every click: closest purchase
    event either direction within 10 minutes, per user; equal-distance
    ties resolve to the earlier purchase
    (operators.joins.nearest_join — zero-join two-window formulation)."""
    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "tus"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "tus"
    )
    return nearest_join(
        left,
        right,
        key_col="user_id",
        time_col="tus",
        tolerance=600_000_000,
        right_value_cols=["event_id"],
        order_col="event_id",
    )


EVENTS_INTERARRIVAL_SQL = """WITH g AS (
  SELECT user_id,
    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
  FROM events
),
gaps AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
r AS (
  SELECT user_id, CAST(gap AS DOUBLE) AS v,
    row_number() OVER (PARTITION BY user_id ORDER BY gap) - 1 AS rn,
    COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM gaps
),
med AS (
  SELECT user_id,
    max(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) THEN v END)
    + (max(CASE WHEN rn = CAST(ceil(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) THEN v END)
       - max(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) THEN v END))
      * max(CAST(n - 1 AS DOUBLE) * 0.5 - floor(CAST(n - 1 AS DOUBLE) * 0.5)) AS median_gap_us
  FROM r GROUP BY user_id
),
m AS (
  -- exact half-up 6-dp mean via integer arithmetic, then one IEEE
  -- double division by 1e6 (bit-identical to the Spark side; see the
  -- determinism note at q_events_interarrival)
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
    CAST((2 * SUM(CAST(gap AS HUGEINT)) * 1000000 + COUNT(*))
         // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS mean_gap_us
  FROM gaps GROUP BY user_id
)
SELECT m.user_id, m.n_gaps, m.mean_gap_us, med.median_gap_us
FROM m JOIN med USING (user_id)"""


@query("events_interarrival", oracle=EVENTS_INTERARRIVAL_SQL)
def q_events_interarrival(spark, sf_dir):
    """Per-user inter-arrival profile: exact median gap (the
    group-quantile recipe) plus decimal-exact mean gap — the
    burstiness readout behind rate limiting and bot screening."""
    ev = _events(spark, sf_dir).select("user_id", "event_id", "tus")
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gaps = ev.withColumn("gap", F.col("tus") - F.lag("tus").over(w)).where(
        F.col("gap").isNotNull()
    )
    med = group_quantiles(gaps, "user_id", "gap", [0.5]).select(
        "user_id", F.col("p50").alias("median_gap_us")
    )
    # mean_gap_us determinism: gaps are ~1e10 us, so round(double, 9)
    # needs 19+ significant digits — beyond double precision, and Spark
    # (BigDecimal HALF_UP) vs DuckDB diverge in the last ULP (r4 red
    # row, 10/150 rows). Instead compute the half-up 6-dp quotient with
    # EXACT integer arithmetic — floor((2*S*1e6 + n) / (2*n)) — then one
    # IEEE double division by the exactly-representable 1e6. Both steps
    # are bit-identical across engines by construction.
    means = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.sum(F.col("gap").cast("decimal(38,0)")).alias("_s"),
        )
        .select(
            "user_id",
            "n_gaps",
            (
                F.expr(
                    "CAST((2 * _s * 1000000 + n_gaps) div (2 * n_gaps)"
                    " AS DOUBLE)"
                )
                / F.lit(1000000.0)
            ).alias("mean_gap_us"),
        )
    )
    return means.join(med, "user_id")


EVENTS_VALUE_PERCENTILE_SQL = """WITH r AS (
  SELECT event_type, event_id, value,
    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
tm AS (
  SELECT event_type, value, MAX(rn) AS tie_max
  FROM r GROUP BY event_type, value
)
SELECT r.event_type, r.event_id, r.value,
  round(CAST(tm.tie_max AS DOUBLE) / CAST(r.n AS DOUBLE), 9) AS cume
FROM r JOIN tm ON r.event_type = tm.event_type AND r.value = tm.value"""


@query("events_value_percentile", oracle=EVENTS_VALUE_PERCENTILE_SQL)
def q_events_value_percentile(spark, sf_dir):
    """Exact quantile normalization: each event's value mapped to its
    empirical CDF position within its event type —
    cume = (#rows with value ≤ v) / n, computed as the max row_number
    per (type, value) so ties share one exact position. The
    feature-engineering step that makes heavy-tailed values
    model-comparable."""
    ev = _events(spark, sf_dir).select("event_type", "event_id", "value")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    ranked = ev.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    ties_max = ranked.groupBy("event_type", "value").agg(
        F.max("__rn").alias("__tie_max")
    )
    return (
        ranked.join(ties_max, ["event_type", "value"])
        .select(
            "event_type",
            "event_id",
            "value",
            F.round(
                F.col("__tie_max").cast("double") / F.col("__n").cast("double"),
                9,
            ).alias("cume"),
        )
    )


EVENTS_AUDIENCE_OVERLAP_SQL = """WITH du AS (
  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events
),
pd AS (SELECT day, COUNT(*) AS n_users FROM du GROUP BY day),
inter AS (
  SELECT a.day AS day, COUNT(*) AS n_both
  FROM du a JOIN du b ON a.user_id = b.user_id AND b.day = a.day + 1
  GROUP BY a.day
)
SELECT CAST(da.day AS BIGINT) AS day,
  CAST(da.n_users AS BIGINT) AS n_day,
  CAST(db.n_users AS BIGINT) AS n_next,
  CAST(COALESCE(i.n_both, 0) AS BIGINT) AS n_both,
  round(CAST(COALESCE(i.n_both, 0) AS DOUBLE)
        / CAST(da.n_users + db.n_users - COALESCE(i.n_both, 0) AS DOUBLE), 9) AS jaccard
FROM pd da
JOIN pd db ON db.day = da.day + 1
LEFT JOIN inter i ON i.day = da.day"""


@query("events_audience_overlap", oracle=EVENTS_AUDIENCE_OVERLAP_SQL)
def q_events_audience_overlap(spark, sf_dir):
    """Day-over-day audience overlap: Jaccard of consecutive days'
    active-user sets — the churn-adjacent stability metric. One
    distinct (day, user) projection, an adjacent-day equi-join
    (day = day+1, never a range join), integer-exact overlap counts."""
    # lazy persist (DISK_ONLY): the distinct (day, user) projection feeds the
    # per-day counts AND both self-join sides — 4 fact scans without
    # the boundary (r9 rescan-lint tightening)
    ev = _events(spark, sf_dir).select(
        (F.col("tus") / F.lit(86_400_000_000)).cast("long").alias("day"),
        "user_id",
    ).distinct().persist(StorageLevel.DISK_ONLY)
    per_day = ev.groupBy("day").agg(F.count(F.lit(1)).alias("n_users"))
    inter = (
        ev.alias("a")
        .join(
            ev.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.day") == F.col("a.day") + 1),
        )
        .groupBy(F.col("a.day").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    da = per_day.select(F.col("day"), F.col("n_users").alias("n_day"))
    db = per_day.select(
        (F.col("day") - 1).alias("day"), F.col("n_users").alias("n_next")
    )

    return registers(
        da.join(db, "day")
        .join(inter, "day", "left")
        .select(
            F.col("day").cast("bigint").alias("day"),
            F.col("n_day").cast("bigint").alias("n_day"),
            F.col("n_next").cast("bigint").alias("n_next"),
            F.coalesce(F.col("n_both"), F.lit(0)).cast("bigint").alias("n_both"),
            F.round(
                F.coalesce(F.col("n_both"), F.lit(0)).cast("double")
                / (
                    F.col("n_day") + F.col("n_next")
                    - F.coalesce(F.col("n_both"), F.lit(0))
                ).cast("double"),
                9,
            ).alias("jaccard"),
        ),
        ev,
    )


EVENTS_STREAKS_SQL = """WITH ordered AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus, event_type,
    CASE WHEN lag(event_type) OVER w IS NULL
           OR lag(event_type) OVER w <> event_type
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
runs AS (
  SELECT user_id, event_type,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
  FROM ordered
),
per_run AS (
  SELECT user_id, event_type, r, COUNT(*) AS len
  FROM runs GROUP BY user_id, event_type, r
)
SELECT user_id, CAST(len AS BIGINT) AS longest_streak,
       event_type AS streak_type
FROM (
  SELECT user_id, len, event_type,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY len DESC, event_type DESC) AS rn
  FROM per_run
) WHERE rn = 1"""


@query("events_streaks", oracle=EVENTS_STREAKS_SQL)
def q_events_streaks(spark, sf_dir):
    """Longest same-type streak per user (gaps-and-islands on VALUE
    change, the complement of gap sessionization): a new island opens
    when the type differs from the previous event; islands number by
    a running sum over the same per-user sort as sessionize."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "tus", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    is_new = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = ev.withColumn(
        "__run",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_run = runs.groupBy("user_id", "event_type", "__run").agg(
        F.count(F.lit(1)).alias("len")
    )
    wpick = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("event_type").desc()
    )
    return (
        per_run.withColumn("__r", F.row_number().over(wpick))
        .where(F.col("__r") == 1)
        .select(
            "user_id",
            F.col("len").cast("bigint").alias("longest_streak"),
            F.col("event_type").alias("streak_type"),
        )
    )


EVENTS_BENFORD_SQL = """WITH c AS (
  SELECT CAST(round(abs(value) * 100) AS BIGINT) AS cents FROM events
),
d AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM c WHERE cents > 0
),
counts AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY digit),
t AS (SELECT SUM(n_obs) AS total FROM counts)
SELECT CAST(digit AS BIGINT) AS digit, CAST(n_obs AS BIGINT) AS n_obs,
  round(CAST(n_obs AS DOUBLE) / CAST(total AS DOUBLE), 9) AS observed_share,
  round(log10(1.0 + 1.0 / digit), 9) AS benford_share
FROM counts CROSS JOIN t"""


@query("events_benford", oracle=EVENTS_BENFORD_SQL)
def q_events_benford(spark, sf_dir):
    """First-significant-digit distribution of |value| vs Benford's
    law — the fraud/synthetic-data screen: observed share, expected
    log10(1+1/d) share, and the per-digit chi-square contribution
    (rounded + decimal-summable)."""
    # values carry 2 decimals: scale to exact integer cents, then the
    # first significant digit is a pure string op — no log10/floor at
    # power-of-ten boundaries, no format quirks, trivially mirrorable
    ev = _events(spark, sf_dir).select(
        F.round(F.abs(F.col("value")) * 100).cast("bigint").alias("cents")
    )
    digits = ev.where(F.col("cents") > 0).select(
        F.substring(F.col("cents").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    total = counts.agg(F.sum("n_obs").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.col("digit").cast("bigint").alias("digit"),
            F.col("n_obs").cast("bigint").alias("n_obs"),
            F.round(
                F.col("n_obs").cast("double") / F.col("__t").cast("double"), 9
            ).alias("observed_share"),
            F.round(
                F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 9
            ).alias("benford_share"),
        )
    )


EVENTS_COHORT_VALUE_SQL = """WITH e AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
),
c AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
cell AS (
  SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
         SUM(e.v) AS s, COUNT(DISTINCT e.user_id) AS n_users
  FROM e JOIN c USING (user_id)
  GROUP BY 1, 2
)
SELECT cohort_day, day_offset, CAST(n_users AS BIGINT) AS n_users,
  CAST(s AS DOUBLE) AS period_value,
  CAST(SUM(s) OVER (PARTITION BY cohort_day ORDER BY day_offset
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_value
FROM cell"""


@query("events_cohort_value", oracle=EVENTS_COHORT_VALUE_SQL)
def q_events_cohort_value(spark, sf_dir):
    """Cohort LTV curve: cumulative per-user value by cohort day and
    day offset — the revenue companion of events_retention (which
    counts users; this accumulates value). Decimal-exact event sums;
    the only windows run over the (cohort × offset) table, which is
    calendar², never the data."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        (F.col("tus") / F.lit(86_400_000_000)).cast("long").alias("day"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    cell = (
        ev.join(cohort, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(
            F.sum("v").alias("__s"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cell.select(
        "cohort_day",
        "day_offset",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("__s").cast("double").alias("period_value"),
        F.sum("__s").over(w).cast("double").alias("cum_value"),
    )


USERS_SURVIVAL_SQL = """WITH per_user AS (
  SELECT user_id, MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS dur,
         MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS ev
  FROM events GROUP BY user_id
),
per_t AS (SELECT dur AS t, SUM(ev) AS d, COUNT(*) AS exits FROM per_user GROUP BY dur),
ar AS (
  SELECT t, d, exits,
    SUM(exits) OVER ()
    - COALESCE(SUM(exits) OVER (ORDER BY t
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
  FROM per_t
),
cur AS (
  SELECT t, d, n,
    CASE WHEN d = n THEN 1 ELSE 0 END AS dead,
    CAST(CASE WHEN d < n
      THEN round(ln((CAST(n AS DOUBLE) - d) / CAST(n AS DOUBLE)), 9)
      ELSE 0.0 END AS DECIMAL(19,9)) AS lnf
  FROM ar
),
run AS (
  SELECT t, d, n,
    SUM(lnf) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lns,
    MAX(dead) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS killed
  FROM cur
)
SELECT t, CAST(d AS BIGINT) AS deaths, CAST(n AS BIGINT) AS at_risk,
  CASE WHEN killed = 1 THEN 0.0 ELSE round(exp(CAST(lns AS DOUBLE)), 6) END AS survival
FROM run WHERE d > 0"""


@query("users_survival", oracle=USERS_SURVIVAL_SQL)
def q_users_survival(spark, sf_dir):
    """Kaplan-Meier time-to-churn: per-user observation span as the
    duration, an 'error' event as the churn signal, other users
    right-censored (operators.timeseries.kaplan_meier)."""
    per_user = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            (F.max("tus") - F.min("tus")).alias("dur"),
            F.max(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("ev"),
        )
    )
    return kaplan_meier(per_user, "dur", "ev")


EVENTS_ACTIVE_TIME_SQL = """WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e
  FROM events
),
seg AS (
  SELECT user_id, s, e,
    SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END) OVER (
      PARTITION BY user_id ORDER BY s, e
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM (
    SELECT user_id, s, e,
      MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
    FROM iv
  )
),
merged AS (
  SELECT user_id, seg, MIN(s) AS ms, MAX(e) AS me, COUNT(*) AS n
  FROM seg GROUP BY user_id, seg
)
SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_intervals,
  CAST(COUNT(*) AS BIGINT) AS n_merged,
  CAST(SUM(me - ms) AS BIGINT) AS covered_us
FROM merged GROUP BY user_id"""


@query("events_active_time", oracle=EVENTS_ACTIVE_TIME_SQL)
def q_events_active_time(spark, sf_dir):
    """Per-user active time: every event opens a 30-minute activity
    interval; overlaps merge so coverage never double-counts
    (operators.timeseries.interval_union_length)."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.col("tus").alias("start_us"),
        (F.col("tus") + F.lit(1_800_000_000)).alias("end_us"),
    )
    return interval_union_length(ev, "user_id", "start_us", "end_us")


EVENTS_SESSION_PATHS_SQL = f"""WITH ordered AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus, event_type,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {1_800_000_000}
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sess AS (
  SELECT user_id, event_id, tus, event_type,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
),
paths AS (
  SELECT user_id, session_id,
    string_agg(event_type, '>' ORDER BY tus, event_id) AS path
  FROM sess GROUP BY user_id, session_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT 25"""


@query("events_session_paths", oracle=EVENTS_SESSION_PATHS_SQL)
def q_events_session_paths(spark, sf_dir):
    """Top-25 full session journeys ('signup>click>...') by frequency —
    the path-analysis staple funnel/transitions don't give (those
    score STEPS; this ranks complete ordered paths). Per-session
    collect is bounded by session length; the count agg shuffles path
    strings."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "tus", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gap = F.col("tus") - F.lag("tus").over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"),
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("tus", "event_id", "event_type"))
                ),
                lambda s: s.getField("event_type"),
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(25)
    )


EVENTS_MEAN_SHIFT_SQL = """WITH ev AS (
  SELECT event_type, epoch_us(ts) AS tus, CAST(value AS DECIMAL(18,2)) AS v
  FROM events WHERE value IS NOT NULL
),
f AS (
  SELECT event_type, tus,
    SUM(v) OVER wb AS sb, COUNT(*) OVER wb AS nb,
    SUM(v) OVER wa AS sa, COUNT(*) OVER wa AS na
  FROM ev
  WINDOW wb AS (PARTITION BY event_type ORDER BY tus
                RANGE BETWEEN 7200000000 PRECEDING AND 1 PRECEDING),
         wa AS (PARTITION BY event_type ORDER BY tus
                RANGE BETWEEN CURRENT ROW AND 7199999999 FOLLOWING)
)
SELECT event_type, tus,
  round(CAST(sb AS DOUBLE) / nb, 9) AS mean_before,
  round(CAST(sa AS DOUBLE) / na, 9) AS mean_after,
  round(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb, 9) AS shift
FROM f
WHERE nb >= 3 AND na >= 3
  AND abs(round(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb, 9)) > 10.0"""


@query("events_mean_shift", oracle=EVENTS_MEAN_SHIFT_SQL)
def q_events_mean_shift(spark, sf_dir):
    """Two-window mean-shift change points per event type (2 h frames,
    ≥3 points each side, |shift| > 10)
    (operators.timeseries.mean_shift_points)."""
    ev = _events(spark, sf_dir).select("event_type", "tus", "value")
    return mean_shift_points(
        ev, "event_type", "tus", "value",
        window_us=7_200_000_000, min_points=3, threshold=10.0,
    )


# chi2 via the marginal identity sum(o^2/e) - n (absent cells fold
# in exactly); per-cell terms rounded 9 + decimal sums
EVENTS_CHI_SQUARE_SQL = f"""WITH ev AS (
  SELECT event_type, user_id % 2 AS cohort FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
),
obs AS (SELECT event_type, cohort, COUNT(*) AS o FROM ev GROUP BY 1, 2),
ra AS (SELECT event_type, SUM(o) AS ra FROM obs GROUP BY 1),
cb AS (SELECT cohort, SUM(o) AS cb FROM obs GROUP BY 1),
tot AS (
  SELECT SUM(o) AS n, COUNT(DISTINCT event_type) AS ka,
         COUNT(DISTINCT cohort) AS kb
  FROM obs
),
cells AS (
  SELECT CAST(round(
    (CAST(o AS DOUBLE) * o)
    / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)),
    9) AS DECIMAL(25,9)) AS t, n, ka, kb
  FROM obs JOIN ra USING (event_type) JOIN cb USING (cohort) CROSS JOIN tot
)
SELECT round({split_cast_double_sql("SUM(t)", 9)} - ANY_VALUE(CAST(n AS DOUBLE)), 9) AS chi2,
  CAST((ANY_VALUE(ka) - 1) * (ANY_VALUE(kb) - 1) AS BIGINT) AS dof,
  CAST(ANY_VALUE(n) AS BIGINT) AS n
FROM cells"""


@query("events_chi_square", oracle=EVENTS_CHI_SQUARE_SQL)
def q_events_chi_square(spark, sf_dir):
    """Chi-square independence of (event_type × hash-split cohort) —
    the categorical companion of the Welch readout
    (operators.profile.chi_square)."""
    ev = _events(spark, sf_dir).select(
        "event_type", (F.col("user_id") % 2).alias("cohort")
    )
    return chi_square(ev, "event_type", "cohort")


EVENTS_KEY_SKEW_SQL = """WITH c AS (
  SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
),
agg AS (SELECT SUM(c) AS n, COUNT(*) AS k, MAX(c) AS mx, SUM(c * c) AS ss FROM c),
t5 AS (SELECT user_id, c FROM c ORDER BY c DESC, user_id ASC LIMIT 5)
SELECT CAST(agg.n AS BIGINT) AS n_rows, CAST(agg.k AS BIGINT) AS n_keys,
  CAST(agg.mx AS BIGINT) AS max_count,
  round(CAST(agg.mx AS DOUBLE) / CAST(agg.n AS DOUBLE), 9) AS max_share,
  round(CAST(agg.ss AS DOUBLE) / (CAST(agg.n AS DOUBLE) * CAST(agg.n AS DOUBLE)), 9) AS hhi,
  (SELECT string_agg(
     CAST(CAST(round(CAST(c AS DOUBLE) / CAST(agg.n AS DOUBLE), 9) AS DECIMAL(12,9)) AS VARCHAR),
     ',' ORDER BY c DESC, user_id ASC)
   FROM t5) AS topk_shares_str
FROM agg"""


@query("events_key_skew", oracle=EVENTS_KEY_SKEW_SQL)
def q_events_key_skew(spark, sf_dir):
    """Sort-free key-skew report over user_id — the shuffle-planning
    health check (operators.profile.key_skew_report); HHI and
    max-share from exact integer aggregates, never a prefix-sum
    window."""
    return key_skew_report(
        _events(spark, sf_dir).select("user_id"), "user_id", top=5
    ).select(
        "n_rows", "n_keys", "max_count", "max_share", "hhi",
        F.array_join(
            F.transform(
                "topk_shares",
                lambda x: x.cast("decimal(12,9)").cast("string"),
            ),
            ",",
        ).alias("topk_shares_str"),
    )


# the same explicit exact-interpolation median recipe as
# group_quantiles_sql, applied twice (median, then MAD)
EVENTS_MAD_OUTLIERS_SQL = """WITH base AS (
  SELECT event_type, event_id, CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL
),
r1 AS (
  SELECT event_type, v,
    row_number() OVER (PARTITION BY event_type ORDER BY v) - 1 AS rn,
    count(*) OVER (PARTITION BY event_type) AS n
  FROM base
),
med AS (
  SELECT event_type,
    max(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) THEN v END)
    + (max(CASE WHEN rn = CAST(ceil(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) THEN v END)
       - max(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) THEN v END))
      * max(CAST(n - 1 AS DOUBLE) * 0.5 - floor(CAST(n - 1 AS DOUBLE) * 0.5)) AS med
  FROM r1 GROUP BY event_type
),
dev AS (
  SELECT b.event_type, b.event_id, b.v, m.med, abs(b.v - m.med) AS adev
  FROM base b JOIN med m USING (event_type)
),
r2 AS (
  SELECT event_type, adev,
    row_number() OVER (PARTITION BY event_type ORDER BY adev) - 1 AS rn,
    count(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
madt AS (
  SELECT event_type,
    max(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) THEN adev END)
    + (max(CASE WHEN rn = CAST(ceil(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) THEN adev END)
       - max(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) THEN adev END))
      * max(CAST(n - 1 AS DOUBLE) * 0.5 - floor(CAST(n - 1 AS DOUBLE) * 0.5)) AS mad
  FROM r2 GROUP BY event_type
)
SELECT d.event_type, d.event_id, d.v AS value, d.med AS median, t.mad
FROM dev d JOIN madt t USING (event_type)
WHERE d.adev > 3.0 * t.mad"""


@query("events_mad_outliers", oracle=EVENTS_MAD_OUTLIERS_SQL)
def q_events_mad_outliers(spark, sf_dir):
    """Robust per-type outliers: |x − median| > 3·MAD — the screen
    that still works when outliers inflate mean and stddev
    (operators.profile.mad_outliers)."""
    return mad_outliers(
        _events(spark, sf_dir).select("event_type", "event_id", "value"),
        "event_type",
        "value",
        "event_id",
    )


EVENTS_AB_WELCH_SQL = welch_t_sql(
    "(SELECT user_id % 2 AS cohort, value FROM events)",
    "cohort", "value", "0", "1",
)


@query("events_ab_welch", oracle=EVENTS_AB_WELCH_SQL)
def q_events_ab_welch(spark, sf_dir):
    """A/B experiment readout: Welch's t between the two deterministic
    hash-split user cohorts over event value
    (operators.profile.welch_t)."""
    ev = _events(spark, sf_dir).select(
        (F.col("user_id") % 2).alias("cohort"), "value"
    )
    return welch_t(ev, "cohort", "value", 0, 1)


EVENTS_CUMULATIVE_USERS_SQL = """WITH firsts AS (
  SELECT user_id, MIN(strftime(date_trunc('day', ts), '%Y-%m-%d')) AS day
  FROM events GROUP BY user_id
),
per AS (SELECT day, COUNT(*) AS new_keys FROM firsts GROUP BY day)
SELECT day, CAST(new_keys AS BIGINT) AS new_keys,
  CAST(SUM(new_keys) OVER (
    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS BIGINT) AS cum_keys
FROM per"""


@query("events_cumulative_users", oracle=EVENTS_CUMULATIVE_USERS_SQL)
def q_events_cumulative_users(spark, sf_dir):
    """Running distinct-user count by day WITHOUT an expanding-window
    distinct: each user counts once at their first day, and the
    running total is a prefix sum over the calendar-sized day table
    (operators.timeseries.cumulative_distinct)."""
    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format(F.timestamp_micros(F.col("tus")), "yyyy-MM-dd")
    )
    return cumulative_distinct(ev, "user_id", "day")


EVENTS_CDC_SNAPSHOT_SQL = """WITH ch AS (
  SELECT user_id, epoch_us(ts) AS tus, event_id,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
         value
  FROM events
),
rn AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
  FROM ch
)
SELECT user_id, tus AS last_tus, op AS last_op, value
FROM rn WHERE rn = 1 AND op <> 'delete'"""


@query("events_cdc_snapshot", oracle=EVENTS_CDC_SNAPSHOT_SQL)
def q_events_cdc_snapshot(spark, sf_dir):
    """CDC changelog -> current snapshot (MERGE compaction): per user
    the latest event wins; 'error' acts as the delete operation and
    removes the key (operators.timeseries.cdc_apply)."""
    ev = _events(spark, sf_dir)
    changelog = ev.select(
        "user_id",
        "tus",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        "value",
    )
    return cdc_apply(
        changelog,
        key_cols=["user_id"],
        ts_col="tus",
        op_col="op",
        value_cols=["value"],
        tie_col="event_id",
    )
