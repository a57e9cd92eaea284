"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 (plus
the training-data extension operators) to a (spark, sf_dir) → DataFrame
callable; ``oracle_sql()`` provides the DuckDB-equivalent ANSI SQL.
Both sides are generated from the same constants
(shaha_spark/operators/constants.py), and all floating-point outputs
are reproducible across engines: exact decimal accumulation cast to
double for sums, sequential-fold / single-division double arithmetic
(deliberately UNrounded — round() itself diverges at half-ulp
boundaries of small-integer ratios) for ratios and scores, and
round(…, 6) only for cosine similarity, where engine-internal FMA
accumulation differs in the last ulp but real-valued cosines never sit
on decimal half-boundaries.

SURVEY §2 coverage map (query name → inventory items):
    wordlist_scan            S1/F1 (scan + non-empty filter)
    word_dedup               A1 (word-level distinct)
    build_sha256             H3 + flagship build projection
    build_multi_algo         H1/H3 + H17 (multi-algo fanout) + J2
    build_hash256            H9 (no SQL oracle: DuckDB lacks sha256(BLOB);
                             the kernel is verified via build_all_algos)
    build_all_algos          H1-H9: all nine digests vs DuckDB-native
                             md5/sha256 + literal known-answer table
    query_point_lookup       F2 full-digest point lookup (+P1 semantics)
    query_prefix             F2 prefix lookup
    query_algo_filter        F3 algorithm equality
    query_topk_by_hash       O1/O2 (sort by hash + limit)
    append_merge             J1 (full-outer merge, sources union)
    db_stats                 A3/A5 (stats aggregate)
    build_summary            A2/A6 (counts + dry-run estimate)
    tpch_q1/q3/q5/q6/q18     engine-level agg/join/subquery capability
                             (q18 = HAVING-subquery semi-join shape)
    part_filter              LIKE + range predicate pushdown
    events_salted_agg        skew-resistant two-phase salted aggregation
    events_hourly            time-bucketed aggregation
    events_sessionize        stateful window (gap sessionization)
    events_json_extract      semi-structured projection
    dedup_exact              extension: exact dedup
    dedup_minhash_sigs       extension: MinHash signatures
    dedup_minhash_pairs      extension: LSH band candidate pairs
    dedup_ngram_jaccard      extension: n-gram Jaccard verification
    dedup_simhash            extension: SimHash fingerprints
    similarity_topk          extension: brute-force cosine top-k
    similarity_ivf           extension: IVF ANN (windowed-argmax oracle)
    kmeans_centroids         extension: distributed Lloyd k-means
                             (per-iteration chained-CTE oracle)
    similarity_ivf_kmeans    extension: end-to-end ANN (k-means training
                             feeding IVF probing, one composed oracle)
    embedding_near_dup       extension: cosine near-dup pairs
    text_token_count         extension: token counting
    text_quality             extension: quality scoring
    text_langid              extension: language ID
    text_fingerprint         extension: order-sensitive fingerprint
    multimodal_meta          extension: binary decode plumbing (mapInPandas)
    multimodal_frame_count   extension: frame-sampling fan-out shape
    dedup_minhash_survivors  extension: end-to-end near-dup removal
    dedup_minhash_cc         extension: transitive (connected-components)
                             near-dup removal (recursive-CTE oracle)
    dedup_simhash_pairs      extension: Hamming near-dup pairs
    words_intersect/except   set operations (§2.8)
    profile_lineitem         extension: deterministic column profiling
    profile_table            extension: whole-table profile, one pass
    sample_documents         extension: deterministic hash sampling
    split_documents          extension: disjoint train/eval/test split
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from typing import Any

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark import StorageLevel

from shaha_spark.operators.constants import (
    FINGERPRINT_K,
    LANG_STOPWORDS,
    LSH_BANDS,
    LSH_ROWS_PER_BAND,
    MERSENNE_P,
    MINHASH_PERMS,
    QUALITY_STOPWORDS,
)
from shaha_spark.operators.profile import split_cast_double as _split_cast
from shaha_spark.operators.profile import split_cast_double_sql as _split_cast_sql
from shaha_spark.operators.profile import (
    split_cast_double_spark_sql as _split_cast_expr_sql,
)
from shaha_spark.util import normalize_event_ts

# deterministic full-digest constant for the point-lookup query:
# sha256("the") — "the" is guaranteed by both engines to hash identically;
# if absent from the corpus both sides return the same empty set.
POINT_SHA256 = "b9776d7ddf459c9ad5b0e1d6ac61e27befb5e99fd62446677600d7cacef544d0"

SESSION_GAP_US = 1_800_000_000  # 30 min in microseconds
BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


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
    import shutil
    import tempfile

    root = os.path.dirname(os.path.abspath(__file__))
    tmp = tempfile.mkdtemp(prefix="shaha_pkg_")
    zpath = shutil.make_archive(
        os.path.join(tmp, "shaha_spark_pkg"), "zip", root_dir=root, base_dir="shaha_spark"
    )
    spark.sparkContext.addPyFile(zpath)
    _PKG_SHIPPED.add(key)


#: (sf_dir, table) -> inferred StructType. Schema METADATA only — never
#: rows, never results: every query still scans the parquet afresh.
#: Each spark.read.parquet() call re-infers the schema from the file
#: footer (~80 ms per table on this driver); a 6-table join paid ~0.5 s
#: of its wall time re-reading footers it had already read (guide §7.3
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


# --------------------------------------------------------------------
# Spark-side queries
# --------------------------------------------------------------------

def q_wordlist_scan(spark, sf_dir):
    return _words(spark, sf_dir).select("word", "source")


def q_word_dedup(spark, sf_dir):
    return _dwords(spark, sf_dir)


def q_build_sha256(spark, sf_dir):
    return _dwords(spark, sf_dir).select(
        F.sha2("word", 256).alias("hash_hex"),
        F.col("word").alias("preimage"),
        F.lit("sha256").alias("algorithm"),
    )


def _multi_algo(spark, sf_dir):
    from shaha_spark.pipeline.build import dedup_records, hash_fanout

    records = hash_fanout(_dwords(spark, sf_dir), ["md5", "sha256"])
    return dedup_records(records).select(
        _hex(), F.col("preimage"), F.col("algorithm")
    )


def q_build_multi_algo(spark, sf_dir):
    return _multi_algo(spark, sf_dir)


def q_build_hash256(spark, sf_dir):
    from shaha_spark.pipeline.build import hash_fanout

    return hash_fanout(_dwords(spark, sf_dir), ["hash256"]).select(
        _hex(), F.col("preimage"), F.col("algorithm")
    )


def q_build_all_algos(spark, sf_dir):
    """All nine digest algorithms over the corpus vocabulary (∪ the
    reference's canonical "hello"), restricted to the words covered by
    the known-answer table so the DuckDB side can assert literal
    expected digests for the algorithms DuckDB cannot compute natively
    (sha1/sha512/keccak256/ripemd160/blake3/hash160/hash256)."""
    from shaha_spark.functions.digest_vectors import VECTOR_DIGESTS
    from shaha_spark.functions.hashers import available_algorithms
    from shaha_spark.pipeline.build import hash_fanout

    _ensure_pkg(spark)  # keccak/blake3/ripemd160 are pandas UDFs
    dw = (
        _dwords(spark, sf_dir)
        .union(spark.createDataFrame([("hello",)], "word string"))
        .distinct()
        .filter(F.col("word").isin(sorted(VECTOR_DIGESTS)))
    )
    return hash_fanout(dw, available_algorithms()).select(
        _hex(), "preimage", "algorithm"
    )


def q_point_lookup(spark, sf_dir):
    return q_build_sha256(spark, sf_dir).filter(
        F.col("hash_hex") == POINT_SHA256
    )


def q_prefix(spark, sf_dir):
    # "b9" matches sha256("the") = b977... — a prefix chosen to return
    # rows, mirroring the reference's prefix round-trip which queries a
    # prefix of a digest known to exist (ref tests/integration.rs:147-151).
    return q_build_sha256(spark, sf_dir).filter(
        F.col("hash_hex").startswith("b9")
    ).select("hash_hex", "preimage")


def q_algo_filter(spark, sf_dir):
    return _multi_algo(spark, sf_dir).filter(F.col("algorithm") == "md5")


def q_topk_by_hash(spark, sf_dir):
    return _multi_algo(spark, sf_dir).orderBy("hash_hex").limit(100)


def q_append_merge(spark, sf_dir):
    from shaha_spark.pipeline.append import append_merge
    from shaha_spark.pipeline.build import hash_fanout

    words = _words(spark, sf_dir)
    even = words.filter(F.col("doc_id") % 2 == 0).select("word").distinct()
    odd = words.filter(F.col("doc_id") % 2 == 1).select("word").distinct()
    existing = hash_fanout(even, ["sha256"], "even")
    new = hash_fanout(odd, ["sha256"], "odd")
    return append_merge(existing, new).select(
        _hex(),
        F.col("preimage"),
        F.col("algorithm"),
        F.array_join("sources", ",").alias("sources_str"),
    )


def q_db_stats(spark, sf_dir):
    return _multi_algo(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("total_records"),
        F.count_distinct(F.col("preimage")).alias("n_preimages"),
        F.array_join(F.sort_array(F.collect_set("algorithm")), ",").alias(
            "algorithms_str"
        ),
    )


def q_build_summary(spark, sf_dir):
    words = _words(spark, sf_dir)
    return words.agg(
        F.count(F.lit(1)).alias("total_words"),
        F.count_distinct(F.col("word")).alias("unique_words"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("word"))).alias("duplicates"),
        (F.count_distinct(F.col("word")) * 2).alias("records_to_generate"),
    )


def q_tpch_q1(spark, sf_dir):
    """Pricing summary. The four decimal sums grow with data volume in
    a HANDFUL of groups, so their unscaled values cross 2^53 with
    scale — the scale-6 sum_charge did so at sf1 (2.79e16 unscaled),
    where DuckDB's double-rounding DECIMAL->DOUBLE cast diverges in
    the last ULP (caught by the r6 sf1 oracle sweep). Every
    sum->double conversion therefore goes through split_cast_double,
    bit-identical on both engines at any in-domain magnitude."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(4,2)")
    # Two-level aggregation (optimization round 12, guide §2.3
    # "aggregate before you shuffle" applied to per-row CPU): the
    # double→decimal casts and the decimal multiplications are the
    # dominant per-row cost of this query (measured sf0.1: the same
    # aggregation over plain double sums runs 0.26 s vs 1.03 s — the
    # scan is 0.26 s). TPC-H fixes the domains of l_discount (0.00–
    # 0.10), l_tax (0.00–0.08) and l_quantity (integers 1–50), so
    # grouping level 1 by (flag, status, discount, tax, quantity)
    # yields a bounded ~30k-group partial aggregate at ANY data volume
    # and moves every decimal cast/multiply from per-row to per-group.
    # Decimal arithmetic is EXACT (scale-additive multiply, no
    # rounding), so Σ eₚ·(1−d)·(1+t) over groups equals the per-row sum
    # bit-for-bit — verified value-identical against the single-level
    # form at sf0.1 and against the unchanged DuckDB oracle. If the
    # domain assumption ever breaks, level 1 degrades to an ordinary
    # high-cardinality hash aggregate (spills, stays correct).
    g = li.groupBy(
        "l_returnflag", "l_linestatus", "l_discount", "l_tax", "l_quantity"
    ).agg(
        F.sum(_dec("l_extendedprice")).alias("__se"),
        F.count(F.lit(1)).alias("__n"),
    )
    dd = _dec("l_discount", "decimal(4,2)")
    tt = _dec("l_tax", "decimal(4,2)")
    disc_g = F.col("__se") * (one - dd)
    charge_g = disc_g * (one + tt)
    qty_g = _dec("l_quantity") * F.col("__n").cast("decimal(20,0)")
    # Level-2 sums are aggregated under plain aliases and the
    # split-casts applied in a projection ON TOP, rendered as SQL text
    # (one parser call each instead of ~25 py4j Column round trips —
    # each Column-built split-cast cost ~40 ms of plan construction;
    # guide §7.3). split_cast_double_spark_sql parses to the IDENTICAL
    # expression tree (pinned by test_optimization_r12), and Catalyst
    # splits complex agg result expressions into Aggregate+Project
    # anyway, so the physical plan is unchanged. avg_qty re-renders the
    # same sum_qty text (as the Column form re-built the same subtree);
    # codegen subexpression elimination collapses the duplicate.
    s = g.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty_g).alias("__sq"),
        F.sum("__se").alias("__sb"),
        F.sum(disc_g).alias("__sd"),
        F.sum(charge_g).alias("__sc"),
        F.sum("__n").alias("count_order"),
    )
    sq_txt = _split_cast_expr_sql("__sq", 2)
    return s.select(
        "l_returnflag",
        "l_linestatus",
        F.expr(sq_txt).alias("sum_qty"),
        F.expr(_split_cast_expr_sql("__sb", 2)).alias("sum_base_price"),
        F.expr(_split_cast_expr_sql("__sd", 4)).alias("sum_disc_price"),
        F.expr(_split_cast_expr_sql("__sc", 6)).alias("sum_charge"),
        (F.expr(sq_txt) / F.col("count_order").cast("double")).alias("avg_qty"),
        "count_order",
    )


def q_tpch_q1_rollup(spark, sf_dir):
    """Multi-level pricing summary: the q1 aggregates at THREE grouping
    levels — (returnflag, linestatus), (returnflag), () — in ONE pass
    via ROLLUP. Spark plans an Expand (x3 rows) feeding a single
    map-side-combining hash aggregation and one shuffle; at 100 TB the
    alternative (three separate aggregations) would scan the fact
    table three times. grouping_id disambiguates the NULL group keys
    from real NULLs identically in both engines (same bitmask
    semantics). Sum->double conversions split-cast, same rationale as
    tpch_q1 (the () level is a GLOBAL sum — the fastest-growing
    magnitude in the registry)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(4,2)")
    disc_price = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(4,2)"))
    charge = disc_price * (one + _dec("l_tax", "decimal(4,2)"))
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            _split_cast(F.sum(_dec("l_quantity")), 2).alias("sum_qty"),
            _split_cast(F.sum(disc_price), 4).alias("sum_disc_price"),
            _split_cast(F.sum(charge), 6).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_events_ks(spark, sf_dir):
    """Two-sample KS drift statistic between the 'click' and
    'purchase' value distributions (operators/profile.py ks_2samp):
    exact-BIGINT ECDF-difference numerator via the bucketed
    distributed prefix sum, one final IEEE division."""
    from shaha_spark.operators.profile import ks_2samp

    return ks_2samp(
        _t(spark, sf_dir, "events"), "event_type", "value", "click", "purchase"
    )


def q_events_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap CI of the mean event value
    (operators/profile.py bootstrap_mean_ci): 40 replicate means in
    ONE aggregation pass via hash-derived Poisson(1) weights — the
    at-scale bootstrap. Fully deterministic cross-engine (md5 hex
    slices -> integer inverse-CDF cutoffs -> decimal-exact weighted
    sums -> split-cast divisions -> order statistics)."""
    from shaha_spark.operators.profile import bootstrap_mean_ci

    return bootstrap_mean_ci(
        _t(spark, sf_dir, "events"), "value", "event_id"
    )


#: quantile levels for events_quantile_disc (shared Spark/oracle)
_QDISC_QS = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def q_events_quantile_disc(spark, sf_dir):
    """Exact GLOBAL discrete quantiles of the event value — type-1
    inverse ECDF at rank max(1, ceil(q·n)), the DuckDB quantile_disc
    convention (operators/profile.py quantile_disc). The global rank
    selection runs through the ks_2samp bucketed distributed prefix
    sum — only ≤256 bucket totals cross a single-partition window at
    any scale — and returns data ELEMENTS, so the comparison is
    bit-exact with no float arithmetic anywhere."""
    from shaha_spark.operators.profile import quantile_disc

    return quantile_disc(_t(spark, sf_dir, "events"), "value", _QDISC_QS)


def q_docs_weighted_reservoir(spark, sf_dir):
    """Fixed-size weighted reservoir per source: exactly 5 documents
    per stratum with inclusion odds ∝ n_chars (operators/sampling.py
    weighted_reservoir — Efraimidis–Spirakis A-ES keyed on the
    cross-engine md5 hash, rounded-ln recipe, two-phase skew-proof
    top-k). Complements sample_weighted, whose Bernoulli draw has
    variable size; a reservoir guarantees the sample SIZE."""
    from shaha_spark.operators.sampling import weighted_reservoir

    return weighted_reservoir(
        _t(spark, sf_dir, "documents"),
        k=5,
        weight_col="n_chars",
        key_col="doc_id",
        strata_col="source",
        salt="wres8",
    ).select("source", "doc_id", "n_chars", "res_key")


#: hour-of-epoch of 2024-01-01 00:00 UTC — fixed literal that rescales
#: event timestamps to a small x domain (DuckDB multiplies DECIMAL(18)
#: per-row products in int64; raw epoch micros would overflow it)
_TREND_EPOCH_H = 473352


def q_events_trend(spark, sf_dir):
    """Per-type least-squares trend of event value over time
    (operators/regression.py ols_fit): slope/intercept/r2 from
    decimal-exact moments in ONE hash aggregation — no window, no
    join; x is hours since a fixed epoch literal so every per-row
    product stays in the oracle's int64 decimal domain."""
    from shaha_spark.operators.regression import ols_fit

    ev = _events(spark, sf_dir).withColumn(
        "xh", F.expr("tus DIV 3600000000") - F.lit(_TREND_EPOCH_H)
    )
    return ols_fit(ev, "event_type", "xh", "value")


def q_events_autocorr(spark, sf_dir):
    """Pooled within-user lag-1 autocorrelation of event values per
    type (operators/regression.py autocorr): pairs form inside
    (event_type, user_id) series windows — data-proportional
    cardinality, never the 5-value label alone — and the Pearson
    moments pool per type in one hash aggregation."""
    from shaha_spark.operators.regression import autocorr

    return autocorr(
        _events(spark, sf_dir),
        ["event_type", "user_id"],
        ["tus", "event_id"],
        "value",
        ["event_type"],
        lag=1,
    )


def q_events_ewma(spark, sf_dir):
    """Per-user time-decayed feature backfill: finite-horizon EWMA of
    event value (operators/timeseries.py ewma — pandas ewm(adjust=True)
    truncated at 8 lags). All weights and partial denominators are
    Python-precomputed double literals and the term chain is a fixed
    left-associated sequence, so both engines replay identical IEEE
    ops; the SQL twin materializes each product behind the window
    boundary to defeat DuckDB's FMA contraction."""
    from shaha_spark.operators.timeseries import ewma

    return ewma(
        _events(spark, sf_dir),
        ["user_id"],
        ["tus", "event_id"],
        "value",
        alpha=0.25,
        horizon=8,
    ).select("event_id", "user_id", "ewma")


def q_docs_mutual_info(spark, sf_dir):
    """Mutual information (nats) between document language and source
    (operators/profile.py mutual_info) — the dependence measure next to
    chi_square's significance test. Exact integer counts, broadcast
    marginals, rounded-ln cells summed in DECIMAL, one split-cast
    division; same single-fact-scan shape as chi_square."""
    from shaha_spark.operators.profile import mutual_info

    return mutual_info(_t(spark, sf_dir, "documents"), "lang", "source")


def q_events_rolling_median(spark, sf_dir):
    """Per-user rolling median of event value over the trailing 7
    observed events (operators/timeseries.py rolling_quantile) — the
    robust, outlier-insensitive sibling of events_ewma. Type-1
    quantile (1-based rank max(1, ceil(q·n))), bounded rows frame, one
    window pass per user partition; the result is a data element, so
    cross-engine exactness needs only the single ceil(q·n) multiply."""
    from shaha_spark.operators.timeseries import rolling_quantile

    return rolling_quantile(
        _events(spark, sf_dir),
        ["user_id"],
        ["tus", "event_id"],
        "value",
        q=0.5,
        window_rows=7,
    ).select("event_id", "user_id", F.col("rq").alias("roll_median"))


def q_events_seasonality(spark, sf_dir):
    """Day-of-week × hour-of-day seasonal profile of event values
    (operators/timeseries.py seasonal_profile): count, decimal-exact
    mean, and the seasonal index (cell mean / grand mean) per calendar
    cell. Pure integer calendar arithmetic on epoch micros (timezone-
    free, engine-library-free); ONE fact-table aggregation to ≤168
    cells, grand totals from a window over those cells."""
    from shaha_spark.operators.timeseries import seasonal_profile

    return seasonal_profile(_events(spark, sf_dir), "tus", "value")


def q_docs_isotonic(spark, sf_dir):
    """Isotonic (PAV) calibration of the demo classifier against the
    lang=='en' label (operators/classifier.py isotonic_fit): per
    equal-width score bin, the monotone-non-decreasing weighted-least-
    squares fit of the positive rate, via the minimax closed form —
    max_{j≤i} min_{k≥i} avg(j..k) — over exact integer prefix sums.
    One data-proportional hash agg; the O(bins³) candidate triples are
    broadcast-sized (bins=16 here), constant in the data size."""
    from shaha_spark.operators.classifier import isotonic_fit

    return isotonic_fit(
        _scored_with_label(spark, sf_dir), "label", bins=16
    )


def q_tpch_q3(spark, sf_dir):
    _utc(spark)
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(4,2)")
    disc_price = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(4,2)"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_str"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


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


def q_events_json(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


# attribution window for the interval join: 30 minutes in microseconds
ATTRIB_WINDOW_US = 30 * 60 * 1_000_000


def q_events_asof(spark, sf_dir):
    """Attribute each purchase to the user's most recent signup at or
    before it — one union + one window, zero joins (joins.asof_join)."""
    from shaha_spark.operators.joins import asof_join, dedup_keep_latest

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


def q_events_interval(spark, sf_dir):
    """Purchases landing inside each signup's 30-minute attribution
    window, via the bucketed equi-join (joins.interval_join) — never a
    quadratic range join."""
    from shaha_spark.operators.joins import interval_join

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


def q_docs_pagerank(spark, sf_dir):
    """Fixed-point PageRank over the LSH near-dup candidate graph —
    document centrality for cluster-representative selection
    (operators.graph.pagerank_fixed; integer-exact, so the iterative
    result value-hashes against the chained-CTE oracle)."""
    from shaha_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from shaha_spark.operators.graph import pagerank_fixed

    sigs = minhash_signatures(_t(spark, sf_dir, "documents"))
    return pagerank_fixed(lsh_candidate_pairs(sigs), iterations=3)


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


def q_events_histogram(spark, sf_dir):
    """Equi-width 12-bin histogram of event values — fixed-width
    shuffle profiling (operators.profile.histogram)."""
    from shaha_spark.operators.profile import histogram

    return histogram(_events(spark, sf_dir).select("value"), "value", bins=12)


def q_docs_quality_filter(spark, sf_dir):
    """Curation stage: keep documents at or above their source's p25
    quality — per-stratum quantile filtering in one lineage
    (operators.profile.group_quantile_filter over quality_score)."""
    from shaha_spark.operators.profile import group_quantile_filter
    from shaha_spark.operators.textops import quality_score

    docs = _t(spark, sf_dir, "documents")
    q = quality_score(docs).select("doc_id", "quality").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return group_quantile_filter(q, "source", "quality", 0.25).select(
        "doc_id", "source", "quality", "q_threshold"
    )


def q_text_normalize(spark, sf_dir):
    """Canonical cleanup (lowercase / charset strip / whitespace
    collapse) — the normalization stage ahead of tokenizers and dedup
    keys (operators.textops.normalize_text)."""
    from shaha_spark.operators.textops import normalize_text

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.concat(F.col("text"), F.lit("  X!? "), F.col("source"))
    )
    return normalize_text(docs)


def q_words_except_all(spark, sf_dir):
    """Multiset difference (EXCEPT ALL): word occurrences in even docs
    minus, per-copy, occurrences in odd docs — bag semantics the plain
    EXCEPT cannot express."""
    words = _words(spark, sf_dir)
    even = words.filter(F.col("doc_id") % 2 == 0).select("word")
    odd = words.filter(F.col("doc_id") % 2 == 1).select("word")
    return even.exceptAll(odd)


def q_events_zorder(spark, sf_dir):
    """32-bit Morton code over (user_id, event time) — the clustering
    key that bounds every file's bounding box in BOTH dimensions
    (operators.layout.zorder_value); integer-exact, engine-portable."""
    from shaha_spark.operators.layout import zorder_value

    ev = _events(spark, sf_dir).select("event_id", "user_id", "tus")
    return zorder_value(ev, "user_id", "tus").select("event_id", "zval")


def q_profile_correlation(spark, sf_dir):
    """Deterministic Pearson r between quantity and price — decimal-
    exact sums, fixed double op sequence (operators.profile.pearson_corr;
    engine corr() would drift with partitioning)."""
    from shaha_spark.operators.profile import pearson_corr

    return pearson_corr(
        _t(spark, sf_dir, "lineitem"), "l_quantity", "l_extendedprice"
    )


#: data-quality rules for lineitem — Spark predicate and SQL twin are
#: generated from this single table; quantity_under_30 is DELIBERATELY
#: failing so the report exercises both outcomes
DQ_LINEITEM_RULES_SQL = {
    "quantity_positive": "l_quantity > 0",
    "quantity_under_30": "l_quantity <= 30",
    "discount_in_range": "l_discount >= 0 AND l_discount <= 1",
    "shipdate_not_null": "l_shipdate IS NOT NULL",
    "price_positive": "l_extendedprice > 0",
    "returnflag_domain": "l_returnflag IN ('A', 'N', 'R')",
}


def q_dq_lineitem(spark, sf_dir):
    """Data-quality gate: six expectations over lineitem in ONE
    aggregation pass (operators.checks.check_rules)."""
    from shaha_spark.operators.checks import check_rules

    rules = {
        name: F.expr(sql_pred)
        for name, sql_pred in DQ_LINEITEM_RULES_SQL.items()
    }
    return check_rules(_t(spark, sf_dir, "lineitem"), rules)


#: weighted-sampling normalizer: documents cap out near this length
WEIGHTED_MAX_CHARS = 200.0


def q_sample_weighted(spark, sf_dir):
    """Length-proportional document sampling (importance sampling for
    training mixes): keep probability = n_chars / 200, decided by the
    same cross-engine hash as the uniform sampler."""
    from shaha_spark.operators.sampling import weighted_hash_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_hash_sample(
        docs, "n_chars", WEIGHTED_MAX_CHARS, "doc_id", salt="wr2"
    ).select("doc_id", "n_chars")


def q_tpch_q4(spark, sf_dir):
    """EXISTS → left-semi join: orders (one quarter) with at least one
    late-shipped lineitem, counted per priority. The semi-join never
    multiplies rows, so no post-join dedup is needed."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


def q_tpch_q13(spark, sf_dir):
    """Outer-join distribution: customers by how many non-urgent orders
    they placed, zero included — the join predicate lives IN the outer
    join (a WHERE would silently drop the zero-order customers)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q_part_never_shipped(spark, sf_dir):
    """NOT EXISTS → left-anti join: brands' counts of parts with no
    bulk shipment (quantity >= 45) in the dataset's last window."""
    _utc(spark)
    part = _t(spark, sf_dir, "part")
    shipped = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-06-01").cast("timestamp"))
        & (F.col("l_quantity") >= 45)
    )
    never = part.join(
        shipped, F.col("p_partkey") == F.col("l_partkey"), "left_anti"
    )
    return never.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_parts"))


#: the closed event-type vocabulary (pivot needs an explicit list to
#: stay a single pass — an unlisted pivot triggers a distinct-scan job)
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


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


def q_events_percentiles(spark, sf_dir):
    """Exact p50/p95 of value per event type, explicit-interpolation
    quantiles (operators.profile.group_quantiles)."""
    from shaha_spark.operators.profile import group_quantiles

    return group_quantiles(
        _events(spark, sf_dir), "event_type", "value", [0.5, 0.95]
    )


def q_orders_topk_per_cust(spark, sf_dir):
    """Grouped top-k: each customer's 3 highest-value orders by ranked
    window with a deterministic orderkey tiebreak."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


def q_dedup_incremental(spark, sf_dir):
    """Incremental near-dup ingest: odd-id docs arrive as the new batch
    and are deduped against the persisted signatures of the even-id
    corpus (operators.dedup.incremental_minhash_dedup) — surviving
    new-doc ids."""
    from shaha_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    new_batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_minhash_dedup(
        new_batch, minhash_signatures(existing), threshold=0.7
    )


#: rolling feature window: 7 days in microseconds
ROLLING_WINDOW_US = 7 * 24 * 3600 * 1_000_000


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


def q_events_hll(spark, sf_dir):
    """Deterministic HyperLogLog distinct estimate (p=6) next to the
    exact count — the sketch is register-exact across engines
    (operators.sketch.hll_distinct)."""
    from shaha_spark.operators.sketch import hll_distinct

    ev = _events(spark, sf_dir)
    hll = hll_distinct(ev, "event_id", p=6)
    exact = ev.agg(F.countDistinct("event_id").alias("exact_distinct"))
    return hll.crossJoin(F.broadcast(exact))


#: CMS probe words for the sketch driver query (fixed literals so the
#: Spark and oracle sides are generated from the same list)
CMS_PROBE_WORDS = ["the", "a", "and", "data", "of", "zzz-absent"]


def q_sketch_cms(spark, sf_dir):
    """Count-Min frequency estimates for a fixed probe-word list over
    the document token stream (operators.sketch.cms_frequencies)."""
    from shaha_spark.functions.text import tokens
    from shaha_spark.operators.sketch import cms_frequencies

    words = _t(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("w")
    )
    return cms_frequencies(words, "w", CMS_PROBE_WORDS)


def q_dedup_bloom_screen(spark, sf_dir):
    """Bloom-filter dedup admission: which documents are possibly
    already in the corpus (doc_id % 3 == 0 slice)? No false negatives;
    the bitmap is KB-sized regardless of corpus size
    (operators.sketch.bloom_membership)."""
    from shaha_spark.operators.sketch import bloom_membership

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0).select("text")
    probes = docs.select(F.col("doc_id"), F.col("text"))
    return bloom_membership(corpus, probes, "text", "doc_id").select(
        "doc_id", "maybe_in_corpus"
    )


def q_events_equidepth(spark, sf_dir):
    """Per-event-type equi-depth histogram (8 equal-count buckets over
    value, event_id tiebreak) — operators.profile.equi_depth_histogram."""
    from shaha_spark.operators.profile import equi_depth_histogram

    return equi_depth_histogram(
        _events(spark, sf_dir), "event_type", "value", "event_id", buckets=8
    )


def q_tpch_q7(spark, sf_dir):
    """Volume-shipping shape (TPC-H Q7): bidirectional nation-pair
    revenue by ship year. Nation and supplier broadcast (small dims);
    the orders-customer and lineitem-orders joins shuffle on their
    keys. Decimal-exact revenue."""
    _utc(spark)
    one = F.lit(1).cast("decimal(4,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(4,2)"))
    nat = _t(spark, sf_dir, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pair = (F.col("supp_nation") == "NATION_1") & (
        F.col("cust_nation") == "NATION_2"
    ) | (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def q_tpch_q8(spark, sf_dir):
    """National-market-share shape (TPC-H Q8): NATION_3's share of
    EUROPE-customer PROMO-part revenue by order year — two conditional
    decimal sums, one final division."""
    _utc(spark)
    one = F.lit(1).cast("decimal(4,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(4,2)"))
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    sn = nat.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cn = nat.join(
        F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("c_nk"))
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
    )
    zero = F.lit(0).cast("decimal(12,2)")
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(zero))
            .cast("double")
            .alias("nation_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
        .select(
            "o_year",
            "nation_revenue",
            "total_revenue",
            (F.col("nation_revenue") / F.col("total_revenue")).alias("mkt_share"),
        )
    )


def q_tpch_q9(spark, sf_dir):
    """Product-profit shape (TPC-H Q9, reduced schema: no partsupp →
    profit is discounted revenue) for parts named like '%gear%',
    by supplier nation and order year."""
    _utc(spark)
    one = F.lit(1).cast("decimal(4,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(4,2)"))
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(rev).cast("double").alias("sum_profit"))
    )


def q_events_dim_salted_join(spark, sf_dir):
    """Skew-proof fact-dim join (operators.skew.salted_broadcast_join):
    events join customer on a salted composite key, aggregated per
    market segment. Salt-invariant — the oracle is the plain join."""
    from shaha_spark.operators.skew import salted_broadcast_join

    ev = _events(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer")
    joined = salted_broadcast_join(ev, cust, "user_id", "c_custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_dec("value", "decimal(18,2)")).cast("double").alias("sum_value"),
    )


def q_users_hll_by_type(spark, sf_dir):
    """Per-event-type HLL distinct-user estimates
    (operators.sketch.hll_group_distinct)."""
    from shaha_spark.operators.sketch import hll_group_distinct

    return hll_group_distinct(_events(spark, sf_dir), "event_type", "user_id", p=6)


def q_docs_balanced_sample(spark, sf_dir):
    """Class-balanced corpus downsample: at most 60 documents per
    language by deterministic hash rank
    (operators.sampling.balanced_sample)."""
    from shaha_spark.operators.sampling import balanced_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return balanced_sample(docs, "lang", 60, "doc_id")


def q_events_winsorized(spark, sf_dir):
    """Per-event-type 5/95 quantile clipping
    (operators.profile.winsorize)."""
    from shaha_spark.operators.profile import winsorize

    return winsorize(
        _events(spark, sf_dir), "event_type", "value", "event_id", 0.05, 0.95
    )


def q_docs_chunked(spark, sf_dir):
    """Sliding 32-token windows with 8-token overlap over every
    document (operators.chunking.chunk_documents)."""
    from shaha_spark.operators.chunking import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"), chunk=32, overlap=8)


def q_docs_packed(spark, sf_dir):
    """Deterministic concat-packing of documents into 256-token
    training bins via a distributed running token count
    (operators.chunking.pack_sequences)."""
    from shaha_spark.operators.chunking import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), capacity=256)


#: decontamination n-gram width (the standard exact-overlap guard)
DECONTAM_NGRAM = 8


def q_term_stats(spark, sf_dir):
    """tf / df / ratio-idf weight per (doc, term) — vocabulary-curation
    statistics (operators.terms.term_stats)."""
    from shaha_spark.operators.terms import term_stats

    return term_stats(_t(spark, sf_dir, "documents"))


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: train docs (r2-salted hash split)
    sharing any 8-gram with the eval split, via a distinct-gram join
    (operators.terms.decontaminate)."""
    from shaha_spark.operators.sampling import hash_split
    from shaha_spark.operators.terms import decontaminate

    split = hash_split(
        _t(spark, sf_dir, "documents"), SPLIT_WEIGHTS, "doc_id", salt="r2"
    )
    out = decontaminate(
        split.filter(F.col("split") == "train"),
        split.filter(F.col("split") == "eval"),
        n=DECONTAM_NGRAM,
    )
    return out.select(
        "doc_id", "n_shared_grams", F.col("contaminated").cast("int").alias("contaminated")
    )


SUBSTR_DECONTAM_LEN = 32


def q_docs_substr_decontaminate(spark, sf_dir):
    """Exact-substring decontamination (round 10, VERDICT r9 #6;
    operators.terms.exact_substring_decontaminate): train docs sharing
    any exact 32-char substring with the eval split — the
    suffix-array-class check (Lee et al. 2021) that catches verbatim
    passages word n-grams split differently. Same r2-salted split as
    docs_decontaminate, so the two entries are directly comparable
    (word-level vs char-level contamination sets)."""
    from shaha_spark.operators.sampling import hash_split
    from shaha_spark.operators.terms import exact_substring_decontaminate

    split = hash_split(
        _t(spark, sf_dir, "documents"), SPLIT_WEIGHTS, "doc_id", salt="r2"
    )
    out = exact_substring_decontaminate(
        split.filter(F.col("split") == "train"),
        split.filter(F.col("split") == "eval"),
        min_len=SUBSTR_DECONTAM_LEN,
    )
    return out.select(
        "doc_id",
        "n_shared_spans",
        F.col("contaminated").cast("int").alias("contaminated"),
    )


def q_docs_substr_decontaminate_screened(spark, sf_dir):
    """Scale-path exact-substring decontamination (round 10,
    operators.terms.exact_substring_decontaminate_screened): the
    W-aligned stride screen cuts the TRAIN side's window volume W-fold
    before an exact stride-1 pass over screened docs only — provably
    identical output (pigeonhole: any ≥min_len share contains a
    W-aligned W-window). Same split and parameters as
    docs_substr_decontaminate, and the ORACLE IS THE SAME SQL — a
    value-hash match is a cross-engine proof of the screen's
    exactness, the same pattern as the persisted-index entries reusing
    their in-plan oracles."""
    from shaha_spark.operators.sampling import hash_split
    from shaha_spark.operators.terms import (
        exact_substring_decontaminate_screened,
    )

    split = hash_split(
        _t(spark, sf_dir, "documents"), SPLIT_WEIGHTS, "doc_id", salt="r2"
    )
    out = exact_substring_decontaminate_screened(
        split.filter(F.col("split") == "train"),
        split.filter(F.col("split") == "eval"),
        min_len=SUBSTR_DECONTAM_LEN,
    )
    return out.select(
        "doc_id",
        "n_shared_spans",
        F.col("contaminated").cast("int").alias("contaminated"),
    )


def q_docs_pan_scan(spark, sf_dir):
    """Checksum-verified PAN (payment-card) detection (round 10,
    operators.textops.luhn_scan): candidate 13–19-digit runs are
    verified with the Luhn integer fold — the precision upgrade over
    regex-only PII screens (10% of random digit runs pass Luhn, so
    the checksum cuts the false-positive flood that makes regex-only
    PAN rules unusable at corpus scale). The testdata text carries no
    digits, so the fixture injects deterministic runs per doc_id —
    one valid Visa test number, one spaced run with a BROKEN checksum
    (candidate but not PAN), one dashed valid run — with the same
    expression in the oracle."""
    from shaha_spark.operators.textops import luhn_scan

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    inject = F.when(
        d % 5 < 2,
        F.concat(
            F.lit(" "),
            F.when(d % 3 == 0, F.lit("4532015112830366"))
            .when(d % 3 == 1, F.lit("4532 0151 1283 0367"))
            .otherwise(F.lit("4111-1111-1111-1111")),
        ),
    ).otherwise(F.lit(""))
    fixture = docs.select(
        "doc_id", F.concat(F.col("text"), inject).alias("text")
    )
    return luhn_scan(fixture)


_PAN_FIXTURE_SQL = """SELECT doc_id,
  text || (CASE WHEN doc_id % 5 < 2 THEN ' ' ||
    (CASE WHEN doc_id % 3 = 0 THEN '4532015112830366'
          WHEN doc_id % 3 = 1 THEN '4532 0151 1283 0367'
          ELSE '4111-1111-1111-1111' END)
    ELSE '' END) AS text
FROM documents"""


def _synth_url_col():
    """Deterministic synthetic URL per document — the testdata has no
    URL column, so the fixture derives one from (doc_id, source) with
    every cosmetic-variant axis the canonicalizer must collapse:
    scheme/host casing, www., default port :80 vs explicit :8080,
    trailing slash, tracking params, query-param order. Twin:
    _synth_url_sql (same arithmetic in DuckDB)."""
    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("http")).otherwise(F.lit("HTTP"))
    www = F.when(d % 5 < 2, F.lit("www.")).otherwise(F.lit(""))
    host = (
        F.when(d % 3 == 0, F.concat(F.col("source"), F.lit(".Example.COM")))
        .when(d % 3 == 1, F.concat(F.col("source"), F.lit(".example.com")))
        .otherwise(F.concat(F.col("source"), F.lit(".shop.co.uk")))
    )
    port = (
        F.when(d % 4 == 0, F.lit(":80"))
        .when(d % 4 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = F.concat(F.lit("/p/"), (d % 40).cast("string"))
    slash = F.when(d % 6 == 0, F.lit("/")).otherwise(F.lit(""))
    query = F.when(d % 2 == 0, F.lit("?b=2&a=1")).otherwise(
        F.lit("?a=1&b=2&utm_source=feed")
    )
    return F.concat(
        scheme, F.lit("://"), www, host, port, path, slash, query
    )


_SYNTH_URL_SQL = """(
  (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTP' END) || '://'
  || (CASE WHEN doc_id % 5 < 2 THEN 'www.' ELSE '' END)
  || (CASE WHEN doc_id % 3 = 0 THEN source || '.Example.COM'
           WHEN doc_id % 3 = 1 THEN source || '.example.com'
           ELSE source || '.shop.co.uk' END)
  || (CASE WHEN doc_id % 4 = 0 THEN ':80'
           WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END)
  || '/p/' || CAST(doc_id % 40 AS VARCHAR)
  || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
  || (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1'
           ELSE '?a=1&b=2&utm_source=feed' END)
)"""


def q_docs_url_dedup(spark, sf_dir):
    """URL-level dedup on the canonical URL with registered-domain
    (eTLD+1) attribution (round 10, VERDICT r9 #6;
    operators.dedup.url_dedup + functions/url.py): crawl variants of
    the same page — casing, www., default port, trailing slash,
    tracking params, param order — collapse to one survivor per
    canonical URL; `.shop.co.uk` hosts exercise the multi-label
    public-suffix path of registered_domain."""
    from shaha_spark.operators.dedup import url_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_col().alias("url")
    )
    return url_dedup(docs, "url", "doc_id")


def q_tpch_q5(spark, sf_dir):
    _utc(spark)
    one = F.lit(1).cast("decimal(4,2)")
    disc_price = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(4,2)"))
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(reg, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        # split-cast: per-nation revenue grows with volume in 5 groups
        .agg(_split_cast(F.sum(disc_price), 4).alias("revenue"))
    )


def q_tpch_q6(spark, sf_dir):
    """Forecast-revenue shape: tight range + between predicates, all
    pushdown-eligible, single partial-agg scan."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    revenue = _dec("l_extendedprice") * _dec("l_discount", "decimal(4,2)")
    # split-cast: one global sum — the fastest-growing magnitude shape
    return li.agg(_split_cast(F.sum(revenue), 4).alias("revenue"))


def q_tpch_q18(spark, sf_dir):
    """Large-volume-order shape: HAVING subquery (orders whose total
    quantity exceeds a threshold) semi-joined back into a three-table
    rollup — the IN-subquery semantics the reference's SQL surface
    implies, expressed as aggregate → semi-join."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("__q"))
        .where(F.col("__q") > 250)
        .select("l_orderkey")
    )
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_str"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
    )


def q_tpch_q10(spark, sf_dir):
    """Returned-item revenue shape (TPC-H Q10 on the reduced schema):
    fact-to-fact join filtered on both sides, four-table star, top-20
    by a computed aggregate with a deterministic key tiebreak.  At
    scale the orders/lineitem join shuffles on orderkey while nation
    broadcasts; the limit is driver-side only after a global sort of
    ~|customers| aggregated rows."""
    _utc(spark)
    one = F.lit(1).cast("decimal(4,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(4,2)"))
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_tpch_q14(spark, sf_dir):
    """Promotion-effect shape (TPC-H Q14): conditional aggregation
    ratio — two decimal-exact sums in one pass over the join, a single
    final double division (deterministic: one IEEE op on exact
    operands).  The part side broadcasts; one scan, no second pass for
    the denominator."""
    _utc(spark)
    one = F.lit(1).cast("decimal(4,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(4,2)"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    agg = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            _split_cast(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(12,2)"))),
                4,
            ).alias("promo_revenue"),
            _split_cast(F.sum(rev), 4).alias("total_revenue"),
        )
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")).alias("promo_pct"),
    )


def q_tpch_q15(spark, sf_dir):
    """Top-supplier shape (TPC-H Q15): aggregate-then-scalar-max
    subquery.  The max is a one-row aggregate broadcast back onto the
    per-supplier revenue table (crossJoin of a single row — no
    shuffle), and the equality compares the exact DECIMAL revenue, so
    ties and the max itself are bit-deterministic."""
    _utc(spark)
    one = F.lit(1).cast("decimal(4,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(4,2)"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = li.groupBy("l_suppkey").agg(F.sum(rev).alias("__rev"))
    best = revenue.agg(F.max("__rev").alias("__best"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(best))
        .filter(F.col("__rev") == F.col("__best"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            _split_cast(F.col("__rev"), 4).alias("total_revenue"),
        )
    )


def q_tpch_q17(spark, sf_dir):
    """Small-quantity-order shape (TPC-H Q17): correlated AVG scalar
    subquery per part, rewritten as a window over the brand-filtered
    lineitems — one scan, no diamond self-join (the term_stats
    lesson).  The threshold ``l_quantity < 0.2 * avg(l_quantity)`` is
    rearranged to ``5 * qty * cnt < sum_qty`` so the comparison stays
    in exact DECIMAL arithmetic (no division, no float boundary
    flips); the single final division by 7.0 is one IEEE op."""
    from pyspark.sql import Window

    _utc(spark)
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "inner",
    )
    w = Window.partitionBy("l_partkey")
    qty = _dec("l_quantity")
    enriched = li.select(
        "l_partkey",
        "l_quantity",
        "l_extendedprice",
        F.sum(qty).over(w).alias("__sum_qty"),
        F.count(F.lit(1)).over(w).alias("__cnt"),
    )
    small = enriched.filter(
        qty * F.lit(5) * F.col("__cnt") < F.col("__sum_qty")
    )
    return small.agg(
        (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly")
    )


def q_tpch_q19(spark, sf_dir):
    """Disjunctive-predicate shape (TPC-H Q19): OR-of-ANDs spanning
    both join sides.  Catalyst extracts the common ``p_brand IN``
    /quantity envelope as pushable conjuncts (PushedFilters on both
    scans) and evaluates the residual OR post-join; part broadcasts."""
    _utc(spark)
    one = F.lit(1).cast("decimal(4,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(4,2)"))
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return joined.filter(cond).agg(
        _split_cast(F.sum(rev), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q22(spark, sf_dir):
    """Dormant-customer shape (TPC-H Q22 on the reduced schema):
    uncorrelated scalar AVG subquery (sum-decimal / count — both exact,
    one IEEE division) feeding a filter, then NOT EXISTS against
    urgent orders as a broadcast-able anti-join, aggregated per
    nation.  The anti-join's right side is pre-filtered to urgent
    orders only, so at 100 TB it ships a fraction of the orders
    table."""
    _utc(spark)
    cust = _t(spark, sf_dir, "customer")
    thr = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("__thr")
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    rich = (
        cust.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal").cast("double") > F.col("__thr"))
        .join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
    )
    return rich.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
    )


def q_text_vocab(spark, sf_dir):
    """Top-10 corpus vocabulary (count desc, term asc — deterministic
    at the cut)."""
    from shaha_spark.operators.terms import top_vocab

    return top_vocab(_t(spark, sf_dir, "documents"), 10)


def q_text_oov(spark, sf_dir):
    """Per-doc out-of-vocabulary rate against the broadcast top-10
    vocab — tokenizer-coverage QA for training corpora."""
    from shaha_spark.operators.terms import oov_rate, top_vocab

    docs = _t(spark, sf_dir, "documents")
    return oov_rate(docs, top_vocab(docs, 10))


def q_docs_repetition(spark, sf_dir):
    """Gopher-style repeated-3-gram ratio per document."""
    from shaha_spark.operators.terms import ngram_repetition

    return ngram_repetition(_t(spark, sf_dir, "documents"), 3)


def q_docs_cosine_pairs(spark, sf_dir):
    """Sparse tf-idf cosine near-dup pairs via the inverted-index
    postings bucket join (integer-quantized idf keeps every sum exact,
    so the cosine is bit-deterministic)."""
    from shaha_spark.operators.terms import tf_cosine_pairs

    return tf_cosine_pairs(_t(spark, sf_dir, "documents"), threshold=0.9)


def q_events_redact(spark, sf_dir):
    """Digit-run redaction over the event props payload — the PII
    scrubbing plumbing (dialect-portable character-class regex)."""
    from shaha_spark.operators.textops import redact_numbers

    return redact_numbers(_events(spark, sf_dir), "props", id_col="event_id")


def q_words_lev_pairs(spark, sf_dir):
    """Vocabulary typo/variant pairs within edit distance 2 —
    length-banded blocked join, never O(n²)."""
    from shaha_spark.operators.dedup import levenshtein_pairs

    return levenshtein_pairs(_dwords(spark, sf_dir), "word", max_dist=2)


def q_events_retention(spark, sf_dir):
    """Cohort retention matrix: users bucketed by first-seen day,
    activity counted per (cohort, day-offset) cell. Day indices are
    integer epoch-microsecond division — exact in both engines. The
    cohort attaches as a window over the user partition (single
    lineage, one shuffle on user_id) rather than a groupBy fork."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "user_id", F.expr("tus DIV 86400000000").alias("day")
    )
    d = ev.withColumn("cohort_day", F.min("day").over(Window.partitionBy("user_id")))
    return (
        d.select("user_id", "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def q_events_outliers(spark, sf_dir):
    """Per-event-type z-score anomaly screen (|z| > 3) with
    decimal-exact moments and a NaN-safe degenerate-group guard."""
    from shaha_spark.operators.profile import zscore_outliers

    ev = _events(spark, sf_dir)
    return zscore_outliers(ev, "value", ["event_type"], "event_id", z=3.0)


def q_dedup_minhash_eval(spark, sf_dir):
    """LSH candidate quality vs exact-Jaccard ground truth: one row of
    candidate/truth/hit counts with precision and recall."""
    from shaha_spark.operators.dedup import minhash_eval

    return minhash_eval(_t(spark, sf_dir, "documents"), jaccard_threshold=0.5)


def q_part_filter(spark, sf_dir):
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%small%") & (F.col("p_size") >= 10))
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
    )


def q_events_salted_agg(spark, sf_dir):
    from shaha_spark.operators.skew import salted_count_sum

    ev = _events(spark, sf_dir)
    return salted_count_sum(ev, ["event_type"], "value")


def q_profile_lineitem(spark, sf_dir):
    from shaha_spark.operators.profile import numeric_profile

    return numeric_profile(_t(spark, sf_dir, "lineitem"), "l_extendedprice")


PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

SPLIT_WEIGHTS = {"eval": 0.05, "test": 0.05, "train": 0.9}


def q_sample_documents(spark, sf_dir):
    """Deterministic 10% document sample (hash-membership, not RNG —
    reproducible across engines, partitionings, and re-runs)."""
    from shaha_spark.operators.sampling import hash_sample

    return hash_sample(
        _t(spark, sf_dir, "documents"), 0.1, "doc_id", salt="r2"
    ).select("doc_id", "source")


def q_split_documents(spark, sf_dir):
    """Disjoint exhaustive train/eval/test assignment from the same
    membership hash; per-split counts as the compact verifiable output."""
    from shaha_spark.operators.sampling import hash_split

    split = hash_split(
        _t(spark, sf_dir, "documents"), SPLIT_WEIGHTS, "doc_id", salt="r2"
    )
    return split.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


def q_profile_table(spark, sf_dir):
    """Whole-table numeric profile: one scan, one aggregation, one row
    per column (single-pass at any table width)."""
    from shaha_spark.operators.profile import table_profile

    return table_profile(_t(spark, sf_dir, "lineitem"), PROFILE_COLS)


def q_words_intersect(spark, sf_dir):
    # set op (§2.8): words appearing in BOTH even- and odd-id documents
    words = _words(spark, sf_dir)
    even = words.filter(F.col("doc_id") % 2 == 0).select("word")
    odd = words.filter(F.col("doc_id") % 2 == 1).select("word")
    return even.intersect(odd)


def q_words_except(spark, sf_dir):
    # set op (§2.8): corpus vocabulary EXCEPT the words of document 0.
    # (Asymmetric by construction — any even/odd doc split covers the
    # full vocabulary on both sides and EXCEPTs to the empty set, which
    # would verify nothing.)
    words = _words(spark, sf_dir)
    all_words = words.select("word")
    doc0 = words.filter(F.col("doc_id") == 0).select("word")
    return all_words.subtract(doc0)  # EXCEPT DISTINCT, matching SQL EXCEPT


def q_dedup_exact(spark, sf_dir):
    from shaha_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents")).select("doc_id", "content_md5")


def q_minhash_sigs(spark, sf_dir):
    from shaha_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_t(spark, sf_dir, "documents"))


def q_minhash_pairs(spark, sf_dir):
    from shaha_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    return lsh_candidate_pairs(minhash_signatures(_t(spark, sf_dir, "documents")))


def q_ngram_jaccard(spark, sf_dir):
    from shaha_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    return ngram_jaccard(docs, pairs).filter(F.col("jaccard") >= 0.5)


def q_simhash(spark, sf_dir):
    from shaha_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"))


def q_simhash_pairs(spark, sf_dir):
    from shaha_spark.operators.dedup import simhash, simhash_near_dup_pairs

    fps = simhash(_t(spark, sf_dir, "documents"))
    return simhash_near_dup_pairs(fps, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


def q_minhash_survivors(spark, sf_dir):
    from shaha_spark.operators.dedup import minhash_dedup

    return minhash_dedup(_t(spark, sf_dir, "documents"), threshold=0.7)


def q_dedup_minhash_cc(spark, sf_dir):
    from shaha_spark.operators.components import minhash_dedup_cc

    return minhash_dedup_cc(_t(spark, sf_dir, "documents"), threshold=0.7)


def q_similarity_topk(spark, sf_dir):
    from shaha_spark.operators.similarity import brute_force_topk

    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = brute_force_topk(embs, queries, k=5)
    return res.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank")
    )


def q_similarity_ivf(spark, sf_dir):
    from shaha_spark.operators.similarity import ivf_topk, label_centroids

    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = label_centroids(embs)
    res = ivf_topk(embs, queries, cents, k=5, nprobe=3)
    return res.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank")
    )


def q_kmeans_centroids(spark, sf_dir):
    """Distributed Lloyd k-means (k=4, 2 iterations) — the iterative
    algorithm fully inside the value-hash gate via a per-iteration
    chained-CTE oracle. Output exploded to scalars: one row per
    (centroid, dimension)."""
    from shaha_spark.operators.kmeans import kmeans_fit

    cents = kmeans_fit(_t(spark, sf_dir, "embeddings"), k=4, iters=2)
    return cents.select(
        F.col("centroid_id").cast("bigint").alias("centroid_id"),
        "n_members",
        F.posexplode("centroid").alias("pos", "comp"),
    ).select(
        "centroid_id",
        "n_members",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("comp").cast("double").alias("comp"),
    )


def q_similarity_ivf_kmeans(spark, sf_dir):
    """End-to-end ANN: k-means training feeds IVF probing — the full
    train-then-search pipeline inside one oracle comparison."""
    from shaha_spark.operators.kmeans import kmeans_fit
    from shaha_spark.operators.similarity import ivf_topk

    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = kmeans_fit(embs, k=4, iters=2)
    res = ivf_topk(embs, queries, cents, k=5, nprobe=2)
    return res.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank")
    )


def q_embedding_near_dup(spark, sf_dir):
    from shaha_spark.operators.dedup import embedding_near_dup_pairs

    # 0.4 is calibrated to the synthetic fixture, whose max intra-label
    # cosine is ~0.45-0.47 (random unit-ish vectors, no planted dups);
    # a production near-dup threshold would be ~0.95. Chosen so the
    # oracle comparison exercises real pairs instead of the empty set.
    return embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    )


def q_text_token_count(spark, sf_dir):
    from shaha_spark.operators.textops import token_count

    return token_count(_t(spark, sf_dir, "documents"))


def q_text_quality(spark, sf_dir):
    from shaha_spark.operators.textops import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


def q_text_langid(spark, sf_dir):
    from shaha_spark.operators.textops import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def q_text_fingerprint(spark, sf_dir):
    from shaha_spark.operators.textops import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


def q_multimodal_meta(spark, sf_dir):
    from shaha_spark.operators.multimodal import decode_metadata, media_from_documents

    _ensure_pkg(spark)
    return decode_metadata(media_from_documents(_t(spark, sf_dir, "documents")))


def q_multimodal_frame_count(spark, sf_dir):
    from shaha_spark.operators.multimodal import media_from_documents, sample_frames

    _ensure_pkg(spark)
    frames = sample_frames(media_from_documents(_t(spark, sf_dir, "documents")))
    return frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames"))


def q_tpch_q2(spark, sf_dir):
    """Min-cost-supplier shape (TPC-H Q2, reduced schema: lineitem is
    the part↔supplier bridge): for each 'gear' part, the EUROPE
    supplier quoting the minimum extended price. Correlated scalar
    subquery re-expressed as a per-part window min; all dims broadcast.

    Shape (optimization round 13): the per-part MIN was an aggregate
    joined back to `offers` — the planner gave the join-back a
    SortMergeJoin, so the gear lineitem rows were scanned twice and
    exchanged twice (once raw for the SMJ, once partially aggregated).
    A window MIN over the same p_partkey partitioning computes the
    identical per-part minimum on ONE scan and ONE exchange, and the
    final groupBy(p_partkey, ...) reuses that partitioning (guide
    §2.4). Decimal MIN is order-free, so values are bit-identical."""
    from pyspark.sql import Window

    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nat = _t(spark, sf_dir, "nation").join(
        F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    )
    offers = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(supp.select("s_suppkey", "s_name", "n_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("p_partkey", "p_name", "s_name", "n_name", _dec("l_extendedprice").alias("price"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        offers.withColumn("min_price", F.min("price").over(w))
        .filter(F.col("price") == F.col("min_price"))
        .groupBy("p_partkey", "p_name")
        .agg(
            F.min("s_name").alias("s_name"),
            F.min("min_price").cast("double").alias("min_price"),
        )
    )


def q_tpch_q11(spark, sf_dir):
    """Important-stock shape (TPC-H Q11): per-part shipped value for
    NATION_1 suppliers, kept when above 0.1% of the nation's total — a
    HAVING against a global scalar subquery (computed once, broadcast
    as a one-row literal join, never collected per-group)."""
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    )
    value = _dec("l_extendedprice") * _dec("l_quantity", "decimal(12,2)")
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(supp.select("s_suppkey")),
        F.col("l_suppkey") == F.col("s_suppkey"),
    )
    per_part = li.groupBy("l_partkey").agg(F.sum(value).alias("part_value"))
    total = per_part.agg(F.sum("part_value").alias("total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        # part_value > 0.1% of total, kept exact: scale by integer 1000
        # (decimal x decimal fractions change scale differently across
        # engines; integer scaling stays within exact decimal arithmetic)
        .filter(
            F.col("part_value") * F.lit(1000).cast("decimal(4,0)")
            > F.col("total_value")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("part_value").cast("double").alias("part_value"),
        )
    )


def q_tpch_q12(spark, sf_dir):
    """Shipping-priority-audit shape (TPC-H Q12, reduced schema:
    return-flag classes stand in for ship modes; lateness is shipdate
    > orderdate + 60 days): per class, count of high- vs low-priority
    orders among late-shipped lines — join + conditional aggregation."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return late.groupBy(F.col("l_returnflag").alias("ship_class")).agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
    )


def q_tpch_q16(spark, sf_dir):
    """Supplier-diversity shape (TPC-H Q16): distinct suppliers per
    (brand, type, size) for non-PROMO, non-Brand#9 parts, excluding
    'complaint' suppliers (names ending in 7) via a broadcast
    anti-join — the NOT IN subquery shape."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9") & (F.col("p_type") != "PROMO")
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_name").like("%7")
    ).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q20(spark, sf_dir):
    """Excess-share shape (TPC-H Q20, reduced schema): NATION_2
    suppliers who shipped more than half of some gear part's total
    shipped quantity — nested aggregation (per-(supp,part) vs
    per-part) + semi-join into the supplier dim."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    qty = _dec("l_quantity", "decimal(12,2)")
    # Shape (optimization round 13): the per-part total was a second
    # full aggregation of the gear lineitem rows, SortMergeJoined back
    # to the per-(supplier, part) aggregate — two scans of lineitem and
    # three exchanges of it. Decimal addition is exact and associative,
    # so part_qty == SUM of the per-supplier sums: a window SUM over
    # the already-aggregated per_sp rows computes the identical totals
    # on ONE lineitem scan, exchanging only model-sized aggregate rows
    # (guide §2.3/§2.4). The semi-join side is bounded by the supplier
    # dimension, so it broadcasts (guide §3.1).
    from pyspark.sql import Window

    per_sp = li.groupBy("l_suppkey", "l_partkey").agg(F.sum(qty).alias("supp_qty"))
    w = Window.partitionBy("l_partkey")
    dominant = (
        per_sp.withColumn("part_qty", F.sum("supp_qty").over(w))
        .filter(
            F.col("supp_qty") * F.lit(2).cast("decimal(2,0)") > F.col("part_qty")
        )
        .select("l_suppkey")
        .distinct()
    )
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    )
    # _QUERY boundedness: `dominant` is distinct supplier keys — at most
    # |supplier| rows (a dimension table), projected to one column.
    return supp.join(
        F.broadcast(dominant), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))


def q_tpch_q21(spark, sf_dir):
    """Waiting-orders shape (TPC-H Q21): NATION_1 suppliers who were
    the ONLY late shipper (shipdate > orderdate + 90 days) on a
    multi-supplier order. EXISTS (another supplier on the order) as a
    distinct-count condition, NOT EXISTS (another late supplier) as an
    anti condition — both from one per-order aggregate instead of two
    correlated subqueries, so lineitem is scanned once for the
    order-level facts and once for the candidate rows."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    lo = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "l_suppkey", late.alias("is_late")
    )
    # Shape (optimization round 13): the order-level facts were a
    # groupBy + join-back — the countDistinct pair expanded lo 2x
    # through an Expand, and the join-back SortMergeJoined it against a
    # SECOND scan of the lineitem⋈orders subtree (the two exchange
    # subtrees differ, so nothing was reused). Distinct counts per
    # order are now window collect_sets over ONE exchange of lo by
    # l_orderkey; collect_set drops NULLs exactly as COUNT(DISTINCT ...)
    # does, and the following distinct on (l_orderkey, l_suppkey) and
    # the is_late filter reuse the same partitioning (guide §2.4) — one
    # lineitem scan and one full-table exchange instead of two of each.
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey")
    sole_late = (
        lo.withColumn("n_supps", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "n_late_supps",
            F.size(
                F.collect_set(
                    F.when(F.col("is_late"), F.col("l_suppkey"))
                ).over(w)
            ),
        )
        .filter(
            F.col("is_late")
            & (F.col("n_supps") >= 2)
            & (F.col("n_late_supps") == 1)
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        sole_late.join(
            F.broadcast(supp.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def q_embedding_quantize(spark, sf_dir):
    """Per-dimension affine uint8 quantization of the embedding matrix
    (exact-arithmetic codes — see operators/embeddings.py)."""
    from shaha_spark.operators.embeddings import quantize_int8

    return quantize_int8(_t(spark, sf_dir, "embeddings"))


def q_embedding_bucket_dedup(spark, sf_dir):
    """Sign-bit (orthant) bucket dedup of embeddings: lowest id kept
    per d-bit signature."""
    from shaha_spark.operators.embeddings import dedup_by_bucket

    return dedup_by_bucket(_t(spark, sf_dir, "embeddings"))


def q_embedding_top_pc(spark, sf_dir):
    """Dominant principal direction by integer-exact power iteration
    (2 rounds, 2^20 grid) — bit-identical across engines."""
    from shaha_spark.operators.embeddings import top_principal_component

    return top_principal_component(_t(spark, sf_dir, "embeddings"), iters=2)


def q_docs_unigram_logprob(spark, sf_dir):
    """Per-document average unigram log-likelihood under the corpus LM
    (cheap fluency/quality score; determinism via per-TERM rounded ln
    + decimal-exact per-doc sums)."""
    from shaha_spark.operators.terms import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"))


#: per-language target mixture for docs_mix_resample — chosen to keep
#: all of the smallest stratum while thinning the dominant one; the
#: SQL twin is generated from this same dict.
MIX_RATES: dict[str, float] = {"en": 0.5, "de": 1.0, "es": 0.75, "fr": 0.25, "zh": 0.1}


def q_docs_gopher_filter(spark, sf_dir):
    """Gopher-style rule-based quality filter: per-doc metrics, one
    flag per rule, conjunctive keep decision
    (operators.textops.gopher_rules; Rae et al. 2021 §A.1.1)."""
    from shaha_spark.operators.textops import gopher_rules

    return gopher_rules(_t(spark, sf_dir, "documents"))


def q_docs_mix_resample(spark, sf_dir):
    """Domain-mixture construction: per-language deterministic
    hash-sampling to target rates — downsample the dominant language,
    keep rare ones (operators.sampling.stratified_hash_sample)."""
    from shaha_spark.operators.sampling import stratified_hash_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_hash_sample(docs, "lang", MIX_RATES, "doc_id", salt="mix")


def q_docs_dup_grams(spark, sf_dir):
    """Per-document corpus-duplicate 5-gram fraction — span-level
    boilerplate detection complementing whole-doc MinHash
    (operators.terms.dup_gram_stats)."""
    from shaha_spark.operators.terms import dup_gram_stats

    return dup_gram_stats(_t(spark, sf_dir, "documents"), n=5)


def q_docs_bigram_logprob(spark, sf_dir):
    """Per-document average bigram conditional log-likelihood under the
    corpus's own bigram LM — order-sensitive fluency scoring
    (operators.terms.bigram_logprob)."""
    from shaha_spark.operators.terms import bigram_logprob

    return bigram_logprob(_t(spark, sf_dir, "documents"))


def q_docs_bpe_pairs(spark, sf_dir):
    """Top-20 adjacent character-pair frequencies over the vocabulary —
    the count table for one BPE merge step, tokenizer-training support
    (operators.terms.bpe_pair_counts)."""
    from shaha_spark.operators.terms import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"), k=20)


# --------------------------------------------------------------------
# DuckDB oracle SQL (generated from the same constants)
# --------------------------------------------------------------------

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


def _h28_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 7)) AS BIGINT)"


def _h32_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"


def _sigs_cte() -> str:
    p = MERSENNE_P
    mh_cols = ",\n    ".join(
        f"coalesce(list_min(list_transform(h, v -> ({a} * v + {b}) % {p})), CAST({p} AS BIGINT)) AS mh_{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    return (
        _SHINGLES_CTE
        + f""",
hs AS (
  SELECT doc_id, list_transform(s, x -> {_h28_sql('x')}) AS h FROM sh
),
sigs AS (
  SELECT doc_id,
    {mh_cols}
  FROM hs
)"""
    )


def _bands_cte() -> str:
    selects = []
    for band in range(LSH_BANDS):
        lo = band * LSH_ROWS_PER_BAND
        key = " || '-' || ".join(
            f"CAST(mh_{i} AS VARCHAR)" for i in range(lo, lo + LSH_ROWS_PER_BAND)
        )
        selects.append(
            f"SELECT doc_id, {band} AS band_idx, {key} AS band_key FROM fsigs"
        )
    # shingle-less docs share the all-sentinel signature; exclude before
    # banding (mirrors operators/dedup.lsh_candidate_pairs — at scale the
    # sentinel bucket would be one quadratic mega-bucket)
    return (
        f"fsigs AS (SELECT * FROM sigs WHERE mh_0 <> {MERSENNE_P}),\n"
        "bands AS (\n  " + "\n  UNION ALL\n  ".join(selects) + "\n)"
    )


def _pairs_cte() -> str:
    return (
        _sigs_cte()
        + ",\n"
        + _bands_cte()
        + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""
    )




def _simhash_terms() -> str:
    terms = []
    for j in range(32):
        terms.append(
            f"CASE WHEN 2 * SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE 0 END) - COUNT(*) > 0 "
            f"THEN CAST(1 AS BIGINT) << {j} ELSE 0 END"
        )
    return " + ".join(terms)


def _all_algos_sql() -> str:
    """Oracle for build_all_algos: md5/sha256 computed natively by
    DuckDB; the other seven asserted against the literal known-answer
    table (provenance: scripts/gen_digest_vectors.py)."""
    from shaha_spark.functions.digest_vectors import VECTOR_DIGESTS

    vec_words = sorted(VECTOR_DIGESTS)
    in_list = ", ".join(f"'{w}'" for w in vec_words)
    rows = []
    for w in vec_words:
        for algo, hx in VECTOR_DIGESTS[w].items():
            if algo in ("md5", "sha256"):
                continue
            rows.append(f"('{w}', '{algo}', '{hx}')")
    values = ",\n  ".join(rows)
    return f"""WITH {_DWORDS_CTE},
dw AS (
  SELECT word FROM (SELECT word FROM dwords UNION SELECT 'hello' AS word)
  WHERE word IN ({in_list})
),
vec(preimage, algorithm, hash_hex) AS (VALUES
  {values}
)
SELECT md5(word) AS hash_hex, word AS preimage, 'md5' AS algorithm FROM dw
UNION ALL
SELECT sha256(word) AS hash_hex, word AS preimage, 'sha256' AS algorithm FROM dw
UNION ALL
SELECT v.hash_hex, v.preimage, v.algorithm
FROM vec v JOIN dw ON v.preimage = dw.word"""


def _kmeans_parts(
    k: int = 4,
    iters: int = 2,
    prefix: str = "",
    src: str = "SELECT vec_id, embedding AS e FROM embeddings",
) -> list[str]:
    """CTE parts for the kmeans_fit oracle: one assignment + one
    decimal-exact mean CTE pair per iteration, mirroring
    operators/kmeans.py step for step (init = k lowest ids, cosine
    argmax with id-asc ties, float-rounded means, empty clusters keep
    the previous centroid). Final centroids land in CTE
    ``{prefix}c{iters}``. ``prefix``/``src`` let callers chain several
    independent fits in one statement (the PQ per-subspace codebooks:
    src slices the vector, prefix namespaces the CTEs)."""
    p_ = prefix
    parts = [
        f"{p_}v AS ({src})",
        """{p}c0 AS (
  SELECT centroid_id, cv, CAST(0 AS BIGINT) AS n_members FROM (
    SELECT row_number() OVER (ORDER BY vec_id ASC) AS centroid_id,
           CAST(e AS DOUBLE[]) AS cv
    FROM (SELECT vec_id, e FROM {p}v ORDER BY vec_id ASC LIMIT {k})
  )
)""".format(k=k, p=p_),
    ]
    for i in range(1, iters + 1):
        prev = f"{p_}c{i-1}"
        parts.append(f"""{p_}a{i} AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT v.vec_id, v.e, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM {p_}v v CROSS JOIN {prev} c
  ) WHERE r = 1
)""")
        # NB: comp must widen to DOUBLE before the DECIMAL cast — DuckDB
        # scales FLOAT→DECIMAL in float32 arithmetic, losing ~7 digits
        parts.append(f"""{p_}m{i} AS (
  SELECT centroid_id, p,
         CAST(CAST({_split_cast_sql('SUM(CAST(CAST(comp AS DOUBLE) AS DECIMAL(20,10)))', 10)} / COUNT(*) AS FLOAT) AS DOUBLE) AS m,
         COUNT(*) AS n
  FROM (SELECT centroid_id, unnest(e) AS comp,
               unnest(range(1, len(e) + 1)) AS p FROM {p_}a{i})
  GROUP BY centroid_id, p
)""")
        parts.append(f"""{p_}c{i} AS (
  SELECT p.centroid_id,
         CASE WHEN mv.cv IS NULL THEN p.cv ELSE mv.cv END AS cv,
         CAST(coalesce(mv.n, 0) AS BIGINT) AS n_members
  FROM {prev} p LEFT JOIN (
    SELECT centroid_id, list(m ORDER BY p) AS cv, min(n) AS n
    FROM {p_}m{i} GROUP BY centroid_id
  ) mv USING (centroid_id)
)""")
    return parts


def _kmeans_sql(k: int = 4, iters: int = 2) -> str:
    ctes = ",\n".join(_kmeans_parts(k, iters))
    return f"""WITH {ctes}
SELECT centroid_id, n_members, p - 1 AS pos, comp FROM (
  SELECT centroid_id, n_members, unnest(cv) AS comp,
         unnest(range(1, len(cv) + 1)) AS p
  FROM c{iters}
)"""


def _ivf_kmeans_sql(k: int = 4, iters: int = 2, nprobe: int = 2, topk: int = 5) -> str:
    """End-to-end ANN pipeline oracle: the kmeans CTE chain feeds the
    IVF assignment/probe/rank, so training AND search sit inside one
    value-hash comparison."""
    cent = f"c{iters}"
    parts = _kmeans_parts(k, iters) + [
        """q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
)""",
        f"""fassign AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT v.vec_id, v.e, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM v CROSS JOIN {cent} c
  ) WHERE r = 1
)""",
        f"""probe AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id ASC
           ) AS r
    FROM q CROSS JOIN {cent} c
  ) WHERE r <= {nprobe}
)""",
        """scored AS (
  SELECT p.query_id, a.vec_id,
         round(list_cosine_similarity(CAST(a.e AS DOUBLE[]), p.qv), 6) AS cosine
  FROM fassign a JOIN probe p USING (centroid_id)
)""",
    ]
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {topk}"""


def _ivf_kmeans_append_sql(
    k: int = 4,
    iters: int = 2,
    nprobe: int = 2,
    topk: int = 5,
    base_where: str = "vec_id % 10 != 7",
) -> str:
    """Oracle for the incremental-append IVF index
    (ann_index.append_to_ivf_index): the kmeans chain trains on the
    BASE split only — exactly the rows build_ivf_index saw — while
    assignment and scoring cover the FULL corpus (base ∪ appended
    batch, both routed through the same frozen centroids). Everything
    else is the verbatim `_ivf_kmeans_sql` recipe, so a value-hash
    match proves append(batch) ≡ from-scratch indexing of base ∪ batch
    under base-trained artifacts."""
    cent = f"c{iters}"
    parts = _kmeans_parts(
        k,
        iters,
        src=(
            "SELECT vec_id, embedding AS e FROM embeddings "
            f"WHERE {base_where}"
        ),
    ) + [
        "av AS (SELECT vec_id, embedding AS e FROM embeddings)",
        """q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
)""",
        f"""fassign AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT v.vec_id, v.e, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM av v CROSS JOIN {cent} c
  ) WHERE r = 1
)""",
        f"""probe AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id ASC
           ) AS r
    FROM q CROSS JOIN {cent} c
  ) WHERE r <= {nprobe}
)""",
        """scored AS (
  SELECT p.query_id, a.vec_id,
         round(list_cosine_similarity(CAST(a.e AS DOUBLE[]), p.qv), 6) AS cosine
  FROM fassign a JOIN probe p USING (centroid_id)
)""",
    ]
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {topk}"""


def _langid_scores() -> tuple[str, str]:
    score_cols = []
    for lang in sorted(LANG_STOPWORDS):
        lst = "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]) + "]"
        score_cols.append(
            f"CAST(len(list_filter(t, w -> list_contains({lst}, w))) AS BIGINT) AS score_{lang}"
        )
    langs = sorted(LANG_STOPWORDS)
    m = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = f"CASE WHEN {m} = 0 THEN 'und' "
    pred += " ".join(
        f"WHEN score_{lang} = {m} THEN '{lang}'" for lang in langs[:-1]
    )
    pred += f" ELSE '{langs[-1]}' END"
    return ",\n    ".join(score_cols), pred


def oracle_sql() -> dict[str, str]:
    from shaha_spark.operators.checks import check_rules_sql
    from shaha_spark.operators.graph import pagerank_fixed_sql
    from shaha_spark.operators.layout import zorder_value_sql
    from shaha_spark.operators.profile import (
        group_quantiles_sql,
        histogram_sql,
        pearson_corr_sql,
        split_cast_double_sql,
    )
    from shaha_spark.operators.sampling import bucket_sql
    from shaha_spark.operators.sketch import hll_distinct_sql

    p = MERSENNE_P
    k = FINGERPRINT_K
    stop_en = "[" + ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS) + "]"
    score_cols, pred = _langid_scores()
    sql: dict[str, str] = {}

    sql["wordlist_scan"] = f"WITH {_WORDS_CTE} SELECT word, source FROM words"
    sql["word_dedup"] = f"WITH {_DWORDS_CTE} SELECT word FROM dwords"
    sql["build_sha256"] = (
        f"WITH {_DWORDS_CTE} SELECT sha256(word) AS hash_hex, word AS preimage, "
        "'sha256' AS algorithm FROM dwords"
    )
    sql["build_multi_algo"] = f"WITH {_MULTI_CTE} SELECT * FROM multi"
    sql["build_all_algos"] = _all_algos_sql()
    sql["query_point_lookup"] = (
        f"WITH {_DWORDS_CTE} SELECT sha256(word) AS hash_hex, word AS preimage, "
        f"'sha256' AS algorithm FROM dwords WHERE sha256(word) = '{POINT_SHA256}'"
    )
    sql["query_prefix"] = (
        f"WITH {_DWORDS_CTE} SELECT sha256(word) AS hash_hex, word AS preimage "
        "FROM dwords WHERE sha256(word) LIKE 'b9%'"
    )
    sql["query_algo_filter"] = (
        f"WITH {_MULTI_CTE} SELECT * FROM multi WHERE algorithm = 'md5'"
    )
    sql["query_topk_by_hash"] = (
        f"WITH {_MULTI_CTE} SELECT * FROM multi ORDER BY hash_hex LIMIT 100"
    )
    sql["append_merge"] = f"""WITH {_WORDS_CTE},
flags AS (
  SELECT word, bool_or(doc_id % 2 = 0) AS has_even, bool_or(doc_id % 2 = 1) AS has_odd
  FROM words GROUP BY word
)
SELECT sha256(word) AS hash_hex, word AS preimage, 'sha256' AS algorithm,
  CASE WHEN has_even AND has_odd THEN 'even,odd'
       WHEN has_even THEN 'even' ELSE 'odd' END AS sources_str
FROM flags"""
    sql["db_stats"] = f"""WITH {_MULTI_CTE}
SELECT count(*) AS total_records,
       count(DISTINCT preimage) AS n_preimages,
       string_agg(DISTINCT algorithm, ',' ORDER BY algorithm) AS algorithms_str
FROM multi"""
    sql["build_summary"] = f"""WITH {_WORDS_CTE}
SELECT count(*) AS total_words,
       count(DISTINCT word) AS unique_words,
       count(*) - count(DISTINCT word) AS duplicates,
       count(DISTINCT word) * 2 AS records_to_generate
FROM words"""
    _q1_qty = "SUM(CAST(l_quantity AS DECIMAL(12,2)))"
    _q1_base = "SUM(CAST(l_extendedprice AS DECIMAL(12,2)))"
    _q1_disc = (
        "SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * "
        "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))"
    )
    _q1_charge = (
        "SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * "
        "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * "
        "(CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2))))"
    )
    # split-cast on every sum->double: the scale-6 sum_charge crossed
    # 2^53 unscaled at sf1, where DuckDB's native cast double-rounds
    sql["tpch_q1"] = f"""SELECT l_returnflag, l_linestatus,
  {_split_cast_sql(_q1_qty, 2)} AS sum_qty,
  {_split_cast_sql(_q1_base, 2)} AS sum_base_price,
  {_split_cast_sql(_q1_disc, 4)} AS sum_disc_price,
  {_split_cast_sql(_q1_charge, 6)} AS sum_charge,
  {_split_cast_sql(_q1_qty, 2)} / COUNT(*) AS avg_qty,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""
    # ROLLUP twin: DuckDB's GROUPING(a, b) carries Spark's exact
    # grouping_id bitmask semantics (verified: 0/1/3)
    sql["tpch_q1_rollup"] = f"""SELECT l_returnflag, l_linestatus,
  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
  {_split_cast_sql(_q1_qty, 2)} AS sum_qty,
  {_split_cast_sql(_q1_disc, 4)} AS sum_disc_price,
  {_split_cast_sql(_q1_charge, 6)} AS sum_charge,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY ROLLUP(l_returnflag, l_linestatus)"""

    from shaha_spark.operators.profile import bootstrap_mean_ci_sql, ks_2samp_sql

    sql["events_ks"] = ks_2samp_sql(
        "events", "event_type", "value", "click", "purchase"
    )
    sql["events_bootstrap_ci"] = bootstrap_mean_ci_sql(
        "events", "value", "event_id"
    )

    from shaha_spark.operators.profile import quantile_disc_sql
    from shaha_spark.operators.sampling import weighted_reservoir_sql

    sql["events_quantile_disc"] = quantile_disc_sql(
        "events", "value", _QDISC_QS
    )

    from shaha_spark.operators.regression import autocorr_sql, ols_fit_sql

    sql["events_trend"] = ols_fit_sql(
        "events",
        "event_type",
        f"(epoch_us(ts) // 3600000000) - {_TREND_EPOCH_H}",
        "value",
    )
    sql["events_autocorr"] = autocorr_sql(
        "events",
        ["event_type", "user_id"],
        "epoch_us(ts), event_id",
        "value",
        ["event_type"],
        lag=1,
    )

    from shaha_spark.operators.profile import mutual_info_sql

    sql["docs_mutual_info"] = mutual_info_sql("documents", "lang", "source")

    from shaha_spark.operators.timeseries import ewma_sql

    sql["events_ewma"] = ewma_sql(
        "(SELECT *, epoch_us(ts) AS tus FROM events)",
        ["user_id"],
        "tus, event_id",
        "value",
        alpha=0.25,
        horizon=8,
        select="event_id, user_id",
    )

    from shaha_spark.operators.timeseries import (
        rolling_quantile_sql,
        seasonal_profile_sql,
    )

    sql["events_rolling_median"] = rolling_quantile_sql(
        "(SELECT *, epoch_us(ts) AS tus FROM events)",
        ["user_id"],
        "tus, event_id",
        "value",
        q=0.5,
        window_rows=7,
        out_col="roll_median",
        select="event_id, user_id",
    )
    sql["events_seasonality"] = seasonal_profile_sql(
        "events", "epoch_us(ts)", "value"
    )
    sql["docs_weighted_reservoir"] = weighted_reservoir_sql(
        "documents",
        5,
        "n_chars",
        "doc_id",
        strata_col="source",
        salt="wres8",
        select="source, doc_id, n_chars, res_key",
    )

    sql["tpch_q3"] = """SELECT o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str,
  o_orderpriority,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10"""
    sql["events_hourly"] = """SELECT
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
  event_type,
  count(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2"""
    sql["events_sessionize"] = f"""WITH ordered AS (
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
    sql["events_json_extract"] = (
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value FROM events"
    )
    sql["events_asof_join"] = """WITH su0 AS (
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
    sql["events_interval_join"] = f"""WITH iv AS (
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
    sql["docs_pagerank"] = pagerank_fixed_sql(
        _pairs_cte() + ",\npr_edges AS (SELECT id_a, id_b FROM pairs)",
        iterations=3,
    )
    sql["events_transitions"] = """WITH nxt AS (
  SELECT event_type,
    coalesce(lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id), 'END') AS next_type
  FROM events
)
SELECT event_type, next_type, count(*) AS n FROM nxt GROUP BY 1, 2"""
    sql["events_funnel"] = f"""WITH ordered AS (
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
    sql["events_histogram"] = histogram_sql(
        "(SELECT value FROM events)", "value", bins=12
    )
    qf_t = "(CAST(n - 1 AS DOUBLE) * 0.25)"
    qf_lo = f"max(CASE WHEN rn = CAST(floor({qf_t}) AS BIGINT) THEN quality END) OVER (PARTITION BY source)"
    qf_hi = f"max(CASE WHEN rn = CAST(ceil({qf_t}) AS BIGINT) THEN quality END) OVER (PARTITION BY source)"
    qf_thr = f"{qf_lo} + ({qf_hi} - {qf_lo}) * ({qf_t} - floor({qf_t}))"
    sql["docs_quality_filter"] = f"""WITH base AS (
  SELECT doc_id, text, source, list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), t -> t <> '') AS t FROM documents
),
comp AS (
  SELECT doc_id, source,
    0.4 * least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)
      + 0.3 * least(CASE WHEN len(t) > 0 THEN CAST(list_sum(list_transform(t, w -> length(w))) AS DOUBLE) / len(t) ELSE 0.0 END / 8.0, 1.0)
      + 0.3 * least(CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, w -> list_contains({stop_en}, w))) AS DOUBLE) / len(t) ELSE 0.0 END / 0.2, 1.0) AS quality
  FROM base
),
ranked AS (
  SELECT doc_id, source, quality,
    row_number() OVER (PARTITION BY source ORDER BY quality) - 1 AS rn,
    count(*) OVER (PARTITION BY source) AS n
  FROM comp
),
thr AS (
  SELECT doc_id, source, quality, {qf_thr} AS q_threshold FROM ranked
)
SELECT doc_id, source, quality, q_threshold FROM thr WHERE quality >= q_threshold"""
    sql["text_normalize"] = """SELECT doc_id,
  trim(regexp_replace(regexp_replace(lower(text || '  X!? ' || source), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text
FROM documents"""
    sql["words_except_all"] = f"""WITH {_WORDS_CTE},
even AS (SELECT word FROM words WHERE doc_id % 2 = 0),
odd AS (SELECT word FROM words WHERE doc_id % 2 = 1)
SELECT word FROM even EXCEPT ALL SELECT word FROM odd"""
    sql["events_zorder"] = zorder_value_sql(
        "(SELECT event_id, user_id, epoch_us(ts) AS tus FROM events)",
        "user_id",
        "tus",
        "event_id",
    )
    sql["profile_correlation"] = pearson_corr_sql(
        "lineitem", "l_quantity", "l_extendedprice"
    )
    sql["dq_lineitem"] = check_rules_sql("lineitem", DQ_LINEITEM_RULES_SQL)
    sql["sample_weighted"] = f"""SELECT doc_id, n_chars FROM documents
WHERE CAST({bucket_sql('doc_id', 'wr2')} AS DOUBLE) * {WEIGHTED_MAX_CHARS!r}
  < CAST(n_chars AS DOUBLE) * 10000.0"""
    sql["tpch_q4"] = """SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority"""
    sql["tpch_q13"] = """WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count"""
    sql["part_never_shipped"] = """SELECT p_brand, count(*) AS n_parts
FROM part
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_partkey = p_partkey
    AND l_shipdate >= TIMESTAMP '1998-06-01 00:00:00'
    AND l_quantity >= 45
)
GROUP BY p_brand"""
    pivot_cols = ",\n  ".join(
        f"count(*) FILTER (WHERE event_type = '{t}') AS \"{t}\""
        for t in EVENT_TYPES
    )
    sql["events_pivot"] = f"""SELECT
  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
  {pivot_cols}
FROM events GROUP BY 1"""
    unpivot_arms = "\nUNION ALL\n".join(
        f"SELECT day, '{t}' AS event_type, \"{t}\" AS n_events FROM wide"
        for t in EVENT_TYPES
    )
    sql["events_unpivot"] = f"""WITH wide AS ({sql["events_pivot"]})
{unpivot_arms}"""
    sql["events_percentiles"] = group_quantiles_sql(
        "events", "event_type", "value", [0.5, 0.95]
    )
    sql["orders_topk_per_cust"] = """WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
    ) AS rank
  FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3"""
    sql["events_rolling"] = f"""SELECT event_id, user_id, epoch_us(ts) AS tus,
  count(*) OVER w AS n_7d,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_7d
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY epoch_us(ts)
  RANGE BETWEEN {ROLLING_WINDOW_US} PRECEDING AND CURRENT ROW
)"""
    sql["events_hll_distinct"] = f"""WITH est AS (
  {hll_distinct_sql('events', 'event_id', p=6)}
),
ex AS (SELECT count(DISTINCT event_id) AS exact_distinct FROM events)
SELECT est.hll_estimate, est.n_registers, ex.exact_distinct
FROM est CROSS JOIN ex"""
    from shaha_spark.operators.sketch import (
        bloom_membership_sql,
        cms_frequencies_sql,
    )

    cms_inner = cms_frequencies_sql(
        "(SELECT w FROM (SELECT unnest(regexp_split_to_array(text, '[ \\t\\n\\r]+')) AS w "
        "FROM documents) WHERE w <> '') wq",
        "w",
        CMS_PROBE_WORDS,
    )
    sql["sketch_cms_words"] = cms_inner
    bloom_inner = bloom_membership_sql(
        "SELECT text FROM documents WHERE doc_id % 3 = 0",
        "SELECT doc_id, text FROM documents",
        "text",
        "doc_id",
    )
    sql["dedup_bloom_screen"] = (
        f"SELECT doc_id, maybe_in_corpus FROM ({bloom_inner}) bs"
    )
    from shaha_spark.operators.chunking import (
        chunk_documents_sql,
        pack_sequences_sql,
    )

    from shaha_spark.operators.profile import equi_depth_histogram_sql

    sql["events_equidepth"] = equi_depth_histogram_sql(
        "events", "event_type", "value", "event_id", buckets=8
    )
    _REV = (
        "CAST(l_extendedprice AS DECIMAL(12,2)) * "
        "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
    )
    sql["tpch_q7"] = f"""SELECT sn.n_name AS supp_nation,
  cn.n_name AS cust_nation,
  year(l_shipdate) AS l_year,
  CAST(SUM({_REV}) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY 1, 2, 3"""
    sql["tpch_q8"] = f"""WITH j AS (
  SELECT sn.n_name AS supp_nation, year(o_orderdate) AS o_year,
    {_REV} AS rev
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
)
SELECT o_year,
  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS nation_revenue,
  CAST(SUM(rev) AS DOUBLE) AS total_revenue,
  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
    / CAST(SUM(rev) AS DOUBLE) AS mkt_share
FROM j GROUP BY 1"""
    sql["tpch_q9"] = f"""SELECT n_name AS nation,
  year(o_orderdate) AS o_year,
  CAST(SUM({_REV}) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2"""
    from shaha_spark.operators.profile import winsorize_sql
    from shaha_spark.operators.sampling import balanced_sample_sql
    from shaha_spark.operators.sketch import hll_group_distinct_sql

    sql["events_dim_salted_join"] = """SELECT c_mktsegment,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1"""
    sql["users_hll_by_type"] = hll_group_distinct_sql(
        "events", "event_type", "user_id", p=6
    )
    sql["docs_balanced_sample"] = balanced_sample_sql(
        "(SELECT doc_id, lang FROM documents) d", "lang", 60, "doc_id"
    )
    sql["events_winsorized"] = winsorize_sql(
        "events", "event_type", "value", "event_id", 0.05, 0.95
    )
    sql["docs_chunked"] = chunk_documents_sql("documents", chunk=32, overlap=8)
    sql["docs_packed"] = pack_sequences_sql("documents", capacity=256)
    sql["events_rollup"] = f"""WITH base AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type, value
  FROM events
)
SELECT coalesce(day, 'ALL') AS day, coalesce(event_type, 'ALL') AS event_type,
  count(*) AS n_events,
  {split_cast_double_sql("SUM(CAST(value AS DECIMAL(18,2)))", 2)} AS sum_value
FROM base GROUP BY ROLLUP (day, event_type)"""
    sql["text_term_stats"] = f"""WITH {_WORDS_CTE},
tf AS (SELECT doc_id, word AS term, count(*) AS tf FROM words GROUP BY 1, 2),
tfd AS (SELECT doc_id, term, tf, count(*) OVER (PARTITION BY term) AS df FROM tf),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tfd.doc_id, tfd.term, tfd.tf, tfd.df, n.n_docs,
  CAST(tfd.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(tfd.df AS DOUBLE)) AS weight
FROM tfd CROSS JOIN n"""
    g = DECONTAM_NGRAM
    gram_parts = ", ".join(f"t[i+{j}]" for j in range(g))
    grams_expr = (
        f"CASE WHEN len(t) >= {g} THEN list_transform(range(1, len(t) - {g - 2}), "
        f"i -> concat_ws(' ', {gram_parts})) ELSE CAST([] AS VARCHAR[]) END"
    )
    sql["docs_decontaminate"] = f"""WITH {_TOKS_CTE},
split AS (
  SELECT doc_id, t, {bucket_sql('doc_id', 'r2')} AS bucket FROM toks
),
train_grams AS (
  SELECT DISTINCT doc_id, unnest({grams_expr}) AS gram
  FROM split WHERE bucket >= 1000
),
eval_grams AS (
  SELECT DISTINCT unnest({grams_expr}) AS gram
  FROM split WHERE bucket < 500
),
shared AS (
  SELECT tg.doc_id, count(*) AS n_shared_grams
  FROM train_grams tg JOIN eval_grams eg USING (gram)
  GROUP BY 1
)
SELECT s.doc_id,
  coalesce(sh.n_shared_grams, 0) AS n_shared_grams,
  CAST(coalesce(sh.n_shared_grams, 0) > 0 AS INTEGER) AS contaminated
FROM split s LEFT JOIN shared sh USING (doc_id)
WHERE s.bucket >= 1000"""

    # exact-substring decontamination (r10): the same r2-salted split,
    # char-level stride-1 windows instead of word n-grams — twin built
    # by the operator module so both engines share one recipe
    from shaha_spark.operators.terms import exact_substring_decontaminate_sql

    _sub_base = exact_substring_decontaminate_sql(
        train_select=(
            "SELECT doc_id, text FROM documents WHERE "
            + bucket_sql("doc_id", "r2")
            + " >= 1000"
        ),
        eval_select=(
            "SELECT doc_id, text FROM documents WHERE "
            + bucket_sql("doc_id", "r2")
            + " < 500"
        ),
        min_len=SUBSTR_DECONTAM_LEN,
    )
    sql["docs_substr_decontaminate"] = f"""SELECT doc_id, n_shared_spans,
  CAST(contaminated AS INTEGER) AS contaminated
FROM ({_sub_base})"""
    # the screened scale path must be value-identical to the stride-1
    # operator — same oracle, verbatim (the equivalence proof)
    sql["docs_substr_decontaminate_screened"] = sql[
        "docs_substr_decontaminate"
    ]

    # Luhn PAN detection (r10): twin built by the operator module over
    # the same injected-run fixture
    from shaha_spark.operators.textops import luhn_scan_sql

    sql["docs_pan_scan"] = luhn_scan_sql(_PAN_FIXTURE_SQL)

    # URL canonical dedup (r10): same synthetic-URL arithmetic as the
    # Spark fixture; canonicalizer + registered-domain twins from
    # functions/url.py
    from shaha_spark.functions.url import (
        normalize_url_sql,
        registered_domain_sql,
    )

    sql["docs_url_dedup"] = f"""WITH urls AS (
  SELECT doc_id, {normalize_url_sql(_SYNTH_URL_SQL)} AS canonical_url
  FROM documents
),
g AS (
  SELECT canonical_url, min(doc_id) AS survivor_doc_id,
         CAST(count(*) AS BIGINT) AS n_variants
  FROM urls GROUP BY 1
)
SELECT canonical_url,
  {registered_domain_sql('canonical_url')} AS registered_domain,
  survivor_doc_id, n_variants
FROM g"""
    # volume-growing revenue sums (scale 4): split-cast both engines,
    # same rationale as tpch_q1 (sf1 sweep divergence past 2^53)
    _REV_SUM = (
        "SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * "
        "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))"
    )
    sql["tpch_q5"] = f"""SELECT n_name,
  {_split_cast_sql(_REV_SUM, 4)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name"""
    sql["tpch_q6"] = f"""SELECT
  {_split_cast_sql("SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2)))", 4)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24"""
    sql["tpch_q18"] = """SELECT c_name, c_custkey, o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str,
  CAST(o_totalprice AS DOUBLE) AS o_totalprice,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice"""
    sql["tpch_q10"] = """SELECT c_custkey, c_name,
  CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20"""
    _q14_promo = """SUM(CASE WHEN p_type = 'PROMO'
      THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
      ELSE CAST(0 AS DECIMAL(12,2)) END)"""
    sql["tpch_q14"] = f"""WITH agg AS (
  SELECT
    {_split_cast_sql(_q14_promo, 4)} AS promo_revenue,
    {_split_cast_sql(_REV_SUM, 4)} AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
)
SELECT promo_revenue, total_revenue,
  100.0 * promo_revenue / total_revenue AS promo_pct
FROM agg"""
    sql["tpch_q15"] = f"""WITH revenue AS (
  SELECT l_suppkey,
    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, {_split_cast_sql("rev", 4)} AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE rev = (SELECT MAX(rev) FROM revenue)"""
    sql["tpch_q17"] = """WITH brand_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice,
    SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (PARTITION BY l_partkey) AS sum_qty,
    COUNT(*) OVER (PARTITION BY l_partkey) AS cnt
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4')
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM brand_li
WHERE CAST(l_quantity AS DECIMAL(12,2)) * 5 * cnt < sum_qty"""
    sql["tpch_q19"] = f"""SELECT
  {_split_cast_sql(_REV_SUM, 4)} AS revenue,
  COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)"""
    sql["tpch_q22"] = """WITH thr AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS t
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, COUNT(*) AS numcust,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer, thr
WHERE CAST(c_acctbal AS DOUBLE) > t
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
  )
GROUP BY c_nationkey"""
    sql["text_vocab"] = """WITH toks AS (
  SELECT unnest(regexp_split_to_array(text, '[ \\t\\n\\r]+')) AS term FROM documents
)
SELECT term, CAST(count(*) AS BIGINT) AS n_occurrences
FROM toks WHERE term <> ''
GROUP BY term
ORDER BY n_occurrences DESC, term ASC
LIMIT 10"""
    sql["text_oov"] = """WITH tk AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\r]+')) AS term FROM documents
),
tk2 AS (SELECT doc_id, term FROM tk WHERE term <> ''),
vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS n FROM tk2 GROUP BY term
  ) ORDER BY n DESC, term ASC LIMIT 10
),
per AS (
  SELECT t.doc_id, count(*) AS n_tokens,
    sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM tk2 t LEFT JOIN vocab v ON t.term = v.term
  GROUP BY t.doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
  CAST(COALESCE(n_oov, 0) AS BIGINT) AS n_oov,
  CASE WHEN COALESCE(n_tokens, 0) = 0 THEN 0.0
       ELSE CAST(COALESCE(n_oov, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
  END AS oov_rate
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id"""
    sql["docs_repetition"] = """WITH toks AS (
  SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\r]+') AS l FROM documents
),
z AS (
  SELECT doc_id, unnest(l) AS w, unnest(range(1, len(l) + 1)) AS pos FROM toks
),
z2 AS (SELECT doc_id, w, pos FROM z WHERE w <> ''),
g AS (
  SELECT doc_id,
    concat_ws(' ', w, lead(w, 1) OVER win, lead(w, 2) OVER win) AS gram,
    lead(w, 2) OVER win AS last3
  FROM z2 WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
per AS (
  SELECT doc_id, count(*) AS n_grams, count(DISTINCT gram) AS n_unique_grams
  FROM g WHERE last3 IS NOT NULL GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
  CAST(COALESCE(n_unique_grams, 0) AS BIGINT) AS n_unique_grams,
  CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0.0
       ELSE CAST(n_grams - n_unique_grams AS DOUBLE) / CAST(n_grams AS DOUBLE)
  END AS dup_gram_ratio
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id"""
    sql["docs_cosine_pairs"] = """WITH tk AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\r]+')) AS term FROM documents
),
tk2 AS (SELECT doc_id, term FROM tk WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tk2 GROUP BY 1, 2),
n AS (SELECT count(*) AS nd FROM documents),
w AS (
  SELECT doc_id, term, tf * (nd // df) AS wt
  FROM (SELECT doc_id, term, tf, count(*) OVER (PARTITION BY term) AS df FROM tf), n
),
norms AS (SELECT doc_id, sum(wt * wt) AS nrm FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.wt * b.wt) AS dot
  FROM w a JOIN w b USING (term)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
cosv AS (
  SELECT id_a, id_b,
    CAST(dot AS DOUBLE) / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cosine
  FROM dots
  JOIN norms na ON na.doc_id = id_a
  JOIN norms nb ON nb.doc_id = id_b
)
SELECT id_a, id_b, cosine FROM cosv WHERE cosine >= 0.9"""
    sql["events_redact"] = """SELECT event_id,
  regexp_replace(props, '[0-9]+', '<num>', 'g') AS redacted,
  CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g')) AS BIGINT) AS n_digits
FROM events"""
    sql["words_lev_pairs"] = f"""WITH {_DWORDS_CTE}
SELECT a.word AS word_a, b.word AS word_b,
  CAST(levenshtein(a.word, b.word) AS INTEGER) AS dist
FROM dwords a JOIN dwords b ON a.word < b.word
WHERE levenshtein(a.word, b.word) <= 2"""
    sql["events_retention"] = """WITH e AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM e JOIN c USING (user_id)
GROUP BY 1, 2"""
    from shaha_spark.operators.profile import zscore_outliers_sql

    sql["events_outliers"] = zscore_outliers_sql(
        "events", "value", ["event_type"], "event_id", 3.0
    )
    sql["dedup_minhash_eval"] = f"""WITH {_pairs_cte()},
ex0 AS (SELECT doc_id, unnest(s) AS shv FROM sh),
ex AS (SELECT DISTINCT doc_id, shv FROM ex0),
szs AS (
  SELECT doc_id, shv, COUNT(*) OVER (PARTITION BY doc_id) AS sz FROM ex
),
ov AS (
  SELECT a.doc_id AS t_ia, b.doc_id AS t_ib,
    count(*) AS inter, max(a.sz) AS la, max(b.sz) AS lb
  FROM szs a JOIN szs b ON a.shv = b.shv AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT t_ia, t_ib FROM ov
  WHERE CAST(inter AS DOUBLE) / CAST(la + lb - inter AS DOUBLE) >= 0.5
),
j AS (
  SELECT CASE WHEN p.id_a IS NOT NULL THEN 1 ELSE 0 END AS c,
         CASE WHEN t.t_ia IS NOT NULL THEN 1 ELSE 0 END AS tt
  FROM pairs p FULL OUTER JOIN truth t ON p.id_a = t.t_ia AND p.id_b = t.t_ib
)
SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_candidates,
  CAST(COALESCE(SUM(tt), 0) AS BIGINT) AS n_true,
  CAST(COALESCE(SUM(c * tt), 0) AS BIGINT) AS n_hit,
  CASE WHEN COALESCE(SUM(c), 0) = 0 THEN 1.0
       ELSE CAST(SUM(c * tt) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) END AS lsh_precision,
  CASE WHEN COALESCE(SUM(tt), 0) = 0 THEN 1.0
       ELSE CAST(SUM(c * tt) AS DOUBLE) / CAST(SUM(tt) AS DOUBLE) END AS lsh_recall
FROM j"""
    sql["part_filter"] = """SELECT p_partkey, p_name, p_brand, p_retailprice
FROM part WHERE p_name LIKE '%small%' AND p_size >= 10"""
    sql["events_salted_agg"] = f"""SELECT event_type,
  count(*) AS n_rows,
  {split_cast_double_sql("SUM(CAST(value AS DECIMAL(18,2)))", 2)} AS sum_value
FROM events GROUP BY event_type"""
    from shaha_spark.operators.profile import profile_sql

    sql["profile_lineitem"] = profile_sql("lineitem", "l_extendedprice")
    from shaha_spark.operators.profile import table_profile_sql

    sql["profile_table"] = table_profile_sql("lineitem", PROFILE_COLS)
    sql["words_intersect"] = f"""WITH {_WORDS_CTE}
SELECT word FROM words WHERE doc_id % 2 = 0
INTERSECT
SELECT word FROM words WHERE doc_id % 2 = 1"""
    sql["words_except"] = f"""WITH {_WORDS_CTE}
SELECT word FROM words
EXCEPT
SELECT word FROM words WHERE doc_id = 0"""
    sql["dedup_exact"] = (
        "SELECT min(doc_id) AS doc_id, md5(text) AS content_md5 FROM documents GROUP BY md5(text)"
    )
    mh_names = ", ".join(f"mh_{i}" for i in range(len(MINHASH_PERMS)))
    sql["dedup_minhash_sigs"] = f"WITH {_sigs_cte()} SELECT doc_id, {mh_names} FROM sigs"
    sql["dedup_minhash_pairs"] = f"WITH {_pairs_cte()} SELECT id_a, id_b FROM pairs"
    sql["dedup_ngram_jaccard"] = f"""WITH {_pairs_cte()},
sets AS (SELECT doc_id, list_distinct(s) AS ds FROM sh),
j AS (
  SELECT p.id_a, p.id_b,
    len(list_filter(a.ds, x -> list_contains(b.ds, x))) AS inter,
    len(a.ds) AS la, len(b.ds) AS lb
  FROM pairs p JOIN sets a ON a.doc_id = p.id_a JOIN sets b ON b.doc_id = p.id_b
)
SELECT id_a, id_b,
  CASE WHEN la + lb - inter > 0 THEN CAST(inter AS DOUBLE) / (la + lb - inter) ELSE 0.0 END AS jaccard
FROM j
WHERE CASE WHEN la + lb - inter > 0 THEN CAST(inter AS DOUBLE) / (la + lb - inter) ELSE 0.0 END >= 0.5"""
    k_perms = len(MINHASH_PERMS)
    match_terms = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END" for i in range(k_perms)
    )
    sql["dedup_minhash_survivors"] = f"""WITH {_pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({match_terms} AS DOUBLE) / {k_perms} AS est_jaccard
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
),
losers AS (SELECT DISTINCT id_b AS doc_id FROM sims WHERE est_jaccard >= 0.7)
SELECT d.doc_id FROM documents d LEFT JOIN losers l USING (doc_id) WHERE l.doc_id IS NULL"""
    sql["dedup_incremental"] = f"""WITH {_sigs_cte()},
{_bands_cte()},
cross_pairs AS (
  SELECT DISTINCT o.doc_id AS id_a, n.doc_id AS id_b
  FROM bands o JOIN bands n
    ON o.band_idx = n.band_idx AND o.band_key = n.band_key
  WHERE o.doc_id % 2 = 0 AND n.doc_id % 2 = 1
),
new_pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
    AND a.doc_id < b.doc_id
  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 1
),
all_pairs AS (SELECT * FROM cross_pairs UNION SELECT * FROM new_pairs),
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({match_terms} AS DOUBLE) / {k_perms} AS est_jaccard
  FROM all_pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
),
losers AS (SELECT DISTINCT id_b AS doc_id FROM sims WHERE est_jaccard >= 0.7)
SELECT d.doc_id FROM documents d LEFT JOIN losers l USING (doc_id)
WHERE d.doc_id % 2 = 1 AND l.doc_id IS NULL"""
    # transitive (connected-components) variant: the oracle states the
    # fixpoint directly — comp(v) = min id reachable from v — as a
    # recursive CTE, independent of the Spark loop's iteration count
    sql["dedup_minhash_cc"] = f"""WITH RECURSIVE {_pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({match_terms} AS DOUBLE) / {k_perms} AS est_jaccard
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
),
ed AS (
  SELECT id_a AS src, id_b AS dst FROM sims WHERE est_jaccard >= 0.7
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM sims WHERE est_jaccard >= 0.7
),
reach(id, comp) AS (
  SELECT src, src FROM ed
  UNION
  SELECT e.src, r.comp FROM ed e JOIN reach r ON r.id = e.dst
),
comp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
cc_losers AS (SELECT id AS doc_id FROM comp WHERE comp <> id)
SELECT d.doc_id FROM documents d LEFT JOIN cc_losers l USING (doc_id) WHERE l.doc_id IS NULL"""
    # leakage-safe cluster split (r11): the SAME recursive-CTE fixpoint
    # supplies each doc's component representative; the split is the
    # hash_split bucket CASE applied to the REPRESENTATIVE (salt "cs"),
    # identical thresholds to split_documents (eval<500, test<1000)
    sql["docs_cluster_split"] = f"""WITH RECURSIVE {_pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({match_terms} AS DOUBLE) / {k_perms} AS est_jaccard
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
),
ed AS (
  SELECT id_a AS src, id_b AS dst FROM sims WHERE est_jaccard >= 0.7
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM sims WHERE est_jaccard >= 0.7
),
reach(id, comp) AS (
  SELECT src, src FROM ed
  UNION
  SELECT e.src, r.comp FROM ed e JOIN reach r ON r.id = e.dst
),
comp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
rep AS (
  SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster_rep
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
),
bk AS (
  SELECT doc_id, cluster_rep,
         {bucket_sql('cluster_rep', 'cs')} AS bucket
  FROM rep
)
SELECT doc_id, cluster_rep,
  CASE WHEN bucket < 500 THEN 'eval'
       WHEN bucket < 1000 THEN 'test'
       ELSE 'train' END AS split
FROM bk"""
    # split-composition audit (r12, VERDICT r11 #3): aggregate the
    # verified cluster-split assignment — the SAME recursive-CTE chain,
    # nested as the twin's src — into per-split counts, observed vs
    # target fractions, skew, and max component size per split
    from shaha_spark.operators.sampling import split_balance_sql

    sql["docs_split_balance"] = split_balance_sql(
        sql["docs_cluster_split"], SPLIT_WEIGHTS, cluster_col="cluster_rep"
    )
    sql["dedup_simhash_pairs"] = f"""WITH {_TOKS_CTE},
tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
h AS (SELECT doc_id, {_h32_sql('w')} AS hv FROM tok),
agg AS (SELECT doc_id, CAST({_simhash_terms()} AS BIGINT) AS sh FROM h GROUP BY doc_id),
fps AS (
  SELECT d.doc_id, CAST(coalesce(a.sh, 0) AS BIGINT) AS simhash
  FROM documents d LEFT JOIN agg a USING (doc_id)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""
    sql["dedup_simhash"] = f"""WITH {_TOKS_CTE},
tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
h AS (SELECT doc_id, {_h32_sql('w')} AS hv FROM tok),
agg AS (SELECT doc_id, CAST({_simhash_terms()} AS BIGINT) AS sh FROM h GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(a.sh, 0) AS BIGINT) AS simhash
FROM documents d LEFT JOIN agg a USING (doc_id)"""
    sql["similarity_topk"] = """WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, vec_id, round(list_cosine_similarity(cv, qv), 6) AS cosine
  FROM c, q
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5"""
    # IVF ANN: same deterministic construction as operators/similarity.py —
    # decimal-exact centroid means cast through FLOAT, argmax assignment and
    # nprobe probing as row_number windows with (sim DESC, id ASC) tiebreaks.
    sql["similarity_ivf"] = f"""WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
pos AS (
  SELECT label, unnest(embedding) AS comp,
         unnest(range(1, len(embedding) + 1)) AS p
  FROM embeddings
),
cent AS (
  SELECT label AS centroid_id, p,
         CAST(CAST({_split_cast_sql('SUM(CAST(CAST(comp AS DOUBLE) AS DECIMAL(20,10)))', 10)} / COUNT(*) AS FLOAT) AS DOUBLE) AS m
  FROM pos GROUP BY label, p
),
cvec AS (SELECT centroid_id, list(m ORDER BY p) AS cv FROM cent GROUP BY centroid_id),
assign AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT v.vec_id, v.e, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(v.e, c.cv) DESC, c.centroid_id ASC
           ) AS r
    FROM v CROSS JOIN cvec c
  ) WHERE r = 1
),
probe AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id ASC
           ) AS r
    FROM q CROSS JOIN cvec c
  ) WHERE r <= 3
),
scored AS (
  SELECT p.query_id, a.vec_id, round(list_cosine_similarity(a.e, p.qv), 6) AS cosine
  FROM assign a JOIN probe p USING (centroid_id)
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5"""
    from shaha_spark.operators.sampling import bucket_sql

    sql["sample_documents"] = (
        "SELECT doc_id, source FROM documents "
        f"WHERE {bucket_sql('doc_id', 'r2')} < 1000"
    )
    # bucket ranges in sorted split-name order: eval [0,500), test
    # [500,1000), train [1000,10000) — mirrors sampling.hash_split
    sql["split_documents"] = f"""WITH b AS (
  SELECT {bucket_sql('doc_id', 'r2')} AS bucket FROM documents
)
SELECT CASE WHEN bucket < 500 THEN 'eval'
            WHEN bucket < 1000 THEN 'test'
            ELSE 'train' END AS split,
       count(*) AS n_docs
FROM b GROUP BY 1"""
    sql["kmeans_centroids"] = _kmeans_sql(k=4, iters=2)
    sql["similarity_ivf_kmeans"] = _ivf_kmeans_sql(k=4, iters=2, nprobe=2, topk=5)
    sql["embedding_near_dup"] = """WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.e, b.e), 6) AS cosine
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4"""
    sql["text_token_count"] = f"""SELECT doc_id,
  CAST(len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), t -> t <> '')) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS BIGINT) AS n_pieces
FROM documents"""
    sql["text_quality"] = f"""WITH base AS (
  SELECT doc_id, text, list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), t -> t <> '') AS t FROM documents
),
comp AS (
  SELECT doc_id,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(t) AS BIGINT) AS n_tokens,
    CASE WHEN len(t) > 0 THEN CAST(list_sum(list_transform(t, w -> length(w))) AS DOUBLE) / len(t) ELSE 0.0 END AS mean_token_len,
    CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, w -> list_contains({stop_en}, w))) AS DOUBLE) / len(t) ELSE 0.0 END AS stopword_ratio
  FROM base
)
SELECT doc_id, n_chars, n_tokens, mean_token_len, stopword_ratio,
  0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
      + 0.3 * least(mean_token_len / 8.0, 1.0)
      + 0.3 * least(stopword_ratio / 0.2, 1.0) AS quality
FROM comp"""
    sql["text_langid"] = f"""WITH {_TOKS_CTE},
scored AS (
  SELECT doc_id,
    {score_cols}
  FROM toks
)
SELECT doc_id, score_de, score_en, score_es, score_fr,
  {pred} AS lang_pred
FROM scored"""
    sql["text_fingerprint"] = f"""WITH {_TOKS_CTE},
pos AS (
  SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t) + 1)) AS p FROM toks
),
terms AS (
  SELECT doc_id, ((p * {k}) % {MERSENNE_P}) * {_h28_sql('w')} % {MERSENNE_P} AS term FROM pos
),
agg AS (SELECT doc_id, SUM(term) % {MERSENNE_P} AS fp FROM terms GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(a.fp, 0) AS BIGINT) AS fingerprint
FROM documents d LEFT JOIN agg a USING (doc_id)"""
    sql["multimodal_meta"] = f"""SELECT doc_id AS media_id,
  CAST(strlen(text) AS BIGINT) AS n_bytes,
  (['jpeg', 'png', 'webp'])[(strlen(text) % 3) + 1] AS format,
  CAST(64 + strlen(text) % 512 AS INTEGER) AS width,
  CAST(64 + (strlen(text) * 31) % 512 AS INTEGER) AS height
FROM documents"""
    sql["multimodal_frame_count"] = """SELECT doc_id AS media_id,
  CAST(least(4, greatest(1, strlen(text) // 32)) AS BIGINT) AS n_frames
FROM documents"""
    sql["tpch_q2"] = """WITH offers AS (
  SELECT p_partkey, p_name, s_name, n_name,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS price
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_name LIKE '%gear%' AND r_name = 'EUROPE'
),
best AS (SELECT p_partkey, MIN(price) AS min_price FROM offers GROUP BY p_partkey)
SELECT o.p_partkey, o.p_name,
       MIN(o.s_name) AS s_name,
       CAST(MIN(b.min_price) AS DOUBLE) AS min_price
FROM offers o JOIN best b ON o.p_partkey = b.p_partkey AND o.price = b.min_price
GROUP BY o.p_partkey, o.p_name"""
    sql["tpch_q11"] = """WITH pv AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS part_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_1'
  GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, CAST(part_value AS DOUBLE) AS part_value
FROM pv, (SELECT SUM(part_value) AS total_value FROM pv)
WHERE part_value * 1000 > total_value"""
    sql["tpch_q12"] = """SELECT l_returnflag AS ship_class,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag"""
    sql["tpch_q16"] = """SELECT p_brand, p_type, p_size,
  COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#9' AND p_type <> 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p_brand, p_type, p_size"""
    sql["tpch_q20"] = """WITH g AS (
  SELECT l_suppkey, l_partkey, CAST(l_quantity AS DECIMAL(12,2)) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%gear%'
),
per_sp AS (SELECT l_suppkey, l_partkey, SUM(qty) AS supp_qty FROM g GROUP BY l_suppkey, l_partkey),
per_p AS (SELECT l_partkey, SUM(qty) AS part_qty FROM g GROUP BY l_partkey),
dominant AS (
  SELECT DISTINCT l_suppkey FROM per_sp JOIN per_p USING (l_partkey)
  WHERE supp_qty * 2 > part_qty
)
SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_2' AND s_suppkey IN (SELECT l_suppkey FROM dominant)"""
    sql["tpch_q21"] = """WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 90 DAY AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supps,
         COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supps
  FROM lo GROUP BY l_orderkey
),
sole AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lo JOIN per_order USING (l_orderkey)
  WHERE is_late AND n_supps >= 2 AND n_late_supps = 1
)
SELECT s_name, COUNT(*) AS numwait
FROM sole
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_1'
GROUP BY s_name"""
    _EMB_STATS = """v AS (SELECT vec_id, embedding AS e FROM embeddings),
x AS (SELECT vec_id, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS p FROM v),
s AS (SELECT p, CAST(min(x) AS DOUBLE) AS mn, CAST(max(x) AS DOUBLE) AS mx FROM x GROUP BY p)"""
    sql["embedding_quantize"] = f"""WITH {_EMB_STATS}
SELECT vec_id, p - 1 AS pos,
  CASE WHEN mx = mn THEN 0
       ELSE LEAST(255, CAST(FLOOR((CAST(x AS DOUBLE) - mn) / (mx - mn) * 256.0) AS INTEGER))
  END AS code
FROM x JOIN s USING (p)"""
    sql["embedding_bucket_dedup"] = f"""WITH {_EMB_STATS},
sig AS (
  SELECT vec_id,
         string_agg(CASE WHEN CAST(x AS DOUBLE) >= (mn + mx) / 2.0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
  FROM x JOIN s USING (p) GROUP BY vec_id
)
SELECT bucket, MIN(vec_id) AS keep_id, COUNT(*) AS n_members FROM sig GROUP BY bucket"""
    # integer-exact power iteration: mirrors operators/embeddings.py
    # step for step (decimal-exact float-rounded means -> 2^20 grid ->
    # two exact matvecs in HUGEINT/DEC38 -> one rounded normalization)
    sql["embedding_top_pc"] = f"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
x AS (SELECT vec_id, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS p FROM v),
m AS (
  SELECT p,
         CAST(CAST({_split_cast_sql('SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(25,10)))', 10)} / COUNT(*) AS FLOAT) AS DOUBLE) AS m
  FROM x GROUP BY p
),
g AS (
  SELECT vec_id, p, CAST(FLOOR((CAST(x AS DOUBLE) - m) * 1048576.0) AS BIGINT) AS xq
  FROM x JOIN m USING (p)
),
d1 AS (SELECT vec_id, SUM(CAST(xq AS HUGEINT)) AS dot FROM g GROUP BY vec_id),
u1 AS (SELECT p, SUM(CAST(xq AS HUGEINT) * dot) AS u FROM g JOIN d1 USING (vec_id) GROUP BY p),
d2 AS (SELECT vec_id, SUM(CAST(xq AS HUGEINT) * u) AS dot FROM g JOIN u1 USING (p) GROUP BY vec_id),
u2 AS (SELECT p, SUM(CAST(xq AS HUGEINT) * dot) AS u FROM g JOIN d2 USING (vec_id) GROUP BY p),
mx AS (SELECT MAX(ABS(u)) AS sc FROM u2)
SELECT p - 1 AS pos, ROUND(CAST(u AS DOUBLE) / CAST(sc AS DOUBLE), 9) AS comp FROM u2, mx"""
    sql["docs_unigram_logprob"] = f"""WITH {_WORDS_CTE},
toks AS (SELECT doc_id, word AS term FROM words),
lm AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
lp AS (
  SELECT term,
         CAST(ROUND(LN(CAST(tf AS DOUBLE) / CAST(total AS DOUBLE)), 8) AS DECIMAL(20,8)) AS lp
  FROM lm, (SELECT SUM(tf) AS total FROM lm)
)
SELECT doc_id, COUNT(*) AS n_tokens,
       {_split_cast_sql('SUM(lp)', 8)} / COUNT(*) AS avg_logprob
FROM toks JOIN lp USING (term)
GROUP BY doc_id"""
    stops_in = "(" + ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS) + ")"
    sql["docs_gopher_filter"] = f"""WITH {_WORDS_CTE},
agg AS (
  SELECT doc_id, count(*) AS n_tokens, SUM(len(word)) AS sum_len,
    SUM(CASE WHEN regexp_matches(word, '[a-zA-Z]') THEN 1 ELSE 0 END) AS n_alpha,
    SUM(CASE WHEN regexp_matches(word, '[^a-zA-Z0-9]') THEN 1 ELSE 0 END) AS n_sym,
    SUM(CASE WHEN word IN {stops_in} THEN 1 ELSE 0 END) AS n_stop
  FROM words GROUP BY 1),
m AS (
  SELECT d.doc_id,
    CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
    CASE WHEN coalesce(a.n_tokens, 0) > 0 THEN CAST(a.sum_len AS DOUBLE) / a.n_tokens ELSE 0.0 END AS mean_token_len,
    CASE WHEN coalesce(a.n_tokens, 0) > 0 THEN CAST(a.n_sym AS DOUBLE) / a.n_tokens ELSE 0.0 END AS symbol_ratio,
    CASE WHEN coalesce(a.n_tokens, 0) > 0 THEN CAST(a.n_alpha AS DOUBLE) / a.n_tokens ELSE 0.0 END AS alpha_ratio,
    CAST(coalesce(a.n_stop, 0) AS BIGINT) AS n_stopwords
  FROM documents d LEFT JOIN agg a USING (doc_id))
SELECT *,
  pass_count * pass_mean_len * pass_symbols * pass_alpha * pass_stopwords AS keep
FROM (SELECT *,
  CAST(n_tokens >= 20 AND n_tokens <= 90 AS INTEGER) AS pass_count,
  CAST(mean_token_len >= 3.0 AND mean_token_len <= 10.0 AS INTEGER) AS pass_mean_len,
  CAST(symbol_ratio <= 0.1 AS INTEGER) AS pass_symbols,
  CAST(alpha_ratio >= 0.8 AS INTEGER) AS pass_alpha,
  CAST(n_stopwords >= 2 AS INTEGER) AS pass_stopwords FROM m)"""
    mix_cases = " ".join(
        f"WHEN lang = '{v}' THEN {int(r * 10_000)}"
        for v, r in sorted(MIX_RATES.items())
    )
    sql["docs_mix_resample"] = f"""SELECT doc_id, lang, source FROM documents
WHERE {bucket_sql('doc_id', 'mix')} < CASE {mix_cases} ELSE 0 END"""
    g = 5
    gram_parts = ", ".join(f"t[i+{j}]" for j in range(g))
    grams5 = (
        f"CASE WHEN len(t) >= {g} THEN list_transform(range(1, len(t) - {g - 2}), "
        f"i -> concat_ws(' ', {gram_parts})) ELSE CAST([] AS VARCHAR[]) END"
    )
    sql["docs_dup_grams"] = f"""WITH {_TOKS_CTE},
grams AS (SELECT DISTINCT doc_id, unnest({grams5}) AS gram FROM toks),
gd AS (SELECT doc_id, count(*) OVER (PARTITION BY gram) AS gdf FROM grams)
SELECT doc_id, count(*) AS n_grams,
  CAST(SUM(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
  CAST(SUM(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_fraction
FROM gd GROUP BY doc_id"""
    sql["docs_bigram_logprob"] = f"""WITH {_TOKS_CTE},
pairs AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
cc AS (SELECT w1, w2, c2, SUM(c2) OVER (PARTITION BY w1) AS c1 FROM c2),
lp AS (SELECT w1, w2,
  CAST(ROUND(LN(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)), 8) AS DECIMAL(20,8)) AS lp FROM cc)
SELECT doc_id, count(*) AS n_bigrams,
  {_split_cast_sql('SUM(lp)', 8)} / count(*) AS avg_logprob
FROM pairs JOIN lp USING (w1, w2) GROUP BY doc_id"""
    sql["docs_bpe_pairs"] = f"""WITH {_WORDS_CTE},
vocab AS (SELECT word AS term, count(*) AS freq FROM words GROUP BY 1),
pr AS (SELECT substr(term, i, 2) AS pair, freq
       FROM (SELECT term, freq, unnest(range(1, len(term))) AS i FROM vocab
             WHERE len(term) >= 2))
SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
FROM pr GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20"""
    # ---- round-12 concept ops (VERDICT r11 #6) ----
    # (a) cross-split contamination invariant: the verified
    # cluster-split assignment (nested CTE chain) audited pre/post the
    # verified exact-substring decontamination — post must be all-zero
    from shaha_spark.operators.terms import (
        cross_split_contamination_sql,
        exact_substring_decontaminate_sql,
    )

    _xs_pre_docs = (
        "SELECT d.doc_id, d.text, a.split FROM documents d JOIN ("
        + sql["docs_cluster_split"]
        + ") a USING (doc_id)"
    )
    _xs_train = f"SELECT doc_id, text FROM ({_xs_pre_docs}) WHERE split = 'train'"
    _xs_held = f"SELECT doc_id, text FROM ({_xs_pre_docs}) WHERE split <> 'train'"
    _xs_post_docs = f"""SELECT pd.doc_id, pd.text, pd.split
FROM ({_xs_pre_docs}) pd
LEFT JOIN ({exact_substring_decontaminate_sql(_xs_train, _xs_held, SUBSTR_DECONTAM_LEN)}) fl
  USING (doc_id)
WHERE pd.split <> 'train' OR coalesce(fl.contaminated, FALSE) = FALSE"""
    sql["docs_cross_split_contamination"] = f"""SELECT 'pre_decontaminate' AS phase, * FROM (
{cross_split_contamination_sql(_xs_pre_docs, min_len=SUBSTR_DECONTAM_LEN, cte_prefix="xs1")})
UNION ALL
SELECT 'post_decontaminate' AS phase, * FROM (
{cross_split_contamination_sql(_xs_post_docs, min_len=SUBSTR_DECONTAM_LEN, cte_prefix="xs2")})"""
    # (b) BPE tokenizer fertility: the FULL 8-step training chain in
    # SQL — per-step pair counts over the evolving vocabulary
    # segmentation, argmax with bpe_train's exact (cnt DESC, l, r)
    # tiebreak, and the greedy left-to-right non-overlapping merge as
    # a list_reduce fold over the space-delimited segmentation (a
    # merged symbol absorbs its right neighbour WITHOUT the separator,
    # mirroring _merge_pair_expr). Unlike docs_bpe_encode's
    # roundtrip-only oracle, this twin predicts SEGMENTATION CONTENT
    # (piece counts), closing that gap for the fertility signal.
    sql["docs_bpe_fertility"] = _bpe_fertility_sql()
    # (c) per-doc quality-signal bundle: the verified text_quality /
    # text_langid / gopher / licence / URL-policy twins joined on the
    # doc id — the RedPajama-v2 "corpus ships with its annotations"
    # artifact shape
    from shaha_spark.operators.dedup import url_policy_scan_sql
    from shaha_spark.operators.textops import license_scan_sql

    _qb_url = url_policy_scan_sql(
        f"SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents",
        "url",
        blocked_domains=("shop.co.uk",),
        blocked_patterns=("/p/3[0-9]",),
    )
    sql["docs_quality_bundle"] = f"""WITH qb_q AS ({sql["text_quality"]}),
qb_l AS ({sql["text_langid"]}),
qb_g AS ({sql["docs_gopher_filter"]}),
qb_lic AS ({license_scan_sql("SELECT doc_id, text FROM documents")}),
qb_u AS ({_qb_url})
SELECT q.doc_id, q.n_chars, q.n_tokens, q.mean_token_len, q.stopword_ratio,
  q.quality, l.lang_pred, g.symbol_ratio, g.alpha_ratio,
  CAST(g.keep AS INTEGER) AS gopher_keep,
  lic.license, CAST(lic.open_license AS INTEGER) AS open_license,
  u.registered_domain, u.block_reason, CAST(u.blocked AS INTEGER) AS url_blocked
FROM qb_q q
JOIN qb_l l USING (doc_id)
JOIN qb_g g USING (doc_id)
JOIN qb_lic lic USING (doc_id)
JOIN qb_u u USING (doc_id)"""
    # ---- round-12 widening: charclass scan, vocabulary growth,
    # cross-source duplication matrix (extension layer) ----
    from shaha_spark.operators.dedup import near_dup_source_matrix_sql
    from shaha_spark.operators.terms import vocab_growth_sql
    from shaha_spark.operators.textops import charclass_scan_sql

    sql["docs_charclass"] = (
        "SELECT * REPLACE (CAST(suspect AS INTEGER) AS suspect) FROM ("
        + charclass_scan_sql("SELECT doc_id, text FROM documents")
        + ")"
    )
    sql["docs_vocab_growth"] = vocab_growth_sql(
        "SELECT doc_id, text FROM documents", salt="vg"
    )
    # the matrix's edge list is the verified minhash-sims chain at the
    # family's 0.7 threshold (same sims CTE as dedup_minhash_survivors)
    _sm_edges = f"""WITH {_pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({match_terms} AS DOUBLE) / {k_perms} AS est_jaccard
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
)
SELECT id_a, id_b FROM sims WHERE est_jaccard >= 0.7"""
    sql["docs_dup_source_matrix"] = (
        "SELECT * REPLACE (CAST(cross_source AS INTEGER) AS cross_source) FROM ("
        + near_dup_source_matrix_sql(
            "SELECT doc_id, source FROM documents", _sm_edges
        )
        + ")"
    )
    # ---- round-12 widening, second batch: Zipf slope + SSL-prototypes ----
    from shaha_spark.operators.terms import zipf_slope_sql

    sql["docs_zipf_slope"] = zipf_slope_sql("SELECT doc_id, text FROM documents")
    # prototypicality: the kmeans CTE chain supplies the centroids; the
    # assignment argmax (unrounded sim, centroid-id-asc ties) is the
    # verified fassign recipe of _ivf_kmeans_sql, keeping the rounded
    # cosine as the signal
    _pr_ctes = ",\n".join(_kmeans_parts(4, 2))
    sql["emb_prototypicality"] = f"""WITH {_pr_ctes},
pr_a AS (
  SELECT vec_id, centroid_id,
         round(list_cosine_similarity(CAST(e AS DOUBLE[]), cv), 6) AS proto_cos
  FROM (
    SELECT v.vec_id, v.e, c.centroid_id, c.cv,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM v CROSS JOIN c2 c
  ) WHERE r = 1
)
SELECT vec_id, centroid_id, proto_cos,
  CAST(proto_cos >= 0.35 AS INTEGER) AS prototypical
FROM pr_a"""
    # cluster-health report: the same chain aggregated to k rows, with
    # the decimal-exact mean recipe and the empty-cluster spine
    from shaha_spark.operators.profile import split_cast_double_sql

    _cp_mean = split_cast_double_sql("cp.s", 6)
    sql["emb_cluster_profile"] = f"""WITH {_pr_ctes},
pr_a AS (
  SELECT vec_id, centroid_id,
         round(list_cosine_similarity(CAST(e AS DOUBLE[]), cv), 6) AS proto_cos
  FROM (
    SELECT v.vec_id, v.e, c.centroid_id, c.cv,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM v CROSS JOIN c2 c
  ) WHERE r = 1
),
cp AS (
  SELECT centroid_id, CAST(count(*) AS BIGINT) AS n,
         SUM(CAST(proto_cos AS DECIMAL(20,6))) AS s,
         CAST(sum(CASE WHEN proto_cos >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS np
  FROM pr_a GROUP BY 1
)
SELECT c.centroid_id,
  CAST(coalesce(cp.n, 0) AS BIGINT) AS n_members,
  CASE WHEN cp.n > 0 THEN {_cp_mean} / CAST(cp.n AS DOUBLE) END AS mean_cos,
  CASE WHEN cp.n > 0 THEN CAST(cp.np AS DOUBLE) / CAST(cp.n AS DOUBLE) END
    AS proto_frac
FROM c2 c LEFT JOIN cp USING (centroid_id)"""
    sql.update(oracle_sql_r4())
    return sql


def _bpe_fertility_sql(num_merges: int = 8, min_count: int = 2,
                       thresh: float = 1.5) -> str:
    """The docs_bpe_fertility oracle: in-SQL BPE training + encode +
    per-doc fertility aggregation (see oracle_sql for the derivation
    notes; prototype-proved merge-for-merge identical to bpe_train at
    sf0.001 and sf0.01)."""
    steps = []
    for k in range(1, num_merges + 1):
        prev = f"bf_seg{k - 1}"
        steps.append(f"""bf_p{k} AS (
  SELECT l[i] AS lft, l[i+1] AS rgt, SUM(freq) AS cnt
  FROM (SELECT string_split(seg, ' ') AS l, freq,
               unnest(range(1, len(string_split(seg, ' ')))) AS i
        FROM {prev})
  GROUP BY 1, 2
),
bf_m{k} AS (SELECT lft, rgt FROM bf_p{k} WHERE cnt >= {min_count}
            ORDER BY cnt DESC, lft, rgt LIMIT 1),
bf_seg{k} AS (
  SELECT s.term, s.freq,
    CASE WHEN m.lft IS NULL THEN s.seg
         ELSE list_reduce(string_split(s.seg, ' '),
              (a, x) -> CASE WHEN (a = m.lft OR ends_with(a, ' ' || m.lft))
                              AND x = m.rgt
                        THEN a || x ELSE a || ' ' || x END)
    END AS seg
  FROM {prev} s LEFT JOIN bf_m{k} m ON TRUE
)""")
    chain = ",\n".join(steps)
    return f"""WITH {_WORDS_CTE},
bf_vocab AS (SELECT word AS term, count(*) AS freq FROM words GROUP BY 1),
bf_seg0 AS (SELECT term, freq,
            rtrim(regexp_replace(term, '(.)', '\\1 ', 'g')) AS seg FROM bf_vocab),
{chain},
bf_pieces AS (SELECT term, len(string_split(seg, ' ')) AS n_p
              FROM bf_seg{num_merges}),
bf_tok AS (SELECT doc_id, word AS term FROM words),
bf_doc AS (
  SELECT t.doc_id,
    CAST(count(*) AS BIGINT) AS n_tokens,
    CAST(SUM(p.n_p) AS BIGINT) AS n_pieces,
    CAST(SUM(len(t.term)) AS BIGINT) AS n_chars
  FROM bf_tok t JOIN bf_pieces p USING (term) GROUP BY 1
)
SELECT d.doc_id,
  coalesce(b.n_tokens, 0) AS n_tokens,
  coalesce(b.n_pieces, 0) AS n_pieces,
  coalesce(b.n_chars, 0) AS n_chars,
  CASE WHEN coalesce(b.n_tokens, 0) > 0
       THEN round(CAST(b.n_pieces AS DOUBLE) / b.n_tokens, 9) END AS fertility,
  CASE WHEN coalesce(b.n_pieces, 0) > 0
       THEN round(CAST(b.n_chars AS DOUBLE) / b.n_pieces, 9)
       END AS chars_per_piece,
  CASE WHEN coalesce(b.n_pieces, 0) > 0
       THEN CAST(round(CAST(b.n_chars AS DOUBLE) / b.n_pieces, 9) < {thresh}
                 AS INTEGER) END AS low_compression
FROM documents d LEFT JOIN bf_doc b USING (doc_id)"""


# --------------------------------------------------------------------
# Driver entry points
# --------------------------------------------------------------------

#: Oracles whose contract is deliberately WEAKER than a full
#: value-equivalence twin. Rendered into COVERAGE.md by
#: scripts/gen_coverage_registry.py so the weaker contract is never
#: presented as a full oracle. Keep entries short and factual.
def local_oracle_sql() -> dict[str, str]:
    """Oracles that require :func:`local_oracle_setup` on the DuckDB
    connection first (Python-API scalar UDFs via ``create_function``).

    NOT merged into :func:`oracle_sql`: the driver's gate runs the
    oracle strings on a plain connection and cannot register custom
    functions, so these entries stay rows-only there. The local suite
    (tests/test_oracle.py) runs them through the driver's exact
    comparison (columns + rows + full-precision values), closing the
    "DuckDB lacks sha256(BLOB)" gap at the component level."""
    return {
        # hash256 = SHA256(SHA256(x)) — Bitcoin txid style
        # (ref src/hasher/mod.rs:63-75)
        "build_hash256": (
            f"WITH {_DWORDS_CTE} SELECT "
            "lower(hex(sha256_bin(sha256_bin(encode(word))))) AS hash_hex, "
            "word AS preimage, 'hash256' AS algorithm FROM dwords"
        ),
    }


def local_oracle_setup(con) -> None:
    """Register the scalar functions :func:`local_oracle_sql` needs.

    ``sha256_bin`` is the binary-in/binary-out SHA-256 DuckDB's SQL
    surface lacks (its builtin ``sha256`` returns hex VARCHAR and, in
    DuckDB 1.x, has no BLOB-returning form to compose double-hashing
    from)."""
    import hashlib

    from duckdb.typing import BLOB

    con.create_function(
        "sha256_bin", lambda b: hashlib.sha256(b).digest(), [BLOB], BLOB
    )


ORACLE_CONTRACT_NOTES: dict[str, str] = {
    "docs_bpe_encode": (
        "roundtrip-only oracle: the DuckDB twin checks row multiplicity "
        "and decode(encode(term)) == term per token occurrence, not "
        "which merges fired; segmentation content is pinned by "
        "known-answer + pure-Python-reference tests "
        "(tests/test_terms.py, tests/test_curation_new.py)"
    ),
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the multi-algorithm
    hash-database build projection (the engine's core pipeline)."""
    return q_build_multi_algo(spark, "/root/testdata/sf0.001")


#: Round-9 driver-window ordering. Anchor-rule check at rotation time:
#: NO operator's semantics changed after its latest driver-green row
#: (the six round-8 additions went green first-window in
#: CORRECTNESS_r08). Mid-round, the rescan-lint tightening (VERDICT
#: r8 #4) restructured several plans; three of them changed a
#: DERIVATION (not just a checkpoint boundary) AFTER their r08 green
#: rows and are ANCHORED per the standing rule:
#: ``events_quantile_disc`` (single fact scan; __n derived from the
#: bucket totals), ``events_ks`` (bucket totals from pre-window
#: counts), ``words_collocations`` (token total as sum over the
#: checkpointed unigram counts). The other rescan fixes are pure
#: lazy-localCheckpoint insertions — bit-identical by construction,
#: re-proved by the full local oracle suite. Next come round 9's FOUR
#: NEW never-driver-verified entries (events_rolling_median,
#: events_seasonality, docs_isotonic — concept-grep, VERDICT r8 #8 —
#: and emb_ivf_pq_index_topk, the persisted IVF-PQ index round trip).
#: Remaining slots are the mechanical least-recently-verified backfill
#: from scripts/plan_window.py — the r04/r05 tail displaced by round
#: 8's anchors+new entries (see WINDOW_r9.txt); docs_postings_stats,
#: docs_curated, docs_trigram_backoff (displaced by the anchors) and
#: emb_pq_topk, emb_ivf_pq_topk, docs_bpe_encode, docs_char_entropy
#: (displaced by the four new entries) roll to r10.
#: Entries allowed to precede the never-driver-verified block in the
#: registry (tests/test_coverage_guard.py): re-verification anchors
#: whose current derivation postdates their newest driver row.
#: Round 13 (all post-r12-green optimization-round changes):
#: tpch_q2/q20/q21 were restructured (window over the agg's
#: partitioning, 570f1b5); events_bootstrap_ci's uniform derivation
#: changed (conv halving, bit-identity pinned); docs_split_balance's
#: SQL TWIN was rewritten (NULL-group fix, e5919f3 — the oracle side
#: itself changed, so the driver row re-proves the pairing);
#: dedup_minhash_cc / dedup_cluster_sizes / docs_cluster_split consume
#: connected_components, which gained pointer doubling (bf2c21d);
#: events_rollup_incremental's merge became union+re-agg (8e53ab4);
#: dq_referential groups shared children (cf0050d); orders_basket_rules
#: / orders_pair_triangles ride the posexplode+slice pair expansion
#: (add5977).
WINDOW_ANCHORS: list[str] = [
    "tpch_q2", "tpch_q20", "tpch_q21", "events_bootstrap_ci",
    "docs_split_balance", "dedup_minhash_cc",
    "events_rollup_incremental", "dq_referential",
    "orders_basket_rules", "orders_pair_triangles",
    "dedup_cluster_sizes", "docs_cluster_split",
]

R13_WINDOW_ORDER = [
    # anchors (derivations changed post-r12-green; driver re-proof)
    "tpch_q2", "tpch_q20", "tpch_q21", "events_bootstrap_ci",
    "docs_split_balance", "dedup_minhash_cc",
    "events_rollup_incremental", "dq_referential",
    "orders_basket_rules", "orders_pair_triangles",
    "dedup_cluster_sizes", "docs_cluster_split",
    # least-recently-verified backfill (scripts/plan_window.py): the
    # r08 cohort — the oldest greens in the registry
    "events_trend", "events_autocorr", "events_ewma",
    "docs_mutual_info", "docs_packed", "tpch_q12", "similarity_ivf",
    "emb_sq_topk", "emb_prefix_topk", "events_cube",
    "events_nearest_join", "events_cdc_snapshot", "emb_prefix_ndcg",
    "snapshot_time_travel", "multimodal_dedup",
    "events_cumulative_users", "docs_bm25", "snapshot_row_diff",
    "docs_clf_report", "docs_calibration", "docs_auc", "docs_overview",
    "dq_functional", "events_value_percentile",
    "events_audience_overlap", "docs_hapax_ratio", "emb_silhouette",
    "docs_freshness", "events_streaks", "events_benford",
    "words_freq_of_freqs", "events_cohort_value", "users_survival",
    "docs_rank_fusion", "events_active_time",
    "lineitem_weighted_median", "events_session_paths",
    "events_mean_shift",
]

R12_WINDOW_ORDER = [
    # anchors (derivations changed post-r11-green; driver re-proof)
    "emb_ivf_index_append_topk", "emb_ivf_pq_index_append_topk",
    "emb_ivf_index_topk", "emb_ivf_pq_index_topk",
    "emb_ivf_pq_refine_topk", "docs_url_policy",
    # round-12 additions — never driver-verified, must sit in-window
    "docs_split_balance", "docs_cross_split_contamination",
    "docs_bpe_fertility", "docs_quality_bundle",
    "docs_charclass", "docs_vocab_growth", "docs_dup_source_matrix",
    "docs_zipf_slope", "emb_prototypicality", "emb_cluster_profile",
    # least-recently-verified backfill (scripts/plan_window.py): the
    # remaining r07 cohort, then the r08 cohort
    "events_funnel", "events_transitions", "sample_documents",
    "sample_weighted", "split_documents", "words_except_all",
    "text_normalize", "docs_quality_filter", "dedup_minhash_cc",
    "dedup_incremental", "docs_pagerank", "kmeans_centroids",
    "similarity_ivf_kmeans", "tpch_q2", "tpch_q11", "tpch_q16",
    "tpch_q20", "tpch_q21", "embedding_quantize",
    "embedding_bucket_dedup", "embedding_top_pc",
    "docs_unigram_logprob", "docs_gopher_filter", "docs_mix_resample",
    "docs_dup_grams", "docs_bigram_logprob", "docs_bpe_pairs",
    "build_multi_algo", "query_point_lookup", "append_merge",
    "events_rolling", "events_hll_distinct",
    "events_bootstrap_ci", "docs_weighted_reservoir",
]

R11_WINDOW_ORDER = [
    # anchors (derivations changed post-r10-green; driver re-proof)
    "docs_url_dedup",
    "emb_ivf_index_append_topk", "emb_ivf_pq_index_append_topk",
    "emb_ivf_index_topk", "emb_ivf_pq_index_topk",
    # round-11 additions — never driver-verified, must sit in-window
    "docs_contamination_report", "docs_domain_importance",
    "docs_license_scan", "docs_url_policy", "emb_ivf_pq_refine_topk",
    "docs_cluster_split",
    # least-recently-verified backfill (scripts/plan_window.py): the
    # r06 cohort (oldest greens in the registry), then the r07 cohort
    "events_redact", "words_lev_pairs", "events_retention",
    "events_outliers", "dedup_minhash_eval", "part_filter",
    "events_salted_agg", "events_hourly", "events_sessionize",
    "events_json_extract", "events_asof_join", "events_interval_join",
    "events_rollup", "text_term_stats", "docs_decontaminate",
    "tpch_q4", "tpch_q13", "part_never_shipped", "events_pivot",
    "events_unpivot", "orders_kcore",
    "sketch_cms_words", "dedup_bloom_screen", "docs_chunked",
    "events_equidepth", "events_dim_salted_join", "users_hll_by_type",
    "docs_balanced_sample", "events_winsorized", "tpch_q7", "tpch_q8",
    "tpch_q9", "events_zorder", "events_percentiles",
    "orders_topk_per_cust", "profile_table", "profile_correlation",
    "dq_lineitem", "events_histogram",
]

R10_WINDOW_ORDER = [
    # anchors (derivations changed post-r09-green; driver re-proof)
    "events_rolling_median", "docs_isotonic",
    "emb_ivf_index_topk", "emb_ivf_pq_index_topk",
    # round-10 additions — never driver-verified, must sit in-window
    "emb_ivf_index_append_topk", "emb_ivf_pq_index_append_topk",
    "docs_substr_decontaminate", "docs_substr_decontaminate_screened",
    "docs_url_dedup", "docs_pan_scan",
    # least-recently-verified backfill (scripts/plan_window.py): first
    # the r05 cohort displaced by round 9's anchors+new entries —
    # oldest greens in the registry — then the r06 cohort
    "emb_pq_topk", "emb_ivf_pq_topk", "docs_bpe_encode",
    "docs_char_entropy", "docs_trigram_backoff", "docs_curated",
    "docs_postings_stats", "docs_phrase_search", "docs_winnowing",
    "docs_token_budget", "emb_diverse_sample", "emb_hard_negatives",
    "emb_knn_accuracy",
    "tpch_q1_rollup", "multimodal_frame_count", "wordlist_scan",
    "word_dedup", "build_sha256", "build_hash256", "build_all_algos",
    "query_prefix", "query_algo_filter", "query_topk_by_hash",
    "db_stats", "build_summary", "tpch_q1", "tpch_q3", "tpch_q5",
    "tpch_q6", "tpch_q18", "tpch_q10", "tpch_q14", "tpch_q15",
    "tpch_q17", "tpch_q19", "tpch_q22", "text_vocab", "text_oov",
    "docs_repetition", "docs_cosine_pairs",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering matters: the driver's correctness harness checks the FIRST 50
    # entries only. Round-13 layout: 12 re-verification anchors (see
    # WINDOW_ANCHORS — every declared query whose derivation, or whose
    # SQL twin, changed after its newest green driver row in this
    # optimization round), then the mechanical least-recently-verified
    # backfill from scripts/plan_window.py (the r08 cohort — oldest
    # greens in the registry); everything else keeps its registry order
    # after it. tests/test_coverage_guard.py enforces the invariant.
    merged = dict(_queries_prior())
    merged.update(queries_r4())
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in R13_WINDOW_ORDER:
        out[name] = merged[name]
    for name, fn in merged.items():
        out.setdefault(name, fn)
    return out


def _queries_prior() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # round-6 additions (oracled in the main oracle_sql section)
        "tpch_q1_rollup": q_tpch_q1_rollup,
        "events_ks": q_events_ks,
        "events_bootstrap_ci": q_events_bootstrap_ci,
        # round-8 additions (concept-grep, VERDICT r7 #6)
        "events_quantile_disc": q_events_quantile_disc,
        "docs_weighted_reservoir": q_docs_weighted_reservoir,
        "events_trend": q_events_trend,
        "events_autocorr": q_events_autocorr,
        "events_ewma": q_events_ewma,
        "docs_mutual_info": q_docs_mutual_info,
        # round-9 additions (concept-grep, VERDICT r8 #8; docs_isotonic
        # registers in queries_r4 — its oracle reuses the r4 scorer CTE)
        "events_rolling_median": q_events_rolling_median,
        "events_seasonality": q_events_seasonality,
        "sketch_cms_words": q_sketch_cms,
        "dedup_bloom_screen": q_dedup_bloom_screen,
        "docs_chunked": q_docs_chunked,
        "docs_packed": q_docs_packed,
        "events_equidepth": q_events_equidepth,
        "events_dim_salted_join": q_events_dim_salted_join,
        "users_hll_by_type": q_users_hll_by_type,
        "docs_balanced_sample": q_docs_balanced_sample,
        "events_winsorized": q_events_winsorized,
        "tpch_q7": q_tpch_q7,
        "tpch_q8": q_tpch_q8,
        "tpch_q9": q_tpch_q9,
        "events_zorder": q_events_zorder,
        "events_percentiles": q_events_percentiles,
        "orders_topk_per_cust": q_orders_topk_per_cust,
        "profile_table": q_profile_table,
        "profile_correlation": q_profile_correlation,
        "dq_lineitem": q_dq_lineitem,
        "events_histogram": q_events_histogram,
        "events_funnel": q_events_funnel,
        "events_transitions": q_events_transitions,
        "sample_documents": q_sample_documents,
        "sample_weighted": q_sample_weighted,
        "split_documents": q_split_documents,
        "words_except_all": q_words_except_all,
        "text_normalize": q_text_normalize,
        "docs_quality_filter": q_docs_quality_filter,
        "dedup_minhash_cc": q_dedup_minhash_cc,
        "dedup_incremental": q_dedup_incremental,
        "docs_pagerank": q_docs_pagerank,
        "kmeans_centroids": q_kmeans_centroids,
        "similarity_ivf_kmeans": q_similarity_ivf_kmeans,
        "tpch_q2": q_tpch_q2,
        "tpch_q11": q_tpch_q11,
        "tpch_q12": q_tpch_q12,
        "tpch_q16": q_tpch_q16,
        "tpch_q20": q_tpch_q20,
        "tpch_q21": q_tpch_q21,
        "embedding_quantize": q_embedding_quantize,
        "embedding_bucket_dedup": q_embedding_bucket_dedup,
        "embedding_top_pc": q_embedding_top_pc,
        "docs_unigram_logprob": q_docs_unigram_logprob,
        "docs_gopher_filter": q_docs_gopher_filter,
        "docs_mix_resample": q_docs_mix_resample,
        "docs_dup_grams": q_docs_dup_grams,
        "docs_bigram_logprob": q_docs_bigram_logprob,
        "docs_bpe_pairs": q_docs_bpe_pairs,
        "build_multi_algo": q_build_multi_algo,
        "query_point_lookup": q_point_lookup,
        "append_merge": q_append_merge,
        "profile_lineitem": q_profile_lineitem,
        "words_intersect": q_words_intersect,
        "words_except": q_words_except,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_sigs": q_minhash_sigs,
        "dedup_minhash_pairs": q_minhash_pairs,
        "dedup_ngram_jaccard": q_ngram_jaccard,
        "dedup_simhash": q_simhash,
        "dedup_simhash_pairs": q_simhash_pairs,
        "dedup_minhash_survivors": q_minhash_survivors,
        "similarity_topk": q_similarity_topk,
        "similarity_ivf": q_similarity_ivf,
        "embedding_near_dup": q_embedding_near_dup,
        "text_token_count": q_text_token_count,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_fingerprint": q_text_fingerprint,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_frame_count": q_multimodal_frame_count,
        "wordlist_scan": q_wordlist_scan,
        "word_dedup": q_word_dedup,
        "build_sha256": q_build_sha256,
        "build_hash256": q_build_hash256,
        "build_all_algos": q_build_all_algos,
        "query_prefix": q_prefix,
        "query_algo_filter": q_algo_filter,
        "query_topk_by_hash": q_topk_by_hash,
        "db_stats": q_db_stats,
        "build_summary": q_build_summary,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "tpch_q6": q_tpch_q6,
        "tpch_q18": q_tpch_q18,
        "tpch_q10": q_tpch_q10,
        "tpch_q14": q_tpch_q14,
        "tpch_q15": q_tpch_q15,
        "tpch_q17": q_tpch_q17,
        "tpch_q19": q_tpch_q19,
        "tpch_q22": q_tpch_q22,
        "text_vocab": q_text_vocab,
        "text_oov": q_text_oov,
        "docs_repetition": q_docs_repetition,
        "docs_cosine_pairs": q_docs_cosine_pairs,
        "events_redact": q_events_redact,
        "words_lev_pairs": q_words_lev_pairs,
        "events_retention": q_events_retention,
        "events_outliers": q_events_outliers,
        "dedup_minhash_eval": q_dedup_minhash_eval,
        "part_filter": q_part_filter,
        "events_salted_agg": q_events_salted_agg,
        "events_hourly": q_events_hourly,
        "events_sessionize": q_events_sessionize,
        "events_json_extract": q_events_json,
        "events_asof_join": q_events_asof,
        "events_interval_join": q_events_interval,
        "events_rollup": q_events_rollup,
        "text_term_stats": q_term_stats,
        "docs_decontaminate": q_decontaminate,
        # round-11 addition whose oracle composes the main section's
        # minhash-CC recursive CTE (hence registered here, not in
        # queries_r4 — test_oracle_r4 pins r4 queries to r4 oracles)
        "docs_cluster_split": q_docs_cluster_split,
        # round-12 addition composing the same CC chain (VERDICT r11 #3)
        "docs_split_balance": q_docs_split_balance,
        # round-12 concept ops (VERDICT r11 #6); oracles compose
        # main-section CTEs, so they register here, not in queries_r4
        "docs_cross_split_contamination": q_docs_cross_split_contamination,
        "docs_bpe_fertility": q_docs_bpe_fertility,
        "docs_quality_bundle": q_docs_quality_bundle,
        # round-12 widening (charclass / vocab growth / source matrix);
        # the matrix oracle composes the main-section sims CTE
        "docs_charclass": q_docs_charclass,
        "docs_vocab_growth": q_docs_vocab_growth,
        "docs_dup_source_matrix": q_docs_dup_source_matrix,
        # second widening batch (Zipf slope / SSL-prototypes); the
        # prototypicality oracle composes the main-section kmeans CTEs
        "docs_zipf_slope": q_docs_zipf_slope,
        "emb_prototypicality": q_emb_prototypicality,
        "emb_cluster_profile": q_emb_cluster_profile,
        # round-10 additions (concept-grep, VERDICT r9 #6)
        "docs_substr_decontaminate": q_docs_substr_decontaminate,
        "docs_substr_decontaminate_screened": (
            q_docs_substr_decontaminate_screened
        ),
        "docs_url_dedup": q_docs_url_dedup,
        "docs_pan_scan": q_docs_pan_scan,
        "tpch_q4": q_tpch_q4,
        "tpch_q13": q_tpch_q13,
        "part_never_shipped": q_part_never_shipped,
        "events_pivot": q_events_pivot,
        "events_unpivot": q_events_unpivot,
        "events_rolling": q_events_rolling,
        "events_hll_distinct": q_events_hll,
    }


# --------------------------------------------------------------------
# Round-4 registrations (merged from the former _r4_staging module;
# staged in round 3, locally oracle-verified by tests/test_oracle_r4.py
# before entering the driver window).
# --------------------------------------------------------------------

from shaha_spark.operators.sampling import bucket_sql, h28_sql

# ----------------------------------------------------------- queries

LOGREG_DIM = 64
#: fixed deterministic demo weights for the scoring registration:
#: w_i = ((i*37) % 21 - 10) / 10  in [-1.0, 1.0]
LOGREG_WEIGHTS = [((i * 37) % 21 - 10) / 10.0 for i in range(LOGREG_DIM)]


def q_docs_line_dedup(spark, sf_dir):
    """Corpus-duplicate line removal (operators.dedup.dedup_duplicate_lines).
    Testdata texts are single-line, which exercises the degenerate-but-
    valid case: exact-duplicate texts across >=2 docs scrub entirely."""
    from shaha_spark.operators.dedup import dedup_duplicate_lines

    return dedup_duplicate_lines(_t(spark, sf_dir, "documents"), min_docs=2)


def q_docs_dup_span_removed(spark, sf_dir):
    """Exact-substring span removal at 5-gram granularity
    (operators.terms.remove_dup_gram_spans)."""
    from shaha_spark.operators.terms import remove_dup_gram_spans

    return remove_dup_gram_spans(_t(spark, sf_dir, "documents"), n=5)


def q_docs_temperature_rates(spark, sf_dir):
    """Per-language temperature-mixture sampling rates, alpha=0.7
    (operators.sampling.temperature_rates)."""
    from shaha_spark.operators.sampling import temperature_rates

    return temperature_rates(_t(spark, sf_dir, "documents"), "lang", 0.7)


def q_docs_temperature_resample(spark, sf_dir):
    """Deterministic resample to the alpha=0.7 temperature mixture
    (operators.sampling.temperature_resample)."""
    from shaha_spark.operators.sampling import temperature_resample

    return temperature_resample(
        _t(spark, sf_dir, "documents"), "lang", "doc_id", alpha=0.7
    )


def q_docs_dsir_weights(spark, sf_dir):
    """DSIR importance log-weights of every doc against the English
    slice as target (operators.sampling.importance_weights)."""
    from shaha_spark.operators.sampling import importance_weights

    docs = _t(spark, sf_dir, "documents")
    return importance_weights(docs, docs.filter(F.col("lang") == "en"))


def q_docs_dsir_topk(spark, sf_dir):
    """Deterministic top-25 DSIR selection
    (operators.sampling.importance_resample)."""
    from shaha_spark.operators.sampling import importance_resample

    docs = _t(spark, sf_dir, "documents")
    return importance_resample(docs, docs.filter(F.col("lang") == "en"), k=25)


def q_docs_top_keywords(spark, sf_dir):
    """Top-3 ratio-idf keywords per document
    (operators.terms.top_keywords)."""
    from shaha_spark.operators.terms import top_keywords

    return top_keywords(_t(spark, sf_dir, "documents"), k=3)


def q_docs_redact(spark, sf_dir):
    """Two-class redaction (digit runs, shouted words) with per-class
    match counts (operators.textops.redact_patterns)."""
    from shaha_spark.operators.textops import redact_patterns

    return redact_patterns(
        _t(spark, sf_dir, "documents"),
        "text",
        {"num": "[0-9]+", "shout": "[A-Z][A-Z]+"},
    )


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware near-dup survivor selection: highest quality_score
    per connected component wins
    (operators.components.keep_best_per_component)."""
    from shaha_spark.operators.components import keep_best_per_component
    from shaha_spark.operators.textops import quality_score

    docs = _t(spark, sf_dir, "documents")
    return keep_best_per_component(
        docs, quality_score(docs), score_col="quality", threshold=0.7
    )


def q_docs_hashed_features(spark, sf_dir):
    """Hashed bag-of-words tf features, exploded to (doc, idx, val)
    rows (operators.classifier.hashed_features)."""
    from shaha_spark.operators.classifier import hashed_features

    feats = hashed_features(_t(spark, sf_dir, "documents"), dim=LOGREG_DIM)
    return feats.select(
        "doc_id", F.explode("feats").alias("p")
    ).select("doc_id", F.col("p.idx").alias("idx"), F.col("p.val").alias("val"))


def q_docs_logreg_score(spark, sf_dir):
    """Classifier scoring under the fixed demo weight vector
    (operators.classifier.logreg_score); probability rounded to 6
    decimals — the margin is a sequential idx-ordered fold on both
    engines, so the rounding is belt-and-braces."""
    from shaha_spark.operators.classifier import hashed_features, logreg_score

    feats = hashed_features(_t(spark, sf_dir, "documents"), dim=LOGREG_DIM)
    scored = logreg_score(feats, LOGREG_WEIGHTS, 0.0)
    return scored.select(
        "doc_id", F.round("quality_prob", 6).alias("quality_prob")
    )


def q_emb_semantic_dedup(spark, sf_dir):
    """SemDeDup: k-means (k=4, 2 Lloyd iterations) then cluster-blocked
    cosine near-dup pruning (operators.dedup.semantic_dedup)."""
    from shaha_spark.operators.dedup import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), k=4, iters=2, threshold=0.98
    )


def q_docs_bpe_encode(spark, sf_dir):
    """BPE round trip: train 8 merges on the corpus vocabulary, encode
    every token occurrence, and DECODE each encoding back
    (operators.terms.bpe_train / bpe_encode). The merge loop itself is
    iterative (not SQL-expressible), but the roundtrip IS oracle-
    checkable: decode(encode(term)) must equal term for every token
    occurrence, so the DuckDB twin predicts the exact output from the
    token stream alone — any dropped/duplicated/reordered piece or a
    wrong join-back multiplicity breaks the value hash. Segmentation
    content stays pinned by known-answer tests (tests/test_terms.py).

    Training runs through bpe_train_local (optimization round 12): ONE
    distributed vocab aggregation + driver-side merge rounds over the
    model-sized table, replacing 2·num_merges sequential jobs —
    bit-identical merge list by the test_terms.py twin pins."""
    from shaha_spark.operators.terms import bpe_encode, bpe_train_local

    docs = _t(spark, sf_dir, "documents")
    enc = bpe_encode(docs, bpe_train_local(docs, num_merges=8))
    return enc.select(
        "doc_id", "term", F.concat_ws("", "pieces").alias("decoded")
    )


PQ_M = 4
PQ_K = 4
PQ_ITERS = 2
PQ_TOPK = 5


def _index_cache_root() -> str:
    """USER-OWNED cache root for driver-entry index builds (r10
    ADVICE: the old predictable shared-tmp ``shaha_idx_*`` dirs could
    be pre-created/poisoned by another user on a multi-tenant host).
    ``$SHAHA_INDEX_CACHE_DIR`` overrides; the default bakes the UID
    into the name AND the directory is created 0700 + ownership-
    checked, so a squatter's dir is rejected, not silently reused."""
    import tempfile

    root = os.environ.get("SHAHA_INDEX_CACHE_DIR") or os.path.join(
        tempfile.gettempdir(), f"shaha_idx_cache_uid{os.getuid()}"
    )
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.stat(root)
    if st.st_uid != os.getuid():
        raise RuntimeError(
            f"index cache root {root} is owned by uid {st.st_uid}, not "
            f"{os.getuid()} — refusing to build into a directory another "
            "user controls (set SHAHA_INDEX_CACHE_DIR)"
        )
    return root


def _index_path(kind: str, sf_dir: str, **params) -> tuple[str, bool]:
    """Deterministic per-(sf_dir, params) on-disk location for a
    persisted ANN index built by a driver entry, plus whether a build
    is still needed (r9 ADVICE: the old ``tempfile.mkdtemp()`` pattern
    leaked one index directory — and re-ran kmeans/PQ training and a
    parquet write — on EVERY invocation, including plan-lint
    renderings). The key hashes the resolved sf_dir, the parameter
    dict, and the mtime+size of the embeddings parquet files, so a
    regenerated testdata directory invalidates the cache.

    "Built" means the ``_complete`` marker exists in the FINAL
    ``{kind}_{key}`` directory. When a build is needed, the returned
    path points into a fresh per-process STAGING sibling
    (``{kind}_{key}.__stage_pid{pid}_{nonce}``): the caller builds
    there, then :func:`_index_built` stamps ``_complete`` inside the
    staging dir and atomically renames the WHOLE directory into the
    final name — first rename wins, the loser discards its staging
    tree and adopts the winner's index (r11 ADVICE: two drivers
    racing the same key used to build into the SAME directory, the
    second overwrite deleting files the first was already probing).
    Stale staging dirs from dead processes are swept opportunistically.
    """
    import glob as _glob
    import hashlib
    import shutil as _shutil
    import uuid as _uuid

    emb_dir = os.path.join(sf_dir, "embeddings.parquet")
    sig_parts = [os.path.abspath(sf_dir), kind, repr(sorted(params.items()))]
    for p in sorted(_glob.glob(os.path.join(emb_dir, "*.parquet"))) or [emb_dir]:
        try:
            st = os.stat(p)
            sig_parts.append(f"{p}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            sig_parts.append(f"{p}:absent")
    key = hashlib.sha256("|".join(sig_parts).encode()).hexdigest()[:16]
    root = _index_cache_root()
    final_parent = os.path.join(root, f"{kind}_{key}")
    # sweep staging leftovers whose owning process is gone (crash
    # debris; a LIVE process's staging dir is mid-build — keep it)
    for stale in _glob.glob(final_parent + ".__stage_pid*"):
        try:
            pid = int(stale.rsplit("__stage_pid", 1)[1].split("_", 1)[0])
            os.kill(pid, 0)
        except (ValueError, ProcessLookupError):
            _shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another uid — not ours to sweep
    if os.path.exists(os.path.join(final_parent, "_complete")):
        return os.path.join(final_parent, kind), False
    staging_parent = (
        f"{final_parent}.__stage_pid{os.getpid()}_{_uuid.uuid4().hex[:8]}"
    )
    os.makedirs(staging_parent, mode=0o700)
    return os.path.join(staging_parent, kind), True


def _index_built(path: str) -> str:
    """Commit a staged index build: stamp ``_complete`` inside the
    staging directory, then atomically rename the whole directory to
    its final ``{kind}_{key}`` name (see :func:`_index_path`).
    Returns the FINAL index path — callers must probe through the
    returned value, not the staging path. If another process won the
    rename race, this process's staging tree is discarded and the
    winner's completed index is adopted."""
    import shutil as _shutil

    staging_parent = os.path.dirname(path)
    kind = os.path.basename(path)
    if ".__stage_pid" not in staging_parent:
        # already-final path (legacy caller): just stamp and return
        fd = os.open(
            os.path.join(staging_parent, "_complete"),
            os.O_CREAT | os.O_WRONLY,
            0o600,
        )
        os.close(fd)
        return path
    final_parent = staging_parent.split(".__stage_pid", 1)[0]
    fd = os.open(
        os.path.join(staging_parent, "_complete"), os.O_CREAT | os.O_WRONLY, 0o600
    )
    os.close(fd)
    for attempt in (0, 1):
        try:
            os.rename(staging_parent, final_parent)
            return os.path.join(final_parent, kind)
        except OSError:
            if os.path.exists(os.path.join(final_parent, "_complete")):
                # lost the race to a completed winner — adopt it
                _shutil.rmtree(staging_parent, ignore_errors=True)
                return os.path.join(final_parent, kind)
            if attempt == 0:
                # dead final dir without _complete (pre-staging-protocol
                # crash leftover): clear it and retry the rename once
                _shutil.rmtree(final_parent, ignore_errors=True)
    raise RuntimeError(
        f"could not commit index build {staging_parent} -> {final_parent}"
    )


def _pq_pieces(spark, sf_dir):
    from shaha_spark.operators.pq import pq_encode, pq_train

    corpus = _t(spark, sf_dir, "embeddings")
    cb = pq_train(corpus, m=PQ_M, k=PQ_K, iters=PQ_ITERS)
    codes = pq_encode(corpus, cb)
    queries = corpus.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return corpus, cb, codes, queries


def q_emb_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (operators.pq.pq_train /
    pq_encode / pq_topk): per-subspace codebooks chained through the
    kmeans per-iteration oracle, shuffle-free encode, broadcast ADC
    scoring."""
    from shaha_spark.operators.pq import pq_topk

    _, cb, codes, queries = _pq_pieces(spark, sf_dir)
    return pq_topk(codes, cb, queries, k=PQ_TOPK)


def q_emb_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ composition (operators.pq.ivf_pq_topk): coarse-bucket
    probe plus ADC scoring over PQ codes. Oracled since r5: the DuckDB
    twin composes the verified emb_pq_topk recipe (m sub-kmeans chains
    + codebook + encode + ADC) with the verified similarity_ivf_kmeans
    probe recipe (coarse kmeans chain + argmax assign + nprobe rank),
    restricting ADC scoring to candidate (query, vector) pairs — an
    exact value-hash comparison of the full chain."""
    from shaha_spark.operators.pq import ivf_pq_topk, ivf_pq_train

    # one fused Lloyd run trains the coarse centroids and the m
    # sub-codebooks together (bit-identical to the sequential
    # kmeans_fit + pq_train pair — see ivf_pq_train; optimization r12)
    corpus = _t(spark, sf_dir, "embeddings")
    coarse, cb = ivf_pq_train(
        corpus, k_coarse=PQ_K, m=PQ_M, k_sub=PQ_K, iters=PQ_ITERS
    )
    queries = corpus.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_pq_topk(corpus, queries, coarse, cb, k=PQ_TOPK, nprobe=2)


def q_emb_ivf_pq_index_topk(spark, sf_dir):
    """Persistent IVF-PQ index round trip (round 9,
    operators.ann_index.build_ivf_pq_index / ivf_pq_index_topk): fit
    coarse centroids + PQ codebooks, WRITE the codes-only corpus
    partitionBy(centroid_id) with both model sidecars, then probe
    through the partition-pruned scan that reads (id, codes, vnorm)
    and never a full vector. Same parameters as emb_ivf_pq_topk, so
    it must hash-match that entry's chained kmeans→encode→ADC oracle
    VERBATIM — proving the disk round trip (including two JSON float
    sidecar round trips) changes nothing but the scan shape.

    The index lives at a deterministic per-(sf_dir, params) path and
    is built only when absent (r9 ADVICE: mkdtemp leaked a directory
    and re-ran training per invocation); staleness is keyed on the
    source parquet mtimes inside :func:`_index_path`."""
    from shaha_spark.operators.ann_index import (
        build_ivf_pq_index,
        ivf_pq_index_topk,
    )

    corpus = _t(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path, needs_build = _index_path(
        "ivfpq", sf_dir, k_coarse=PQ_K, m=PQ_M, k_sub=PQ_K, iters=PQ_ITERS
    )
    if needs_build:
        build_ivf_pq_index(
            corpus, path, k_coarse=PQ_K, m=PQ_M, k_sub=PQ_K, iters=PQ_ITERS
        )
        path = _index_built(path)
    return ivf_pq_index_topk(
        spark, path, queries, nprobe=2, k_neighbors=PQ_TOPK
    )


def q_emb_ivf_pq_index_append_topk(spark, sf_dir):
    """Incremental-append round trip for the persisted IVF-PQ index
    (round 10, operators.ann_index.append_to_ivf_pq_index; r9 VERDICT
    #1): coarse centroids AND PQ codebooks train on the 90% base
    split (vec_id % 10 != 7); the held-out batch is encoded+assigned
    with the frozen sidecar artifacts and appended into the matching
    centroid_id partitions — no retrain, batch-sized work only. The
    oracle filters every training CTE to the base split while
    encoding/assigning the full corpus, proving append ≡ from-scratch
    rebuild of base ∪ batch under base-trained artifacts through the
    full ADC scoring chain."""
    from shaha_spark.operators.ann_index import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        ivf_pq_index_topk,
    )

    corpus = _t(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path, needs_build = _index_path(
        "ivfpq_app", sf_dir, k_coarse=PQ_K, m=PQ_M, k_sub=PQ_K, iters=PQ_ITERS
    )
    if needs_build:
        build_ivf_pq_index(
            corpus.filter(F.col("vec_id") % 10 != 7),
            path,
            k_coarse=PQ_K,
            m=PQ_M,
            k_sub=PQ_K,
            iters=PQ_ITERS,
        )
        append_to_ivf_pq_index(
            corpus.filter(F.col("vec_id") % 10 == 7), path
        )
        path = _index_built(path)
    return ivf_pq_index_topk(
        spark, path, queries, nprobe=2, k_neighbors=PQ_TOPK
    )


def q_emb_ivf_pq_refine_topk(spark, sf_dir):
    """ADC-then-refine over the persisted IVF-PQ index (round 11;
    operators.ann_index.ivf_pq_refine_topk — the FAISS IndexRefine
    stage): the codes-only partition-pruned probe ranks a 4×k
    candidate pool, whose exact vectors are fetched with a broadcast
    candidate-list semi-join (|queries|·4·k rows — never the corpus)
    and re-ranked by exact cosine. Shares the cached "ivfpq" index
    with emb_ivf_pq_index_topk. The oracle composes the verified
    IVF-PQ ADC chain (top-4k cut) with the verified exact-cosine
    re-rank recipe — a full value-hash proof of both stages chained."""
    from shaha_spark.operators.ann_index import (
        build_ivf_pq_index,
        ivf_pq_refine_topk,
    )

    corpus = _t(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path, needs_build = _index_path(
        "ivfpq", sf_dir, k_coarse=PQ_K, m=PQ_M, k_sub=PQ_K, iters=PQ_ITERS
    )
    if needs_build:
        build_ivf_pq_index(
            corpus, path, k_coarse=PQ_K, m=PQ_M, k_sub=PQ_K, iters=PQ_ITERS
        )
        path = _index_built(path)
    return ivf_pq_refine_topk(
        spark, path, corpus, queries,
        nprobe=2, k_neighbors=PQ_TOPK, refine_factor=4,
    )


def q_docs_trigram_backoff(spark, sf_dir):
    """Stupid-Backoff trigram LM scoring with a held-out LM half
    (operators.terms.trigram_backoff_logprob): the LM trains on the
    hash-split half of the corpus and scores the other half, so all
    three backoff tiers genuinely fire."""
    from shaha_spark.operators.sampling import _bucket
    from shaha_spark.operators.terms import trigram_backoff_logprob

    docs = _t(spark, sf_dir, "documents")
    bkt = _bucket(F.col("doc_id"), "lm")
    return trigram_backoff_logprob(
        docs.where(bkt >= 5000), docs.where(bkt < 5000)
    )


def q_docs_char_entropy(spark, sf_dir):
    """Per-document character Shannon entropy — the gibberish/binary
    junk screen (operators.textops.char_entropy)."""
    from shaha_spark.operators.textops import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents"))


def q_docs_curated(spark, sf_dir):
    """The composed curation chain (pipeline.curate.curate_corpus):
    line dedup -> Gopher gate -> exact dedup (redaction and mixture off
    so the oracle stays a pure stage-twin chain)."""
    from shaha_spark.pipeline.curate import curate_corpus

    return curate_corpus(_t(spark, sf_dir, "documents"))


def q_docs_source_cap(spark, sf_dir):
    """Per-source document cap at 10 docs/source, deterministic by
    content-hash order (operators.sampling.source_cap)."""
    from shaha_spark.operators.sampling import source_cap

    return source_cap(_t(spark, sf_dir, "documents"), "source", "doc_id", cap=10)


def q_docs_ppl_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail pacing buckets per language by
    unigram log-likelihood (operators.terms.ppl_pacing_buckets)."""
    from shaha_spark.operators.terms import ppl_pacing_buckets

    return ppl_pacing_buckets(_t(spark, sf_dir, "documents"), buckets=3)


def q_events_gapfill(spark, sf_dir):
    """Dense hourly per-type series with zero-fill and
    last-observation-carried-forward (operators.timeseries.gapfill)."""
    from shaha_spark.operators.timeseries import gapfill

    return gapfill(_events(spark, sf_dir))


def q_events_debounce(spark, sf_dir):
    """Consecutive-gap debounce: drop (user, type) repeats within 60 s
    of the previous event (operators.timeseries.debounce)."""
    from shaha_spark.operators.timeseries import debounce

    out = debounce(_events(spark, sf_dir))
    return out.select(
        "event_id", "user_id", "event_type", F.col("tus").alias("ts_us")
    )


def q_users_scd2(spark, sf_dir):
    """SCD2 dimension history of the props.k attribute per user
    (operators.timeseries.scd2_intervals)."""
    from shaha_spark.operators.timeseries import scd2_intervals

    return scd2_intervals(_events(spark, sf_dir))


def q_events_rollup_incremental(spark, sf_dir):
    """Materialized-rollup maintenance proven exact: the events table
    split into three disjoint batches (event_id mod 3), each rolled up
    independently and folded in with two merges — must reproduce the
    oracle's single-pass aggregation bit-for-bit
    (operators.incremental.rollup_increment / merge_rollup)."""
    from shaha_spark.operators.incremental import (
        finalize_rollup,
        merge_rollup,
        rollup_increment,
    )

    ev = _events(spark, sf_dir)
    state = rollup_increment(ev.where(F.col("event_id") % 3 == 0))
    for m in (1, 2):
        state = merge_rollup(
            state, rollup_increment(ev.where(F.col("event_id") % 3 == m))
        )
    return finalize_rollup(state)


def q_emb_ann_recall(spark, sf_dir):
    """Recall@5 of the end-to-end IVF-kmeans ANN against brute-force
    exact top-5 (operators.similarity.topk_recall) — the quality gate
    for the approximate path, with BOTH pipelines inside one
    value-hash comparison."""
    from shaha_spark.operators.kmeans import kmeans_fit
    from shaha_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        topk_recall,
    )

    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(embs, queries, k=5)
    approx = ivf_topk(embs, queries, kmeans_fit(embs, k=4, iters=2), k=5, nprobe=2)
    return topk_recall(exact, approx, k=5)


def q_events_pit_join(spark, sf_dir):
    """Point-in-time join: odd events pick up the props.k attribute
    valid at their timestamp from the SCD2 history built over the EVEN
    events (operators.joins.point_in_time_join over
    operators.timeseries.scd2_intervals) — the no-future-leakage
    feature-backfill shape."""
    from shaha_spark.operators.joins import point_in_time_join
    from shaha_spark.operators.timeseries import scd2_intervals

    ev = _events(spark, sf_dir)
    dim = scd2_intervals(ev.where(F.col("event_id") % 2 == 0))
    facts = ev.where(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", F.col("tus").alias("ts_us")
    )
    return point_in_time_join(facts, dim, "user_id", "ts_us", ["attr"])


def q_emb_sq_topk(spark, sf_dir):
    """Two-stage scalar-quantized ANN: uint8 ADC candidate top-20
    (exact integer dot of code arrays), exact-cosine re-rank top-5
    (operators.embeddings.sq_topk)."""
    from shaha_spark.operators.embeddings import sq_topk

    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sq_topk(embs, queries, m=20, k=5)


def q_emb_prefix_topk(spark, sf_dir):
    """Matryoshka-style two-stage ANN: candidate generation on the
    first 8 dimensions, full-64-dim exact re-rank
    (operators.similarity.prefix_topk)."""
    from shaha_spark.operators.similarity import prefix_topk

    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return prefix_topk(embs, queries, prefix_dims=8, m=20, k=5)


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


def q_events_nearest_join(spark, sf_dir):
    """Nearest-purchase attribution for every click: closest purchase
    event either direction within 10 minutes, per user; equal-distance
    ties resolve to the earlier purchase
    (operators.joins.nearest_join — zero-join two-window formulation)."""
    from shaha_spark.operators.joins import nearest_join

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


def _scored_with_label(spark, sf_dir):
    """Demo-weight logreg probabilities joined with the lang=='en'
    label — the shared input of the ML-eval registrations."""
    from shaha_spark.operators.classifier import hashed_features, logreg_score

    docs = _t(spark, sf_dir, "documents")
    feats = hashed_features(docs, dim=LOGREG_DIM)
    scored = logreg_score(feats, LOGREG_WEIGHTS, 0.0).select(
        "doc_id", F.round("quality_prob", 6).alias("quality_prob")
    )
    return scored.join(
        docs.select("doc_id", (F.col("lang") == "en").alias("label")),
        "doc_id",
    )


def q_docs_clf_report(spark, sf_dir):
    """Confusion matrix + precision/recall/F1/accuracy of the demo
    classifier against the lang=='en' label at threshold 0.5 — one
    aggregation pass (operators.classifier.classification_report)."""
    from shaha_spark.operators.classifier import classification_report

    return classification_report(
        _scored_with_label(spark, sf_dir), "label", threshold=0.5
    )


def q_docs_calibration(spark, sf_dir):
    """Reliability-diagram table: equal-width probability bins, mean
    predicted probability vs observed positive rate
    (operators.classifier.calibration_bins)."""
    from shaha_spark.operators.classifier import calibration_bins

    return calibration_bins(_scored_with_label(spark, sf_dir), "label")


def q_events_interarrival(spark, sf_dir):
    """Per-user inter-arrival profile: exact median gap (the
    group-quantile recipe) plus decimal-exact mean gap — the
    burstiness readout behind rate limiting and bot screening."""
    from pyspark.sql import Window
    from shaha_spark.operators.profile import group_quantiles

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


def q_docs_overview(spark, sf_dir):
    """One-row corpus dashboard: doc/lang/source counts, decimal-exact
    mean length, and the exact-duplicate fraction (docs whose text
    appears more than once) — the front-page health panel every
    curation run prints first."""
    docs = _t(spark, sf_dir, "documents")
    dup_docs = (
        docs.groupBy("text")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .agg(F.coalesce(F.sum("__c"), F.lit(0)).alias("__dups"))
    )
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.round(
            F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("mean_chars"),
    )
    return base.crossJoin(F.broadcast(dup_docs)).select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_langs").cast("bigint").alias("n_langs"),
        F.col("n_sources").cast("bigint").alias("n_sources"),
        "mean_chars",
        F.col("__dups").cast("bigint").alias("n_dup_docs"),
        F.round(
            F.col("__dups").cast("double") / F.col("n_docs").cast("double"), 9
        ).alias("dup_fraction"),
    )


def q_dq_functional(spark, sf_dir):
    """Functional-dependency probe — does A determine B? — for three
    candidate dependencies across TPC-H: one row each with the count
    of A-values mapping to >1 distinct B (violations = 0 proves the
    dependency holds on this data). The DQ companion of
    dq_referential: FDs catch denormalization drift joins can't."""
    def probe(name, df, a, b):
        per = df.groupBy(a).agg(F.count_distinct(b).alias("__k"))
        return per.agg(
            F.lit(name).alias("dependency"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.when(F.col("__k") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
        )

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    a = probe("o_orderkey->o_custkey", orders, "o_orderkey", "o_custkey")
    b = probe("l_orderkey->l_returnflag", li, "l_orderkey", "l_returnflag")
    c = probe("c_custkey->c_nationkey", cust, "c_custkey", "c_nationkey")
    return a.unionByName(b).unionByName(c)


def q_events_value_percentile(spark, sf_dir):
    """Exact quantile normalization: each event's value mapped to its
    empirical CDF position within its event type —
    cume = (#rows with value ≤ v) / n, computed as the max row_number
    per (type, value) so ties share one exact position. The
    feature-engineering step that makes heavy-tailed values
    model-comparable."""
    from pyspark.sql import Window

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
    from shaha_spark.caching import registers

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


def q_docs_hapax_ratio(spark, sf_dir):
    """Per-document hapax share: the fraction of a doc's tokens that
    are corpus hapax legomena (tf = 1) — high shares flag noise/OCR
    junk, zero shares flag boilerplate; the doc-level companion of
    words_freq_of_freqs. Hapax set joins broadcast (it is
    vocabulary-sized)."""
    words = __import__("__spark_entry__")._words(spark, sf_dir)
    tf = words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    hapax = tf.where(F.col("c") == 1).select("word")
    tok = words.select("doc_id", "word")
    flagged = tok.join(
        F.broadcast(hapax.withColumn("__h", F.lit(1))), "word", "left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.coalesce(F.col("__h"), F.lit(0))).cast("bigint").alias("n_hapax"),
        F.round(
            F.sum(F.coalesce(F.col("__h"), F.lit(0))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("hapax_ratio"),
    )


def q_emb_silhouette(spark, sf_dir):
    """Simplified silhouette per k-means cluster (distances to
    centroids, not pairwise — the O(n·k) variant that scales):
    s = (b − a)/max(a, b) with a = cosine distance to own centroid,
    b = min distance to any other; per-point terms rounded 9 and
    decimal-summed into per-cluster means."""
    from shaha_spark.operators.kmeans import kmeans_fit
    from shaha_spark.operators.similarity import (
        cosine_sim_hoisted,
        dot,
        ivf_assign,
        norm2,
    )

    embs = _t(spark, sf_dir, "embeddings")
    cents = kmeans_fit(embs, k=4, iters=2).localCheckpoint(eager=True)
    assigned = ivf_assign(embs, cents)
    dists = assigned.withColumn("__vn2", norm2(F.col("embedding"))).crossJoin(
        F.broadcast(
            cents.select(
                F.col("centroid_id").alias("cid"),
                F.col("centroid"),
                norm2(F.col("centroid")).alias("__cn2"),
            )
        )
    ).select(
        "vec_id",
        "centroid_id",
        "cid",
        (
            F.lit(1.0)
            - F.round(
                cosine_sim_hoisted(
                    dot(F.col("embedding"), F.col("centroid")),
                    F.col("__vn2"),
                    F.col("__cn2"),
                ),
                6,
            )
        ).alias("d"),
    )
    per_point = dists.groupBy("vec_id", "centroid_id").agg(
        F.max(F.when(F.col("cid") == F.col("centroid_id"), F.col("d"))).alias(
            "a"
        ),
        F.min(F.when(F.col("cid") != F.col("centroid_id"), F.col("d"))).alias(
            "b"
        ),
    )
    s = F.round(
        (F.col("b") - F.col("a")) / F.greatest("a", "b"), 9
    ).cast("decimal(19,9)")
    return (
        per_point.withColumn("__s", s)
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.round(
                F.sum("__s").cast("double") / F.count(F.lit(1)), 9
            ).alias("mean_silhouette"),
        )
        .select(
            F.col("centroid_id").cast("bigint").alias("centroid_id"),
            "n_points",
            "mean_silhouette",
        )
    )


def q_docs_freshness(spark, sf_dir):
    """Per-source freshness lag: newest doc per source vs the corpus
    maximum (by doc_id as the monotone ingest marker) plus doc counts
    — the ingest-health report every multi-source pipeline watches."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("doc_id").alias("newest_id"),
    )
    mx = per.agg(F.max("newest_id").alias("__gmax"))
    return per.crossJoin(F.broadcast(mx)).select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("newest_id").cast("bigint").alias("newest_id"),
        (F.col("__gmax") - F.col("newest_id")).cast("bigint").alias("lag"),
    )


def q_events_streaks(spark, sf_dir):
    """Longest same-type streak per user (gaps-and-islands on VALUE
    change, the complement of gap sessionization): a new island opens
    when the type differs from the previous event; islands number by
    a running sum over the same per-user sort as sessionize."""
    from pyspark.sql import Window

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


def q_words_freq_of_freqs(spark, sf_dir):
    """Frequency-of-frequencies over the vocabulary (how many words
    occur exactly c times) — the Good-Turing smoothing input and the
    standard vocabulary-health profile. Two hash-aggs, nothing else."""
    words = __import__("__spark_entry__")._words(spark, sf_dir)
    tf = words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    return tf.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words")
    ).select(F.col("c").cast("bigint").alias("c"), "n_words")


def q_words_collocations(spark, sf_dir):
    """Top-25 collocations by PMI over adjacent word bigrams (min
    count 5): ln(N·c(ab)/(c(a)·c(b))) with the rounded-ln recipe —
    the phrase-extraction staple (char-pair BPE counts live in
    docs_bpe_pairs; this is the WORD-level statistical test)."""
    from pyspark.sql import Window

    words = __import__("__spark_entry__")._words(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("pos")
    toks = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "w1"),
        )
        .filter(F.col("w1") != "")
    )
    bi = (
        toks.withColumn("w2", F.lead("w1").over(w))
        .where(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    # lazy persist: the vocabulary-sized unigram counts feed BOTH
    # pmi join sides and the token total (derived as sum(c) — exact
    # same integer as count over words) — 4 fact scans without the
    # boundary (r9 rescan-lint tightening)
    uni = (
        words.groupBy(F.col("word"))
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    n_tok = uni.agg(F.sum("c").alias("__n"))
    ua = uni.select(F.col("word").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("word").alias("w2"), F.col("c").alias("c_b"))
    scored = (
        bi.where(F.col("c_ab") >= 5)
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.round(
                F.log(
                    (F.col("__n").cast("double") * F.col("c_ab"))
                    / (F.col("c_a").cast("double") * F.col("c_b"))
                ),
                9,
            ).alias("pmi"),
        )
    )
    from shaha_spark.caching import registers

    return registers(
        scored.orderBy(
            F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
        ).limit(25),
        uni,
    )


def q_events_cohort_value(spark, sf_dir):
    """Cohort LTV curve: cumulative per-user value by cohort day and
    day offset — the revenue companion of events_retention (which
    counts users; this accumulates value). Decimal-exact event sums;
    the only windows run over the (cohort × offset) table, which is
    calendar², never the data."""
    from pyspark.sql import Window

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


def q_users_survival(spark, sf_dir):
    """Kaplan-Meier time-to-churn: per-user observation span as the
    duration, an 'error' event as the churn signal, other users
    right-censored (operators.timeseries.kaplan_meier)."""
    from shaha_spark.operators.timeseries import kaplan_meier

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


def q_docs_rank_fusion(spark, sf_dir):
    """Reciprocal Rank Fusion of the BM25 keyword ranking with a
    second ranking signal (document length standing in for the
    popularity/recency list a production hybrid fuses) — top-20 by
    RRF score (operators.similarity.rank_fusion)."""
    from pyspark.sql import Window
    from shaha_spark.operators.similarity import rank_fusion
    from shaha_spark.operators.terms import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    bm = bm25_scores(docs, ["scan", "join", "window"])
    wa = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    ra = bm.select(
        "doc_id", F.row_number().over(wa).alias("rank")
    ).where(F.col("rank") <= 50)
    wb = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    rb = docs.select(
        "doc_id", F.row_number().over(wb).alias("rank")
    ).where(F.col("rank") <= 50)
    return rank_fusion(ra, rb, "doc_id", k=60, top=20)


def q_orders_kcore(spark, sf_dir):
    """3-core of the part co-purchase graph — iterative peeling to the
    fixpoint (operators.graph.k_core). Oracled since r5: the DuckDB
    twin runs the SAME peel as a bounded recursive CTE with a loud
    fixpoint guard (graph.k_core_peel_sql) — an exact set comparison,
    not an invariant check. The invariant pair (every survivor has ≥k
    surviving neighbors, dropped nodes would not) stays asserted in
    tests as a second, independent contract."""
    from shaha_spark.operators.basket import pair_counts
    from shaha_spark.operators.graph import k_core

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = pair_counts(li, "l_orderkey", "l_partkey").where(
        F.col("n_pair") >= 2
    )
    return k_core(edges, k=3, src="item_a", dst="item_b")


def q_events_active_time(spark, sf_dir):
    """Per-user active time: every event opens a 30-minute activity
    interval; overlaps merge so coverage never double-counts
    (operators.timeseries.interval_union_length)."""
    from shaha_spark.operators.timeseries import interval_union_length

    ev = _events(spark, sf_dir).select(
        "user_id",
        F.col("tus").alias("start_us"),
        (F.col("tus") + F.lit(1_800_000_000)).alias("end_us"),
    )
    return interval_union_length(ev, "user_id", "start_us", "end_us")


def q_dedup_cluster_sizes(spark, sf_dir):
    """Near-dup cluster-size histogram — the corpus-health readout of
    the transitive MinHash dedup (how much of the corpus sits in
    2-clusters vs mega-clusters): connected components of the
    est-Jaccard ≥ 0.7 graph, sizes, then (size → n_clusters)."""
    from shaha_spark.operators.components import connected_components
    from shaha_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_similarity,
    )

    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs).cache()
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    edges = (
        minhash_similarity(sigs, pairs, "doc_id")
        .where(F.col("est_jaccard") >= 0.7)
        .select("id_a", "id_b")
    )
    comps = connected_components(edges)
    sizes = comps.groupBy("comp").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    ).select(F.col("cluster_size").cast("bigint").alias("cluster_size"),
             "n_clusters")


def q_lineitem_weighted_median(spark, sf_dir):
    """Quantity-weighted median price per return flag — exact type-1
    weighted quantile with decimal-exact cumulative weights
    (operators.profile.weighted_quantile)."""
    from shaha_spark.operators.profile import weighted_quantile

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return weighted_quantile(
        li, "l_returnflag", "l_extendedprice", "l_quantity", 0.5
    )


def q_events_session_paths(spark, sf_dir):
    """Top-25 full session journeys ('signup>click>...') by frequency —
    the path-analysis staple funnel/transitions don't give (those
    score STEPS; this ranks complete ordered paths). Per-session
    collect is bounded by session length; the count agg shuffles path
    strings."""
    from pyspark.sql import Window
    from __spark_entry__ import SESSION_GAP_US

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


def q_events_mean_shift(spark, sf_dir):
    """Two-window mean-shift change points per event type (2 h frames,
    ≥3 points each side, |shift| > 10)
    (operators.timeseries.mean_shift_points)."""
    from shaha_spark.operators.timeseries import mean_shift_points

    ev = _events(spark, sf_dir).select("event_type", "tus", "value")
    return mean_shift_points(
        ev, "event_type", "tus", "value",
        window_us=7_200_000_000, min_points=3, threshold=10.0,
    )


def q_events_chi_square(spark, sf_dir):
    """Chi-square independence of (event_type × hash-split cohort) —
    the categorical companion of the Welch readout
    (operators.profile.chi_square)."""
    from shaha_spark.operators.profile import chi_square

    ev = _events(spark, sf_dir).select(
        "event_type", (F.col("user_id") % 2).alias("cohort")
    )
    return chi_square(ev, "event_type", "cohort")


def q_events_key_skew(spark, sf_dir):
    """Sort-free key-skew report over user_id — the shuffle-planning
    health check (operators.profile.key_skew_report); HHI and
    max-share from exact integer aggregates, never a prefix-sum
    window."""
    from shaha_spark.operators.profile import key_skew_report

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


def q_events_mad_outliers(spark, sf_dir):
    """Robust per-type outliers: |x − median| > 3·MAD — the screen
    that still works when outliers inflate mean and stddev
    (operators.profile.mad_outliers)."""
    from shaha_spark.operators.profile import mad_outliers

    return mad_outliers(
        _events(spark, sf_dir).select("event_type", "event_id", "value"),
        "event_type",
        "value",
        "event_id",
    )


def q_orders_set_similarity(spark, sf_dir):
    """Set-similarity self-join over order part-sets (Jaccard ≥ 0.5)
    with exact-recall prefix filtering
    (operators.basket.set_similarity_join); the oracle generates
    candidates exhaustively from ANY shared item and must produce the
    identical verified pair set — proving the prefix filter loses
    nothing."""
    from shaha_spark.operators.basket import set_similarity_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return set_similarity_join(li, "l_orderkey", "l_partkey", threshold=0.5)


def q_words_trigram_fuzzy(spark, sf_dir):
    """Trigram-posting-blocked fuzzy pairs over the vocabulary
    (operators.dedup.trigram_fuzzy_pairs) — the scalable blocking
    complement to the exhaustive length-band levenshtein_pairs."""
    from __spark_entry__ import _dwords
    from shaha_spark.operators.dedup import trigram_fuzzy_pairs

    return trigram_fuzzy_pairs(_dwords(spark, sf_dir), "word", max_dist=2)


def q_emb_ivf_index_topk(spark, sf_dir):
    """Persistent-index ANN round trip: fit + assign + WRITE the
    corpus partitionBy(centroid_id), then probe through the
    partition-pruned scan (operators.ann_index). Must hash-match the
    same chained kmeans→IVF oracle as the in-plan operator — proving
    the disk round trip changes nothing but the scan shape.

    Deterministic per-(sf_dir, params) index path, built only when
    absent — see :func:`_index_path` (r9 ADVICE)."""
    from shaha_spark.operators.ann_index import build_ivf_index, ivf_index_topk

    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path, needs_build = _index_path("ivf", sf_dir, k=4, iters=2)
    if needs_build:
        build_ivf_index(embs, path, k=4, iters=2)
        path = _index_built(path)
    return ivf_index_topk(
        spark, path, queries, nprobe=2, k_neighbors=5
    ).select(
        "query_id",
        "vec_id",
        F.col("approx_cosine").alias("cosine"),
        "rank",
    )


def q_emb_ivf_index_append_topk(spark, sf_dir):
    """Incremental-append round trip for the persisted IVF index
    (round 10, operators.ann_index.append_to_ivf_index; r9 VERDICT
    #1): build the index on the 90% base split (vec_id % 10 != 7),
    APPEND the held-out 10% batch with the frozen sidecar centroids —
    no retrain, batch-sized work only — then probe over everything.
    The oracle (`_ivf_kmeans_append_sql`) trains kmeans on the base
    split and assigns/scores the FULL corpus, so the value-hash match
    proves append ≡ from-scratch rebuild of base ∪ batch under
    base-trained artifacts: append changes WHERE rows land, never a
    value. A half-built cache (crash anywhere before the _complete
    stamp, including between build and append) rebuilds."""
    from shaha_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_index_topk,
    )

    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path, needs_build = _index_path("ivf_app", sf_dir, k=4, iters=2)
    if needs_build:
        build_ivf_index(
            embs.filter(F.col("vec_id") % 10 != 7), path, k=4, iters=2
        )
        append_to_ivf_index(embs.filter(F.col("vec_id") % 10 == 7), path)
        path = _index_built(path)
    return ivf_index_topk(
        spark, path, queries, nprobe=2, k_neighbors=5
    ).select(
        "query_id",
        "vec_id",
        F.col("approx_cosine").alias("cosine"),
        "rank",
    )


def q_orders_pair_triangles(spark, sf_dir):
    """Triangle count of the part co-purchase graph (edges = basket
    pairs with support >= 2) via degree-oriented wedge enumeration
    (operators.graph.triangle_count); the oracle counts the same
    triangles with the independent a<b<c three-way join."""
    from shaha_spark.operators.basket import pair_counts
    from shaha_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = pair_counts(li, "l_orderkey", "l_partkey").where(
        F.col("n_pair") >= 2
    )
    return triangle_count(edges, "item_a", "item_b")


def q_events_ab_welch(spark, sf_dir):
    """A/B experiment readout: Welch's t between the two deterministic
    hash-split user cohorts over event value
    (operators.profile.welch_t)."""
    from shaha_spark.operators.profile import welch_t

    ev = _events(spark, sf_dir).select(
        (F.col("user_id") % 2).alias("cohort"), "value"
    )
    return welch_t(ev, "cohort", "value", 0, 1)


def q_docs_psi_drift(spark, sf_dir):
    """Distribution-drift monitor: PSI of document length between the
    English slice and the rest of the corpus
    (operators.profile.psi)."""
    from shaha_spark.operators.profile import psi

    docs = _t(spark, sf_dir, "documents")
    return psi(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
        "n_chars",
    )


def q_docs_auc(spark, sf_dir):
    """Exact ROC-AUC of the demo classifier against the lang=='en'
    label — rank-sum over DISTINCT-SCORE buckets so the only global
    window is bucket-table-sized (operators.classifier.roc_auc)."""
    from shaha_spark.operators.classifier import roc_auc

    return roc_auc(_scored_with_label(spark, sf_dir), "label")


def q_snapshot_row_diff(spark, sf_dir):
    """Row-level change data feed between two snapshots: the appended
    odd-doc vocabulary must surface as exactly the insert set
    (pipeline/snapshot.snapshot_row_diff over the same build → snap →
    append → snap round trip as snapshot_time_travel)."""
    import tempfile

    from shaha_spark.pipeline import snapshot as snap
    from shaha_spark.pipeline.build import build
    from __spark_entry__ import _words

    words = _words(spark, sf_dir)
    even = words.filter(F.col("doc_id") % 2 == 0).select("word").distinct()
    odd = words.filter(F.col("doc_id") % 2 == 1).select("word").distinct()
    # batch 2 carries genuinely-new rows (prefixed odd vocab — the
    # fixture's raw odd vocab fully overlaps the even one, which would
    # make the diff vacuously empty) PLUS the full overlapping even
    # vocab, which the diff must exclude
    batch2 = odd.select(
        F.concat(F.lit("v2-"), F.col("word")).alias("word")
    ).unionByName(even)
    out = tempfile.mkdtemp(prefix="shaha_snapd_") + "/db"
    build(spark, even, ["sha256"], out, source_name="even")
    snap.snapshot_create(spark, out)
    build(spark, batch2, ["sha256"], out, append=True, source_name="v2")
    snap.snapshot_create(spark, out)
    return snap.snapshot_row_diff(
        spark, out, 1, 2, ["preimage", "algorithm"]
    )


def q_dq_referential(spark, sf_dir):
    """Foreign-key orphan report across the TPC-H core relations —
    the cross-table half of the DQ gate (dq_lineitem covers
    single-table rules; operators.checks.referential_check)."""
    from shaha_spark.operators.checks import referential_check

    return referential_check(
        [
            (
                "orders->customer",
                _t(spark, sf_dir, "orders"), "o_custkey",
                _t(spark, sf_dir, "customer"), "c_custkey",
            ),
            (
                "lineitem->orders",
                _t(spark, sf_dir, "lineitem"), "l_orderkey",
                _t(spark, sf_dir, "orders"), "o_orderkey",
            ),
            (
                "lineitem->part",
                _t(spark, sf_dir, "lineitem"), "l_partkey",
                _t(spark, sf_dir, "part"), "p_partkey",
            ),
            (
                "lineitem->supplier",
                _t(spark, sf_dir, "lineitem"), "l_suppkey",
                _t(spark, sf_dir, "supplier"), "s_suppkey",
            ),
        ]
    )


def q_docs_bm25(spark, sf_dir):
    """Okapi BM25 keyword relevance ('scan join window' query) over
    the corpus (operators.terms.bm25_scores) — rounded-ln idf,
    decimal-exact contribution sums."""
    from shaha_spark.operators.terms import bm25_scores

    return bm25_scores(
        _t(spark, sf_dir, "documents"), ["scan", "join", "window"]
    )


def q_events_cumulative_users(spark, sf_dir):
    """Running distinct-user count by day WITHOUT an expanding-window
    distinct: each user counts once at their first day, and the
    running total is a prefix sum over the calendar-sized day table
    (operators.timeseries.cumulative_distinct)."""
    from shaha_spark.operators.timeseries import cumulative_distinct

    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format(F.timestamp_micros(F.col("tus")), "yyyy-MM-dd")
    )
    return cumulative_distinct(ev, "user_id", "day")


def q_orders_basket_rules(spark, sf_dir):
    """Market-basket association pairs over lineitem (order = basket,
    part = item): top-20 by lift with support/confidence — bounded
    in-basket pair expansion, never a self-join
    (operators.basket.basket_rules)."""
    from shaha_spark.operators.basket import basket_rules

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return basket_rules(
        li, "l_orderkey", "l_partkey", min_pair_count=2, top=20
    )


def q_multimodal_dedup(spark, sf_dir):
    """Exact binary dedup of media payloads by sha256-digest grouping
    (operators.multimodal.dedup_media); the oracle groups on payload
    equality directly — identical classes, digest-free output."""
    from shaha_spark.operators.multimodal import (
        dedup_media,
        media_from_documents,
    )

    return dedup_media(media_from_documents(_t(spark, sf_dir, "documents")))


def q_emb_prefix_ndcg(spark, sf_dir):
    """Rank-quality (harmonic-discount nDCG@5) of the Matryoshka
    prefix pipeline run LOSSY (candidate m=5 — no re-rank slack)
    against exact top-5: both search pipelines AND the metric inside
    one value-hash comparison (operators.similarity.ndcg_at_k)."""
    from shaha_spark.operators.similarity import (
        brute_force_topk,
        ndcg_at_k,
        prefix_topk,
    )

    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(embs, queries, k=5)
    approx = prefix_topk(embs, queries, prefix_dims=8, m=5, k=5)
    return ndcg_at_k(exact, approx, k=5)


def q_snapshot_time_travel(spark, sf_dir):
    """Pipeline round trip through the snapshot layer: build the
    even-doc vocabulary, snapshot v1, append the odd-doc vocabulary,
    then TIME-TRAVEL back to v1 — the result must be exactly the
    even-doc build (pipeline/snapshot.py read_snapshot; the append's
    swap retires v1's files by rename)."""
    import tempfile

    from shaha_spark.pipeline import snapshot as snap
    from shaha_spark.pipeline.build import build
    from __spark_entry__ import _hex, _words

    words = _words(spark, sf_dir)
    even = words.filter(F.col("doc_id") % 2 == 0).select("word").distinct()
    odd = words.filter(F.col("doc_id") % 2 == 1).select("word").distinct()
    out = tempfile.mkdtemp(prefix="shaha_snapq_") + "/db"
    build(spark, even, ["sha256"], out, source_name="even")
    snap.snapshot_create(spark, out)
    build(spark, odd, ["sha256"], out, append=True, source_name="odd")
    return snap.read_snapshot(spark, out, 1).select(
        _hex(), F.col("preimage"), F.col("algorithm")
    )


def q_events_cdc_snapshot(spark, sf_dir):
    """CDC changelog -> current snapshot (MERGE compaction): per user
    the latest event wins; 'error' acts as the delete operation and
    removes the key (operators.timeseries.cdc_apply)."""
    from shaha_spark.operators.timeseries import cdc_apply

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


# --------------------------------------------------- round-4 additions

def q_docs_postings_stats(spark, sf_dir):
    """Positional inverted index statistics: top-20 terms by document
    frequency (operators/search.py postings_stats)."""
    from shaha_spark.operators.search import postings_stats

    return postings_stats(_t(spark, sf_dir, "documents"), top=20)


def q_docs_phrase_search(spark, sf_dir):
    """Exact phrase matching via positional-postings joins — no text
    rescan (operators/search.py phrase_search). Phrase chosen for
    non-trivial hit count in the synthetic corpus."""
    from shaha_spark.operators.search import phrase_search

    return phrase_search(_t(spark, sf_dir, "documents"), "order fast")


def q_docs_winnowing(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al.): windowed-min shingle
    hashes, the position-robust dedup fingerprint
    (operators/textops.py winnow_fingerprints)."""
    from shaha_spark.operators.textops import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"), k=3, w=4)


def q_docs_token_budget(spark, sf_dir):
    """Budget-constrained selection: highest-score documents while the
    running token total fits a 5000-token training budget — the
    value-bucketed distributed prefix sum
    (operators/sampling.py token_budget_select)."""
    from shaha_spark.operators.sampling import token_budget_select

    return token_budget_select(_t(spark, sf_dir, "documents"), budget=5000)


def q_emb_diverse_sample(spark, sf_dir):
    """Diversity-aware selection: equal per-cluster quotas from the
    engine's own k-means fit (operators/sampling.py diverse_sample)."""
    from shaha_spark.operators.sampling import diverse_sample

    return diverse_sample(
        _t(spark, sf_dir, "embeddings"), k=4, iters=2, per_cluster=10
    )


def q_emb_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: per query vector,
    the top-5 most-similar corpus vectors with a DIFFERENT label — the
    near-boundary negatives a retrieval/contrastive trainer batches
    (operators/similarity.py hard_negatives)."""
    from shaha_spark.operators.similarity import hard_negatives

    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    return hard_negatives(embs, queries, k=5)


def q_emb_knn_accuracy(spark, sf_dir):
    """Leave-one-out kNN label-consistency eval: per-label accuracy of
    majority-vote over each probe's 5 nearest neighbors (self excluded)
    — the standard embedding-space class-separation benchmark
    (operators/similarity.py knn_label_accuracy)."""
    from shaha_spark.operators.similarity import knn_label_accuracy

    embs = _t(spark, sf_dir, "embeddings")
    probes = embs.filter(F.col("vec_id") % 20 == 0)
    return knn_label_accuracy(embs, probes, k=5)


# --------------------------------------------------------------------
# Round-11 additions (concept-grep, VERDICT r10 #8)
# --------------------------------------------------------------------

#: deterministic in-text licence markers keyed on doc_id % 6 — the
#: testdata has no licence statements, so the fixture injects one per
#: residue class (same pattern as _synth_url_col / the PAN fixture);
#: class 0 stays unmarked to exercise the 'none' default
_LICENSE_MARKERS = (
    "",
    " All Rights Reserved.",
    " Licensed under CC BY 4.0.",
    " CC BY-NC 2.0",
    " CC BY-SA 3.0",
    " This work is dedicated to the public domain (CC0).",
)


def _license_fixture_col():
    d = F.col("doc_id") % 6
    marker = F.lit(_LICENSE_MARKERS[0])
    for i in range(len(_LICENSE_MARKERS) - 1, 0, -1):
        marker = F.when(d == i, F.lit(_LICENSE_MARKERS[i])).otherwise(marker)
    return F.concat(F.col("text"), marker)


_LICENSE_FIXTURE_SQL = (
    "SELECT doc_id, text || CASE doc_id % 6 "
    + " ".join(
        f"WHEN {i} THEN '{m}'" for i, m in enumerate(_LICENSE_MARKERS) if i
    )
    + " ELSE '' END AS text FROM documents"
)


def q_docs_contamination_report(spark, sf_dir):
    """Per-eval-doc contamination provenance (round 11, VERDICT r10
    #8; operators.terms.contamination_report): which train docs share
    an exact >=32-char substring with WHICH eval doc, and how many
    distinct windows — the audit artifact behind the flag-only
    docs_substr_decontaminate (same r2-salted split, so its
    contaminated set is exactly this report's distinct train ids)."""
    from shaha_spark.operators.sampling import hash_split
    from shaha_spark.operators.terms import contamination_report

    split = hash_split(
        _t(spark, sf_dir, "documents"), SPLIT_WEIGHTS, "doc_id", salt="r2"
    )
    return contamination_report(
        split.filter(F.col("split") == "train"),
        split.filter(F.col("split") == "eval"),
        min_len=SUBSTR_DECONTAM_LEN,
    )


def q_docs_domain_importance(spark, sf_dir):
    """Domain-level DSIR mixture weights (round 11, VERDICT r10 #8;
    operators.sampling.domain_importance): the per-doc importance
    log-weights of docs_dsir_weights aggregated decimal-exactly to the
    registered domain of each doc's (synthetic) URL — the per-SOURCE
    sampling knob production mixtures actually turn. The oracle
    composes the verified DSIR lambda-table recipe with the verified
    registered-domain twin."""
    from shaha_spark.functions.url import registered_domain
    from shaha_spark.operators.sampling import domain_importance

    docs = _t(spark, sf_dir, "documents").withColumn(
        "domain", registered_domain(_synth_url_col())
    )
    return domain_importance(
        docs, docs.filter(F.col("lang") == "en"), domain_col="domain"
    )


def q_docs_license_scan(spark, sf_dir):
    """In-text licence-signal detection (round 11, VERDICT r10 #8;
    operators.textops.license_scan): first-match-wins over the
    most-restrictive-first pattern table, deterministic licence
    markers injected per doc_id % 6 (the testdata carries none)."""
    from shaha_spark.operators.textops import license_scan

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _license_fixture_col().alias("text")
    )
    return license_scan(docs).select(
        "doc_id",
        "license",
        F.col("open_license").cast("int").alias("open_license"),
    )


def q_docs_cluster_split(spark, sf_dir):
    """Leakage-safe split (round 11, operators.sampling.cluster_split):
    near-dup CLUSTERS (connected components of the est-Jaccard ≥ 0.7
    MinHash graph — the dedup_minhash_cc graph) are assigned to
    train/eval/test as units, so no duplicate pair straddles a split
    boundary; isolated docs split exactly as plain hash_split on their
    own id. The oracle re-states the fixpoint as the recursive-CTE
    min-reachable-id and applies the same bucket CASE to the
    representative."""
    from shaha_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_similarity,
    )
    from shaha_spark.operators.sampling import cluster_split

    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    edges = minhash_similarity(
        sigs, lsh_candidate_pairs(sigs)
    ).where(F.col("est_jaccard") >= 0.7).select("id_a", "id_b")
    out = cluster_split(
        docs.select("doc_id"), edges, SPLIT_WEIGHTS, salt="cs"
    )
    return out.select("doc_id", "cluster_rep", "split")


def q_docs_split_balance(spark, sf_dir):
    """Split-composition audit (round 12, VERDICT r11 #3;
    operators.sampling.split_balance): cluster-level split assignment
    preserves leakage-safety by moving whole near-dup components
    between splits, which distorts split proportions when components
    are large — this reports, per split, the observed vs target
    fraction, the skew, and the largest single cluster routed in. The
    oracle nests the verified docs_cluster_split CTE chain as its
    source and applies the same grouping + single rounded division."""
    from shaha_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_similarity,
    )
    from shaha_spark.operators.sampling import cluster_split, split_balance

    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    edges = minhash_similarity(
        sigs, lsh_candidate_pairs(sigs)
    ).where(F.col("est_jaccard") >= 0.7).select("id_a", "id_b")
    sp = cluster_split(docs.select("doc_id"), edges, SPLIT_WEIGHTS, salt="cs")
    return split_balance(sp, SPLIT_WEIGHTS, cluster_col="cluster_rep")


def q_docs_cross_split_contamination(spark, sf_dir):
    """Cross-split contamination invariant (round 12, VERDICT r11 #6a;
    operators.terms.cross_split_contamination): the end-to-end audit
    the r11 split/provenance operators enable — the leakage-safe
    cluster split's train half is audited against every held-out
    split for shared >=32-char windows BEFORE and AFTER
    exact-substring decontamination. The post phase must be all-zero:
    removing every flagged train doc removes every shared window by
    construction, and a nonzero post row means the flag operator and
    the report disagree — exactly the bug this invariant exists to
    catch. The oracle nests the verified cluster-split CTE chain and
    the verified decontamination twin."""
    from shaha_spark.caching import registers
    from shaha_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_similarity,
    )
    from shaha_spark.operators.sampling import cluster_split
    from shaha_spark.operators.terms import (
        contamination_report,
        cross_split_contamination,
    )

    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    edges = minhash_similarity(
        sigs, lsh_candidate_pairs(sigs)
    ).where(F.col("est_jaccard") >= 0.7).select("id_a", "id_b")
    sp = cluster_split(docs.select("doc_id"), edges, SPLIT_WEIGHTS, salt="cs")
    # stage boundary (plan-lint rescan rule): dd feeds ~10 consumers
    # (two audit phases x four shingle/spine passes + the flag
    # operator), each of which would otherwise re-derive the whole
    # MinHash CC chain — 34 documents scans measured. The lazy
    # localCheckpoint cuts the lineage once, the curate.py pattern.
    dd = docs.select("doc_id", "text").join(
        sp.select("doc_id", "split"), "doc_id"
    ).localCheckpoint(eager=False)
    train = dd.where(F.col("split") == "train")
    held = dd.where(F.col("split") != "train")
    # ONE contamination_report feeds both the pre-phase aggregation and
    # the decontamination flag set (optimization r12, guide §1.2-1):
    # the flag operator's contaminated set is exactly the report's
    # distinct train ids (pinned in contamination_report's docstring
    # and test_round11_ops), so the separate exact_substring_
    # decontaminate pass — a third full window-extraction scan — is
    # redundant. rep is contamination-sized (matched pairs only), so
    # persisting it is scale-safe; released via the caching registry.
    rep = contamination_report(train, held, min_len=SUBSTR_DECONTAM_LEN).persist()
    pre = cross_split_contamination(dd, min_len=SUBSTR_DECONTAM_LEN, report=rep)
    clean_train = train.join(
        rep.select(F.col("train_doc_id").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )
    post = cross_split_contamination(
        clean_train.unionByName(held), min_len=SUBSTR_DECONTAM_LEN
    )
    return registers(
        pre.withColumn("phase", F.lit("pre_decontaminate"))
        .unionByName(post.withColumn("phase", F.lit("post_decontaminate")))
        .select(
            "phase", "split", "n_pairs", "n_shared_windows",
            "n_eval_docs_hit", "n_train_docs_hit",
        ),
        rep,
    )


def q_docs_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility / compression-ratio signal (round 12,
    VERDICT r11 #6b; operators.terms.bpe_fertility): pieces-per-token
    and chars-per-piece under the 8-merge BPE of docs_bpe_encode, with
    the RefinedWeb-style low-compression flag. The oracle runs the
    FULL training chain in SQL (8 chained pair-count/argmax/merge-fold
    CTEs — bpe_train's exact tiebreak and greedy merge), so unlike
    docs_bpe_encode's roundtrip-only oracle this one value-hashes the
    segmentation CONTENT. Training runs through bpe_train_local
    (optimization round 12, see docs_bpe_encode): one distributed job
    instead of 2·num_merges, bit-identical merge list."""
    from shaha_spark.operators.terms import bpe_fertility, bpe_train_local

    docs = _t(spark, sf_dir, "documents")
    out = bpe_fertility(docs, bpe_train_local(docs, num_merges=8))
    return out.select(
        "doc_id", "n_tokens", "n_pieces", "n_chars", "fertility",
        "chars_per_piece",
        F.col("low_compression").cast("int").alias("low_compression"),
    )


def q_docs_quality_bundle(spark, sf_dir):
    """Per-doc quality-signal bundle (round 12, VERDICT r11 #6c;
    operators.textops.quality_signal_bundle): the RedPajama-v2
    artifact shape — one wide row per document joining the verified
    quality_score, lang_id, gopher_rules, license_scan, and
    url_policy_scan signals, so downstream consumers filter by their
    own thresholds. The oracle joins the same five verified twins on
    the doc id."""
    from shaha_spark.operators.textops import quality_signal_bundle

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", _synth_url_col().alias("url")
    )
    out = quality_signal_bundle(
        docs,
        url_col="url",
        blocked_domains=("shop.co.uk",),
        blocked_patterns=("/p/3[0-9]",),
    )
    return out.select(
        "doc_id", "n_chars", "n_tokens", "mean_token_len",
        "stopword_ratio", "quality", "lang_pred", "symbol_ratio",
        "alpha_ratio",
        F.col("gopher_keep").cast("int").alias("gopher_keep"),
        "license",
        F.col("open_license").cast("int").alias("open_license"),
        "registered_domain", "block_reason",
        F.col("url_blocked").cast("int").alias("url_blocked"),
    )


def q_docs_charclass(spark, sf_dir):
    """Character-class + encoding-artifact scan (round 12;
    operators.textops.charclass_scan): per-doc counts of letter/digit/
    upper/whitespace/punct/control classes, U+FFFD replacement chars,
    and Windows-1252 mojibake signatures, with the class fractions and
    the C4/CCNet-style ``suspect`` verdict. One codegen'd projection —
    the text-cleanliness signal family."""
    from shaha_spark.operators.textops import charclass_scan

    out = charclass_scan(_t(spark, sf_dir, "documents"))
    return out.select(
        *[c for c in out.columns if c != "suspect"],
        F.col("suspect").cast("int").alias("suspect"),
    )


def q_docs_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary-growth curve (round 12;
    operators.terms.vocab_growth): cumulative distinct types vs
    cumulative tokens over 16 hash-ordered document buckets — the
    corpus-health profile (near-linear growth = unbounded noise
    vocabulary; too-flat = template duplication). The oracle replays
    the same h28 bucketing, tokenization, and B-row prefix sums."""
    from shaha_spark.operators.terms import vocab_growth

    return vocab_growth(_t(spark, sf_dir, "documents"), salt="vg")


def q_docs_dup_source_matrix(spark, sf_dir):
    """Near-duplicate cross-source matrix (round 12;
    operators.dedup.near_dup_source_matrix): which sources duplicate
    each other — pair counts per unordered source pair over the
    verified MinHash est-Jaccard ≥ 0.7 edge list (the mirror-site
    audit). The oracle nests the same sims CTE chain as the minhash
    dedup family."""
    from shaha_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_similarity,
        near_dup_source_matrix,
    )

    docs = _t(spark, sf_dir, "documents")
    # same cache/checkpoint discipline as dedup.minhash_dedup: the
    # signature table serves the band self-join AND both sims sides,
    # and the pair-sized edge list is checkpointed eagerly so the
    # matrix plan scans documents only for its two source joins
    sigs = minhash_signatures(docs).cache()
    edges = (
        minhash_similarity(sigs, lsh_candidate_pairs(sigs))
        .where(F.col("est_jaccard") >= 0.7)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    sigs.unpersist()
    out = near_dup_source_matrix(docs, edges)
    return out.select(
        "source_a",
        "source_b",
        "n_pairs",
        F.col("cross_source").cast("int").alias("cross_source"),
        "pair_frac",
    )


def q_docs_zipf_slope(spark, sf_dir):
    """Zipf rank-frequency fit (round 12; operators.terms.zipf_slope):
    least-squares slope of ln(count) vs ln(rank) over the corpus's top
    terms — the dual of the vocab-growth Heaps curve (natural language
    sits near −1; the synthetic corpus's flat −0.18 at r² 0.06 is
    exactly the template-heavy profile the signal exists to flag). The
    oracle reuses ols_fit_sql's exact-decimal moments on the same
    rounded-ln projection."""
    from shaha_spark.operators.terms import zipf_slope

    return zipf_slope(_t(spark, sf_dir, "documents"))


def q_emb_prototypicality(spark, sf_dir):
    """SSL-prototypes pruning signal (round 12;
    operators.kmeans.prototypicality): per-vector cosine to the
    assigned k-means centroid with a threshold flag (Sorcher et al.
    2022 data-pruning metric — prune cluster-redundant mass, keep the
    hard tail). Centroids from the verified kmeans_fit (k=4, iters=2);
    the oracle chains the same kmeans CTEs into the fassign argmax,
    keeping the rounded cosine."""
    from shaha_spark.operators.kmeans import kmeans_fit, prototypicality

    emb = _t(spark, sf_dir, "embeddings")
    out = prototypicality(emb, kmeans_fit(emb, k=4, iters=2), threshold=0.35)
    return out.select(
        "vec_id",
        "centroid_id",
        "proto_cos",
        F.col("prototypical").cast("int").alias("prototypical"),
    )


def q_emb_cluster_profile(spark, sf_dir):
    """Per-cluster curation report (round 12;
    operators.kmeans.cluster_profile): member count, decimal-exact
    mean cosine-to-centroid, and prototypical fraction per k-means
    cluster — the audit row cluster-balanced curation reads before
    setting per-cluster keep rates. Empty clusters are reported rows
    (spine left join), never absent ones. The oracle aggregates the
    same prototypicality chain with split_cast_double's exact mean."""
    from shaha_spark.operators.kmeans import cluster_profile, kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    return cluster_profile(
        emb, kmeans_fit(emb, k=4, iters=2), threshold=0.35
    )


def q_docs_url_policy(spark, sf_dir):
    """URL policy screening with auditable reason codes (round 11,
    VERDICT r10 #8; operators.dedup.url_policy_scan): registered-
    domain blocklist (shop.co.uk — the multi-label-suffix hosts of the
    synthetic crawl) plus a URL-shape pattern (/p/3[0-9] — the
    template-noise page class), domain rule first. One verdict row
    per doc; keep/drop composes downstream."""
    from shaha_spark.operators.dedup import url_policy_scan

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_col().alias("url")
    )
    out = url_policy_scan(
        docs,
        "url",
        blocked_domains=("shop.co.uk",),
        blocked_patterns=("/p/3[0-9]",),
    )
    return out.select(
        "doc_id",
        "registered_domain",
        "block_reason",
        F.col("blocked").cast("int").alias("blocked"),
    )


def queries_r4() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "emb_sq_topk": q_emb_sq_topk,
        "emb_prefix_topk": q_emb_prefix_topk,
        "events_cube": q_events_cube,
        "events_nearest_join": q_events_nearest_join,
        "events_cdc_snapshot": q_events_cdc_snapshot,
        "emb_prefix_ndcg": q_emb_prefix_ndcg,
        "snapshot_time_travel": q_snapshot_time_travel,
        "multimodal_dedup": q_multimodal_dedup,
        "events_cumulative_users": q_events_cumulative_users,
        "orders_basket_rules": q_orders_basket_rules,
        "docs_bm25": q_docs_bm25,
        "dq_referential": q_dq_referential,
        "snapshot_row_diff": q_snapshot_row_diff,
        "docs_clf_report": q_docs_clf_report,
        "docs_calibration": q_docs_calibration,
        "docs_isotonic": q_docs_isotonic,
        "docs_auc": q_docs_auc,
        "events_interarrival": q_events_interarrival,
        "docs_overview": q_docs_overview,
        "dq_functional": q_dq_functional,
        "events_value_percentile": q_events_value_percentile,
        "events_audience_overlap": q_events_audience_overlap,
        "docs_hapax_ratio": q_docs_hapax_ratio,
        "emb_silhouette": q_emb_silhouette,
        "docs_freshness": q_docs_freshness,
        "events_streaks": q_events_streaks,
        "events_benford": q_events_benford,
        "words_freq_of_freqs": q_words_freq_of_freqs,
        "words_collocations": q_words_collocations,
        "events_cohort_value": q_events_cohort_value,
        "users_survival": q_users_survival,
        "docs_rank_fusion": q_docs_rank_fusion,
        "orders_kcore": q_orders_kcore,
        "events_active_time": q_events_active_time,
        "dedup_cluster_sizes": q_dedup_cluster_sizes,
        "lineitem_weighted_median": q_lineitem_weighted_median,
        "events_session_paths": q_events_session_paths,
        "events_mean_shift": q_events_mean_shift,
        "events_chi_square": q_events_chi_square,
        "events_key_skew": q_events_key_skew,
        "events_mad_outliers": q_events_mad_outliers,
        "orders_set_similarity": q_orders_set_similarity,
        "words_trigram_fuzzy": q_words_trigram_fuzzy,
        "emb_ivf_index_topk": q_emb_ivf_index_topk,
        "emb_ivf_index_append_topk": q_emb_ivf_index_append_topk,
        "orders_pair_triangles": q_orders_pair_triangles,
        "events_ab_welch": q_events_ab_welch,
        "docs_psi_drift": q_docs_psi_drift,
        "emb_ann_recall": q_emb_ann_recall,
        "events_pit_join": q_events_pit_join,
        "events_rollup_incremental": q_events_rollup_incremental,
        "docs_source_cap": q_docs_source_cap,
        "docs_ppl_buckets": q_docs_ppl_buckets,
        "events_gapfill": q_events_gapfill,
        "events_debounce": q_events_debounce,
        "users_scd2": q_users_scd2,
        "docs_line_dedup": q_docs_line_dedup,
        "docs_dup_span_removed": q_docs_dup_span_removed,
        "docs_temperature_rates": q_docs_temperature_rates,
        "docs_temperature_resample": q_docs_temperature_resample,
        "docs_dsir_weights": q_docs_dsir_weights,
        "docs_dsir_topk": q_docs_dsir_topk,
        "docs_top_keywords": q_docs_top_keywords,
        "docs_redact": q_docs_redact,
        "dedup_keep_best": q_dedup_keep_best,
        "docs_hashed_features": q_docs_hashed_features,
        "docs_logreg_score": q_docs_logreg_score,
        "emb_semantic_dedup": q_emb_semantic_dedup,
        "emb_pq_topk": q_emb_pq_topk,
        "emb_ivf_pq_topk": q_emb_ivf_pq_topk,
        "emb_ivf_pq_index_topk": q_emb_ivf_pq_index_topk,
        "emb_ivf_pq_index_append_topk": q_emb_ivf_pq_index_append_topk,
        "docs_bpe_encode": q_docs_bpe_encode,
        "docs_char_entropy": q_docs_char_entropy,
        "docs_trigram_backoff": q_docs_trigram_backoff,
        "docs_curated": q_docs_curated,
        "docs_postings_stats": q_docs_postings_stats,
        "docs_phrase_search": q_docs_phrase_search,
        "docs_winnowing": q_docs_winnowing,
        "docs_token_budget": q_docs_token_budget,
        "emb_diverse_sample": q_emb_diverse_sample,
        "emb_hard_negatives": q_emb_hard_negatives,
        "emb_knn_accuracy": q_emb_knn_accuracy,
        # round-11 additions (concept-grep, VERDICT r10 #8)
        "docs_contamination_report": q_docs_contamination_report,
        "docs_domain_importance": q_docs_domain_importance,
        "docs_license_scan": q_docs_license_scan,
        "docs_url_policy": q_docs_url_policy,
        "emb_ivf_pq_refine_topk": q_emb_ivf_pq_refine_topk,
    }


# ------------------------------------------------------------ oracles

_LINES_CTE = """lines AS (
  SELECT doc_id, text AS line FROM documents
),
dupl AS (
  SELECT line FROM (
    SELECT line, count(DISTINCT doc_id) AS nd FROM lines GROUP BY line
  ) WHERE nd >= 2
),
ld AS (
  SELECT doc_id, line AS text FROM lines
  WHERE line NOT IN (SELECT line FROM dupl) AND line <> ''
)"""

_TEMP_RATES_CTE = """counts AS (
  SELECT lang AS stratum, count(*) AS n_docs FROM documents GROUP BY lang
),
powed AS (
  SELECT stratum, n_docs,
         pow(n_docs::DOUBLE / sum(n_docs) OVER (), 0.7) AS pa,
         sum(n_docs) OVER () AS n
  FROM counts
),
rates AS (
  SELECT stratum, n_docs,
         least(1.0, n::DOUBLE * (pa / sum(pa) OVER ()) / n_docs::DOUBLE) AS rate
  FROM powed
)"""


def _dsir_weights_sql(num_buckets: int = 4096) -> str:
    return f"""WITH toks AS (
  SELECT doc_id, lang, w, pos FROM (
    SELECT doc_id, lang, unnest(ts) AS w,
           unnest(range(1, len(ts) + 1)) AS pos
    FROM (SELECT doc_id, lang,
                 list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), t -> t <> '') AS ts
          FROM documents)
  )
),
withnext AS (
  SELECT doc_id, lang, w,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks
),
grams AS (
  SELECT doc_id, lang, w AS gram FROM withnext
  UNION ALL
  SELECT doc_id, lang, concat(w, ' ', w2) AS gram
  FROM withnext WHERE w2 IS NOT NULL
),
bucketed AS (
  SELECT doc_id, lang,
         {h28_sql("concat(gram, '')")} % {num_buckets} AS bucket
  FROM grams
),
cr AS (SELECT bucket, count(*) AS cr FROM bucketed GROUP BY bucket),
ct AS (SELECT bucket, count(*) AS ct FROM bucketed
       WHERE lang = 'en' GROUP BY bucket),
tr AS (SELECT sum(cr) AS tr FROM cr),
tt AS (SELECT coalesce(sum(ct), 0) AS tt FROM ct),
lam AS (
  SELECT cr.bucket,
         CAST(round(ln((coalesce(ct.ct, 0) + 1)::DOUBLE
                      / (tt.tt + {num_buckets})::DOUBLE), 8) AS DECIMAL(20,8))
       - CAST(round(ln((cr.cr + 1)::DOUBLE
                      / (tr.tr + {num_buckets})::DOUBLE), 8) AS DECIMAL(20,8))
         AS lam
  FROM cr LEFT JOIN ct ON cr.bucket = ct.bucket, tr, tt
),
w AS (
  SELECT b.doc_id, count(*) AS n_grams,
         CAST(sum(lam.lam) AS DOUBLE) AS logweight
  FROM bucketed b JOIN lam ON b.bucket = lam.bucket
  GROUP BY b.doc_id
)"""


_GOPHER_STOPS_IN = "(" + ", ".join(
    f"'{w}'" for w in QUALITY_STOPWORDS
) + ")"

_QUALITY_STOPS_LIST = "[" + ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS) + "]"


def oracle_sql_r4() -> dict[str, str]:
    from shaha_spark.operators.profile import split_cast_double_sql
    from shaha_spark.operators.sampling import source_cap_sql
    from shaha_spark.operators.incremental import incremental_rollup_sql
    from shaha_spark.operators.timeseries import (
        debounce_sql,
        gapfill_sql,
        scd2_sql,
    )

    sql: dict[str, str] = {}

    sql["docs_source_cap"] = source_cap_sql("documents", "source", "doc_id", 10)

    sql["docs_ppl_buckets"] = f"""WITH {_WORDS_CTE},
toks AS (SELECT doc_id, word AS term FROM words),
lm AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
lp AS (
  SELECT term,
         CAST(ROUND(LN(CAST(tf AS DOUBLE) / CAST(total AS DOUBLE)), 8)
              AS DECIMAL(20,8)) AS lp
  FROM lm, (SELECT SUM(tf) AS total FROM lm)
),
score AS (
  SELECT doc_id, {_split_cast_sql('SUM(lp)', 8)} / COUNT(*) AS avg_logprob
  FROM toks JOIN lp USING (term) GROUP BY doc_id
)
SELECT d.doc_id, d.lang, s.avg_logprob,
  ntile(3) OVER (
    PARTITION BY d.lang ORDER BY s.avg_logprob DESC, d.doc_id
  ) AS bucket
FROM documents d JOIN score s USING (doc_id)"""

    from __spark_entry__ import _ivf_kmeans_sql

    exact_topk = """WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(list_cosine_similarity(cv, qv), 6) DESC, vec_id ASC
         ) AS rank
  FROM c, q
)
SELECT query_id, vec_id FROM ranked WHERE rank <= 5"""
    sql["emb_ann_recall"] = f"""WITH exact AS ({exact_topk}),
approx AS ({_ivf_kmeans_sql(k=4, iters=2, nprobe=2, topk=5)})
SELECT e.query_id,
  CAST(count(a.vec_id) AS BIGINT) AS n_hits,
  CAST(count(a.vec_id) AS DOUBLE) / 5.0 AS recall
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
GROUP BY e.query_id"""

    sql["events_rollup_incremental"] = incremental_rollup_sql("events")

    scd_even = scd2_sql("(SELECT * FROM events WHERE event_id % 2 = 0)")
    sql["events_pit_join"] = f"""WITH scd AS ({scd_even}),
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

    sql["events_gapfill"] = gapfill_sql("events")
    sql["events_debounce"] = debounce_sql("events")
    sql["users_scd2"] = scd2_sql("events")

    sql["docs_line_dedup"] = f"""WITH {_LINES_CTE}
SELECT doc_id, text FROM ld"""

    sql["docs_dup_span_removed"] = """WITH toks0 AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), x -> x <> '') AS l
  FROM documents
), toks AS (
  SELECT doc_id, unnest(l) AS w, unnest(range(0, len(l))) AS idx FROM toks0
), grams AS (
  SELECT doc_id, idx,
         w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
           || ' ' || lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win AS gram,
         lead(w, 4) OVER win AS last_w
  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY idx)
), occ AS (
  SELECT doc_id, idx, gram FROM grams WHERE last_w IS NOT NULL
), dupg AS (
  SELECT gram FROM (
    SELECT gram, count(*) OVER (PARTITION BY gram) AS df
    FROM (SELECT DISTINCT doc_id, gram FROM occ)
  ) WHERE df >= 2 GROUP BY gram
), covered AS (
  SELECT DISTINCT o.doc_id, o.idx + s.i AS idx
  FROM occ o JOIN dupg USING (gram),
       UNNEST(generate_series(0, 4)) AS s(i)
), kept AS (
  SELECT t.doc_id, t.idx, t.w FROM toks t
  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.idx = c.idx
  WHERE c.idx IS NULL
), agg AS (
  SELECT doc_id, string_agg(w, ' ' ORDER BY idx) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
), tot AS (
  SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(t.n_tokens, 0) - coalesce(a.n_kept, 0) AS BIGINT)
         AS n_removed
FROM documents d
LEFT JOIN agg a USING (doc_id)
LEFT JOIN tot t USING (doc_id)"""

    sql["docs_temperature_rates"] = f"""WITH {_TEMP_RATES_CTE}
SELECT stratum, n_docs, rate FROM rates"""

    sql["docs_temperature_resample"] = f"""WITH {_TEMP_RATES_CTE},
thr AS (
  SELECT stratum, CAST(floor(rate * 10000) AS BIGINT) AS thr FROM rates
)
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d LEFT JOIN thr t ON d.lang IS NOT DISTINCT FROM t.stratum
WHERE {bucket_sql('doc_id', '')} < coalesce(t.thr, 0)"""

    sql["docs_dsir_weights"] = (
        _dsir_weights_sql() + "\nSELECT doc_id, n_grams, logweight FROM w"
    )

    sql["docs_dsir_topk"] = (
        _dsir_weights_sql()
        + "\nSELECT doc_id, n_grams, logweight FROM w"
        + "\nORDER BY logweight DESC, doc_id ASC LIMIT 25"
    )

    sql["docs_top_keywords"] = """WITH words AS (
  SELECT w AS word, doc_id FROM (
    SELECT unnest(regexp_split_to_array(text, '[ \\t\\n\\r]+')) AS w, doc_id FROM documents
  ) WHERE w <> ''
),
tf AS (SELECT doc_id, word AS term, count(*) AS tf FROM words GROUP BY 1, 2),
tfd AS (
  SELECT doc_id, term, tf, count(*) OVER (PARTITION BY term) AS df FROM tf
),
n AS (SELECT count(*) AS n_docs FROM documents),
ts AS (
  SELECT tfd.doc_id, tfd.term, tfd.tf, tfd.df,
         CAST(tfd.tf AS DOUBLE)
           * (CAST(n.n_docs AS DOUBLE) / CAST(tfd.df AS DOUBLE)) AS weight
  FROM tfd CROSS JOIN n
)
SELECT doc_id, term, tf, df, weight, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY weight DESC, term ASC
  ) AS rank FROM ts
) WHERE rank <= 3"""

    sql["docs_redact"] = """SELECT doc_id,
  regexp_replace(
    regexp_replace(text, '[0-9]+', '<num>', 'g'),
    '[A-Z][A-Z]+', '<shout>', 'g') AS redacted,
  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
  CAST(len(regexp_extract_all(
    regexp_replace(text, '[0-9]+', '<num>', 'g'),
    '[A-Z][A-Z]+')) AS BIGINT) AS n_shout
FROM documents"""

    k_perms = len(MINHASH_PERMS)
    match_terms = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
        for i in range(k_perms)
    )
    sql["dedup_keep_best"] = f"""WITH RECURSIVE {_pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({match_terms} AS DOUBLE) / {k_perms} AS est_jaccard
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
),
ed AS (
  SELECT id_a AS src, id_b AS dst FROM sims WHERE est_jaccard >= 0.7
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM sims WHERE est_jaccard >= 0.7
),
reach(id, comp) AS (
  SELECT src, src FROM ed
  UNION
  SELECT e.src, r.comp FROM ed e JOIN reach r ON r.id = e.dst
),
comp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
qbase AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), t -> t <> '') AS qt
  FROM documents
),
q AS (
  SELECT doc_id,
    0.4 * least(CAST(len(qt) AS DOUBLE) / 100.0, 1.0)
  + 0.3 * least(
      CASE WHEN len(qt) > 0
        THEN CAST(list_sum(list_transform(qt, w -> length(w))) AS DOUBLE)
             / len(qt) ELSE 0.0 END / 8.0, 1.0)
  + 0.3 * least(
      CASE WHEN len(qt) > 0
        THEN CAST(len(list_filter(qt,
               w -> list_contains({_QUALITY_STOPS_LIST}, w))) AS DOUBLE)
             / len(qt) ELSE 0.0 END / 0.2, 1.0) AS quality
  FROM qbase
),
ranked AS (
  SELECT c.id, row_number() OVER (
    PARTITION BY c.comp ORDER BY q.quality DESC NULLS LAST, c.id ASC
  ) AS rk
  FROM comp c LEFT JOIN q ON q.doc_id = c.id
),
losers AS (SELECT id AS doc_id FROM ranked WHERE rk > 1)
SELECT d.doc_id FROM documents d LEFT JOIN losers l USING (doc_id)
WHERE l.doc_id IS NULL"""

    feat_cte = f"""words AS (
  SELECT w AS word, doc_id FROM (
    SELECT unnest(regexp_split_to_array(text, '[ \\t\\n\\r]+')) AS w, doc_id FROM documents
  ) WHERE w <> ''
),
feat AS (
  SELECT doc_id,
         CAST({h28_sql("concat(word, '')")} % {LOGREG_DIM} AS INTEGER) AS idx,
         count(*) AS c
  FROM words GROUP BY 1, 2
),
tot AS (SELECT doc_id, sum(c) AS n FROM feat GROUP BY doc_id),
fv AS (
  SELECT f.doc_id, f.idx,
         CAST(f.c AS DOUBLE) / CAST(t.n AS DOUBLE) AS val
  FROM feat f JOIN tot t USING (doc_id)
)"""

    sql["docs_hashed_features"] = f"""WITH {feat_cte}
SELECT doc_id, idx, val FROM fv"""

    # w_i = ((i*37) % 21 - 10) / 10.0 — exactly LOGREG_WEIGHTS. The
    # ordered sum replays Spark's sequential idx-ordered fold.
    sql["docs_logreg_score"] = f"""WITH {feat_cte},
m AS (
  SELECT doc_id,
         sum(val * ((CAST(idx AS BIGINT) * 37) % 21 - 10) / 10.0
             ORDER BY idx) AS margin
  FROM fv GROUP BY doc_id
)
SELECT d.doc_id,
       round(1.0 / (1.0 + exp(-coalesce(m.margin, 0.0))), 6)
         AS quality_prob
FROM documents d LEFT JOIN m USING (doc_id)"""

    scored_cte = f"""{feat_cte},
m AS (
  SELECT doc_id,
         sum(val * ((CAST(idx AS BIGINT) * 37) % 21 - 10) / 10.0
             ORDER BY idx) AS margin
  FROM fv GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id,
         round(1.0 / (1.0 + exp(-coalesce(m.margin, 0.0))), 6) AS p,
         d.lang = 'en' AS lab
  FROM documents d LEFT JOIN m USING (doc_id)
)"""

    sql["docs_clf_report"] = f"""WITH {scored_cte},
agg AS (
  SELECT SUM(CASE WHEN p >= 0.5 AND lab THEN 1 ELSE 0 END) AS tp,
         SUM(CASE WHEN p >= 0.5 AND NOT lab THEN 1 ELSE 0 END) AS fp,
         SUM(CASE WHEN p < 0.5 AND lab THEN 1 ELSE 0 END) AS fn,
         SUM(CASE WHEN p < 0.5 AND NOT lab THEN 1 ELSE 0 END) AS tn
  FROM scored
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
  CASE WHEN tp + fp = 0 THEN 0.0
       ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 9) END AS precision,
  CASE WHEN tp + fn = 0 THEN 0.0
       ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 9) END AS recall,
  CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
       ELSE round(CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE), 9) END AS f1,
  CASE WHEN tp + fp + fn + tn = 0 THEN 0.0
       ELSE round(CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE), 9) END AS accuracy
FROM agg"""

    from shaha_spark.operators.classifier import isotonic_fit_sql

    sql["docs_isotonic"] = isotonic_fit_sql(
        "scored", "lab", "p", bins=16, prelude_ctes=scored_cte
    )

    sql["docs_calibration"] = f"""WITH {scored_cte},
binned AS (
  SELECT p, lab, LEAST(9, CAST(FLOOR(p * 10.0) AS INTEGER)) AS bin FROM scored
)
SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
  round({split_cast_double_sql("SUM(CAST(round(p, 6) AS DECIMAL(16,6)))", 6)} / COUNT(*), 9) AS mean_prob,
  round(SUM(CASE WHEN lab THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 9) AS pos_rate
FROM binned GROUP BY bin"""

    sql["events_interarrival"] = """WITH g AS (
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

    sql["docs_overview"] = """WITH dups AS (
  SELECT COALESCE(SUM(c), 0) AS d FROM (
    SELECT text, COUNT(*) AS c FROM documents GROUP BY text HAVING COUNT(*) > 1
  )
),
base AS (
  SELECT COUNT(*) AS n_docs,
    COUNT(DISTINCT lang) AS n_langs,
    COUNT(DISTINCT source) AS n_sources,
    round(CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*), 9) AS mean_chars
  FROM documents
)
SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(n_langs AS BIGINT) AS n_langs,
  CAST(n_sources AS BIGINT) AS n_sources, mean_chars,
  CAST(d AS BIGINT) AS n_dup_docs,
  round(CAST(d AS DOUBLE) / CAST(n_docs AS DOUBLE), 9) AS dup_fraction
FROM base CROSS JOIN dups"""

    sql["dq_functional"] = """WITH a AS (
  SELECT 'o_orderkey->o_custkey' AS dependency,
    COUNT(*) AS n_keys,
    SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS n_violations
  FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS k FROM orders GROUP BY 1)
),
b AS (
  SELECT 'l_orderkey->l_returnflag',
    COUNT(*), SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END)
  FROM (SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS k FROM lineitem GROUP BY 1)
),
c AS (
  SELECT 'c_custkey->c_nationkey',
    COUNT(*), SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END)
  FROM (SELECT c_custkey, COUNT(DISTINCT c_nationkey) AS k FROM customer GROUP BY 1)
)
SELECT dependency, CAST(n_keys AS BIGINT) AS n_keys,
       CAST(n_violations AS BIGINT) AS n_violations
FROM (SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c)"""

    sql["events_value_percentile"] = """WITH r AS (
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

    sql["events_audience_overlap"] = """WITH du AS (
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

    sql["docs_hapax_ratio"] = f"""WITH {_WORDS_CTE},
tf AS (SELECT word, COUNT(*) AS c FROM words GROUP BY word),
hap AS (SELECT word FROM tf WHERE c = 1),
tok AS (
  SELECT w.doc_id, w.word, CASE WHEN h.word IS NULL THEN 0 ELSE 1 END AS ih
  FROM words w LEFT JOIN hap h ON w.word = h.word
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(ih) AS BIGINT) AS n_hapax,
  round(CAST(SUM(ih) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS hapax_ratio
FROM tok GROUP BY doc_id"""

    _silh_parts = ",\n".join(_kmeans_parts(k=4, iters=2))
    sql["emb_silhouette"] = f"""WITH {_silh_parts},
af AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT v.vec_id, v.e, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM v CROSS JOIN c2 c
  ) WHERE r = 1
),
dists AS (
  SELECT a.vec_id, a.centroid_id, c.centroid_id AS cid,
    1.0 - round(list_cosine_similarity(CAST(a.e AS DOUBLE[]), c.cv), 6) AS d
  FROM af a CROSS JOIN c2 c
),
pp AS (
  SELECT vec_id, centroid_id,
    MAX(CASE WHEN cid = centroid_id THEN d END) AS a,
    MIN(CASE WHEN cid <> centroid_id THEN d END) AS b
  FROM dists GROUP BY vec_id, centroid_id
),
t AS (
  SELECT centroid_id,
    CAST(round((b - a) / GREATEST(a, b), 9) AS DECIMAL(19,9)) AS s
  FROM pp
)
SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
  CAST(COUNT(*) AS BIGINT) AS n_points,
  round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 9) AS mean_silhouette
FROM t GROUP BY centroid_id"""

    sql["docs_freshness"] = """WITH per AS (
  SELECT source, COUNT(*) AS n_docs, MAX(doc_id) AS newest_id
  FROM documents GROUP BY source
),
mx AS (SELECT MAX(newest_id) AS gmax FROM per)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(newest_id AS BIGINT) AS newest_id,
  CAST(gmax - newest_id AS BIGINT) AS lag
FROM per CROSS JOIN mx"""

    sql["events_streaks"] = """WITH ordered AS (
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

    sql["events_benford"] = """WITH c AS (
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

    sql["words_freq_of_freqs"] = f"""WITH {_WORDS_CTE},
tf AS (SELECT word, COUNT(*) AS c FROM words GROUP BY word)
SELECT CAST(c AS BIGINT) AS c, CAST(COUNT(*) AS BIGINT) AS n_words
FROM tf GROUP BY c"""

    sql["words_collocations"] = f"""WITH {_WORDS_CTE},
toks AS (
  SELECT doc_id, w AS w1, p FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\r]+')) AS w,
           unnest(range(1, len(regexp_split_to_array(text, '[ \\t\\n\\r]+')) + 1)) AS p
    FROM documents
  ) WHERE w <> ''
),
bi AS (
  SELECT w1, w2, COUNT(*) AS c_ab FROM (
    SELECT doc_id, w1, lead(w1) OVER (PARTITION BY doc_id ORDER BY p) AS w2
    FROM toks
  ) WHERE w2 IS NOT NULL
  GROUP BY w1, w2
),
uni AS (SELECT word, COUNT(*) AS c FROM words GROUP BY word),
nt AS (SELECT COUNT(*) AS n FROM words)
SELECT b.w1, b.w2, CAST(b.c_ab AS BIGINT) AS c_ab,
  round(ln((CAST(nt.n AS DOUBLE) * b.c_ab)
           / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))), 9) AS pmi
FROM bi b
JOIN uni ua ON b.w1 = ua.word
JOIN uni ub ON b.w2 = ub.word
CROSS JOIN nt
WHERE b.c_ab >= 5
ORDER BY pmi DESC, b.w1 ASC, b.w2 ASC
LIMIT 25"""

    sql["events_cohort_value"] = """WITH e AS (
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

    sql["users_survival"] = """WITH per_user AS (
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

    sql["events_active_time"] = """WITH iv AS (
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

    from shaha_spark.operators.constants import MINHASH_PERMS as _MP

    _kp = len(_MP)
    _match = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
        for i in range(_kp)
    )
    # same recursive-CTE fixpoint as the dedup_minhash_cc oracle, with
    # the histogram tail instead of the survivor anti-join; isolated
    # docs are singleton clusters (size 1) by definition
    sql["dedup_cluster_sizes"] = f"""WITH RECURSIVE {_pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({_match} AS DOUBLE) / {_kp} AS est_jaccard
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
),
ed AS (
  SELECT id_a AS src, id_b AS dst FROM sims WHERE est_jaccard >= 0.7
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM sims WHERE est_jaccard >= 0.7
),
reach(id, comp) AS (
  SELECT src, src FROM ed
  UNION
  SELECT e.src, r.comp FROM ed e JOIN reach r ON r.id = e.dst
),
comp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
sizes AS (SELECT comp, COUNT(*) AS cluster_size FROM comp GROUP BY comp)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY cluster_size"""

    sql["lineitem_weighted_median"] = """WITH r AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v,
    SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
      PARTITION BY l_returnflag
      ORDER BY l_extendedprice, l_quantity
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
    SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
      PARTITION BY l_returnflag) AS tw
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
)
SELECT l_returnflag, MIN(v) AS wq50,
       CAST(ANY_VALUE(tw) AS DOUBLE) AS total_weight
FROM r WHERE cw >= CAST(0.5 AS DECIMAL(10,6)) * tw
GROUP BY l_returnflag"""

    sql["events_session_paths"] = f"""WITH ordered AS (
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

    sql["events_mean_shift"] = """WITH ev AS (
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

    # chi2 via the marginal identity sum(o^2/e) - n (absent cells fold
    # in exactly); per-cell terms rounded 9 + decimal sums
    sql["events_chi_square"] = f"""WITH ev AS (
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

    sql["events_key_skew"] = """WITH c AS (
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

    # the same explicit exact-interpolation median recipe as
    # group_quantiles_sql, applied twice (median, then MAD)
    sql["events_mad_outliers"] = """WITH base AS (
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

    # independent candidate generation (ANY shared item — exhaustive)
    # + the same integer-exact verify: identical final pairs proves the
    # Spark side's prefix filter is exact-recall
    sql["orders_set_similarity"] = """WITH di AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS it FROM lineitem
),
sz AS (SELECT b, COUNT(*) AS n FROM di GROUP BY b),
inter AS (
  SELECT a.b AS basket_a, bb.b AS basket_b, COUNT(*) AS inter
  FROM di a JOIN di bb ON a.it = bb.it AND a.b < bb.b
  GROUP BY 1, 2
)
SELECT i.basket_a, i.basket_b, CAST(i.inter AS BIGINT) AS inter,
  CAST(sa.n + sb.n - i.inter AS BIGINT) AS n_union,
  round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) AS jaccard
FROM inter i
JOIN sz sa ON i.basket_a = sa.b
JOIN sz sb ON i.basket_b = sb.b
WHERE CAST(i.inter AS DOUBLE) >= 0.5 * (sa.n + sb.n - i.inter)"""

    from __spark_entry__ import _DWORDS_CTE, _ivf_kmeans_sql

    sql["words_trigram_fuzzy"] = f"""WITH {_DWORDS_CTE},
v AS (SELECT word AS v FROM dwords WHERE len(word) >= 4),
g AS (
  SELECT v, unnest(list_distinct(
    list_transform(range(1, len(v) - 1), i -> v[i:i+2])
  )) AS gm
  FROM v
),
cand AS (
  SELECT a.v AS v_a, b.v AS v_b
  FROM g a JOIN g b USING (gm)
  WHERE a.v < b.v AND abs(len(a.v) - len(b.v)) <= 2
  GROUP BY 1, 2
)
SELECT v_a, v_b, CAST(levenshtein(v_a, v_b) AS BIGINT) AS dist
FROM cand WHERE levenshtein(v_a, v_b) <= 2"""

    sql["emb_ivf_index_topk"] = _ivf_kmeans_sql(
        k=4, iters=2, nprobe=2, topk=5
    )

    # independent algorithm as the oracle: canonical a<b<c three-way
    # self-join (the Spark side uses degree-oriented wedges — same
    # triangles, different enumeration, stronger cross-check)
    sql["orders_pair_triangles"] = """WITH di AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pc AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS n_pair
  FROM di a JOIN di b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
e AS (SELECT a, b FROM pc WHERE n_pair >= 2),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
nodes AS (SELECT a AS n FROM e UNION SELECT b FROM e)
SELECT CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles,
       CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges"""

    from shaha_spark.operators.profile import psi_sql, welch_t_sql

    sql["events_ab_welch"] = welch_t_sql(
        "(SELECT user_id % 2 AS cohort, value FROM events)",
        "cohort", "value", "0", "1",
    )
    sql["docs_psi_drift"] = psi_sql(
        "(SELECT * FROM documents WHERE lang = 'en')",
        "(SELECT * FROM documents WHERE lang <> 'en')",
        "n_chars",
    )

    sql["docs_auc"] = f"""WITH {scored_cte},
b AS (
  SELECT p, SUM(CASE WHEN lab THEN 1 ELSE 0 END) AS np,
         SUM(CASE WHEN lab THEN 0 ELSE 1 END) AS nn
  FROM scored GROUP BY p
),
c AS (
  SELECT np, nn,
         SUM(nn) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nn AS below
  FROM b
),
a AS (SELECT SUM(np * (2 * below + nn)) AS num, SUM(np) AS P, SUM(nn) AS N FROM c)
SELECT CASE WHEN P = 0 OR N = 0 THEN 0.0
            ELSE round(CAST(num AS DOUBLE) / (2.0 * P * N), 9) END AS auc,
       CAST(P AS BIGINT) AS n_pos, CAST(N AS BIGINT) AS n_neg
FROM a"""

    kparts = ",\n".join(_kmeans_parts(k=4, iters=2))
    sql["emb_semantic_dedup"] = f"""WITH {kparts},
af AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT v.vec_id, v.e, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM v CROSS JOIN c2 c
  ) WHERE r = 1
),
prs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(
           CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])), 6) AS cosine
  FROM af a JOIN af b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
),
losers AS (SELECT DISTINCT id_b AS vec_id FROM prs WHERE cosine >= 0.98)
SELECT e2.vec_id FROM embeddings e2 LEFT JOIN losers l USING (vec_id)
WHERE l.vec_id IS NULL"""

    # PQ: m sub-kmeans chains (namespaced through the parameterized
    # kmeans oracle generator) -> codebook union -> encode (argmax
    # sub-dot, ties centroid-id-asc) -> per-query ADC table -> scored
    # sum -> top-k window. Exposed cosines round to 6 decimals, the
    # cross-engine recipe for float-fold ulp drift.
    dim = 64
    sub_dim = dim // PQ_M
    pq_parts: list[str] = []
    for s in range(PQ_M):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        pq_parts.extend(
            _kmeans_parts(
                k=PQ_K,
                iters=PQ_ITERS,
                prefix=f"s{s}_",
                src=(
                    f"SELECT vec_id, list_slice(embedding, {lo}, {hi}) AS e "
                    "FROM embeddings"
                ),
            )
        )
    pq_parts.append(
        "cb AS ("
        + "\nUNION ALL\n".join(
            f"SELECT {s} AS sub_id, centroid_id, cv FROM s{s}_c{PQ_ITERS}"
            for s in range(PQ_M)
        )
        + ")"
    )
    pq_parts.append(
        """base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
vn AS (SELECT vec_id, sqrt(list_dot_product(ev, ev)) AS vnorm FROM base),
enc AS (
  SELECT vec_id, sub_id, centroid_id AS code FROM (
    SELECT b.vec_id, cb.sub_id, cb.centroid_id,
           row_number() OVER (
             PARTITION BY b.vec_id, cb.sub_id
             ORDER BY list_dot_product(
               list_slice(b.ev, cb.sub_id * {sd} + 1, (cb.sub_id + 1) * {sd}),
               cb.cv) DESC,
             cb.centroid_id ASC
           ) AS r
    FROM base b CROSS JOIN cb
  ) WHERE r = 1
),
q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
qn AS (SELECT query_id, sqrt(list_dot_product(qv, qv)) AS qnorm FROM q),
adc AS (
  SELECT q.query_id, cb.sub_id, cb.centroid_id AS code,
         CAST(round(list_dot_product(
           list_slice(q.qv, cb.sub_id * {sd} + 1, (cb.sub_id + 1) * {sd}),
           cb.cv), 9) AS DECIMAL(25,9)) AS pdot
  FROM q CROSS JOIN cb
),
sc AS (
  SELECT a.query_id, e.vec_id, CAST(sum(a.pdot) AS DOUBLE) AS sdot
  FROM enc e JOIN adc a ON e.sub_id = a.sub_id AND e.code = a.code
  GROUP BY 1, 2
),
fin AS (
  SELECT sc.query_id, sc.vec_id,
         round(sc.sdot / (qn.qnorm * vn.vnorm), 6) AS ac
  FROM sc JOIN qn USING (query_id) JOIN vn USING (vec_id)
)""".format(sd=sub_dim)
    )
    sql["emb_pq_topk"] = (
        "WITH "
        + ",\n".join(pq_parts)
        + f"""
SELECT query_id, vec_id, ac AS approx_cosine,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY ac DESC, vec_id ASC
  ) AS rank FROM fin
) WHERE rank <= {PQ_TOPK}"""
    )

    # IVF-PQ composition oracle (r5 — upgrades the rows-only
    # registration): the SAME sub-kmeans chains + codebook + encode +
    # ADC recipe as emb_pq_topk, with scoring restricted to candidate
    # (query, vector) pairs from a coarse kmeans probe — the coarse fit
    # is the parameterized kmeans chain on the FULL vector (namespaced
    # g*), assignment/probe use the identical argmax/rank recipe the
    # green similarity_ivf_kmeans oracle verified.
    ivfpq_parts = pq_parts[:-1] + _kmeans_parts(
        k=PQ_K, iters=PQ_ITERS, prefix="g"
    )
    ivfpq_parts.append(
        """base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
vn AS (SELECT vec_id, sqrt(list_dot_product(ev, ev)) AS vnorm FROM base),
enc AS (
  SELECT vec_id, sub_id, centroid_id AS code FROM (
    SELECT b.vec_id, cb.sub_id, cb.centroid_id,
           row_number() OVER (
             PARTITION BY b.vec_id, cb.sub_id
             ORDER BY list_dot_product(
               list_slice(b.ev, cb.sub_id * {sd} + 1, (cb.sub_id + 1) * {sd}),
               cb.cv) DESC,
             cb.centroid_id ASC
           ) AS r
    FROM base b CROSS JOIN cb
  ) WHERE r = 1
),
q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
qn AS (SELECT query_id, sqrt(list_dot_product(qv, qv)) AS qnorm FROM q),
gassign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM gv v CROSS JOIN gc{it} c
  ) WHERE r = 1
),
gprobe AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM q CROSS JOIN gc{it} c
  ) WHERE r <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM gprobe p JOIN gassign a USING (centroid_id)
),
adc AS (
  SELECT q.query_id, cb.sub_id, cb.centroid_id AS code,
         CAST(round(list_dot_product(
           list_slice(q.qv, cb.sub_id * {sd} + 1, (cb.sub_id + 1) * {sd}),
           cb.cv), 9) AS DECIMAL(25,9)) AS pdot
  FROM q CROSS JOIN cb
),
sc AS (
  SELECT a.query_id, e.vec_id, CAST(sum(a.pdot) AS DOUBLE) AS sdot
  FROM enc e
  JOIN adc a ON e.sub_id = a.sub_id AND e.code = a.code
  JOIN cand cd ON cd.query_id = a.query_id AND cd.vec_id = e.vec_id
  GROUP BY 1, 2
),
fin AS (
  SELECT sc.query_id, sc.vec_id,
         round(sc.sdot / (qn.qnorm * vn.vnorm), 6) AS ac
  FROM sc JOIN qn USING (query_id) JOIN vn USING (vec_id)
)""".format(sd=sub_dim, it=PQ_ITERS, nprobe=2)
    )
    sql["emb_ivf_pq_topk"] = (
        "WITH "
        + ",\n".join(ivfpq_parts)
        + f"""
SELECT query_id, vec_id, ac AS approx_cosine,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY ac DESC, vec_id ASC
  ) AS rank FROM fin
) WHERE rank <= {PQ_TOPK}"""
    )
    # the persisted-index round trip must reproduce the in-plan chain
    # bit-for-bit (same artifacts, same probe, same ADC) — the oracle
    # is therefore the SAME chained recipe, verbatim
    sql["emb_ivf_pq_index_topk"] = sql["emb_ivf_pq_topk"]

    # ADC-then-refine (r11): the SAME chained IVF-PQ recipe cut at
    # 4×k candidates, re-scored with exact vectors (the verified
    # brute-force cosine form) and re-ranked — both stages' tiebreaks
    # mirror the Spark operator exactly
    sql["emb_ivf_pq_refine_topk"] = (
        "WITH "
        + ",\n".join(ivfpq_parts)
        + f""",
rtop AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY ac DESC, vec_id ASC
    ) AS r FROM fin
  ) WHERE r <= {PQ_TOPK * 4}
),
rex AS (
  SELECT t.query_id, t.vec_id,
         round(list_cosine_similarity(b.ev, q.qv), 6) AS cosine
  FROM rtop t JOIN base b USING (vec_id) JOIN q USING (query_id)
)
SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
  ) AS rank FROM rex
) WHERE rank <= {PQ_TOPK}"""
    )

    # incremental-append IVF-PQ oracle (r10): every TRAINING CTE — the
    # m sub-kmeans chains and the coarse kmeans — filters to the base
    # split (vec_id % 10 != 7, the rows build_ivf_pq_index saw), while
    # encode (enc) and coarse assignment (gassign) run over the FULL
    # corpus through those frozen artifacts, exactly what
    # append_to_ivf_pq_index does on disk. A value-hash match proves
    # the append path ≡ a from-scratch rebuild of base ∪ batch under
    # base-trained centroids+codebooks.
    app_where = "vec_id % 10 != 7"
    app_parts: list[str] = []
    for s in range(PQ_M):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        app_parts.extend(
            _kmeans_parts(
                k=PQ_K,
                iters=PQ_ITERS,
                prefix=f"s{s}_",
                src=(
                    f"SELECT vec_id, list_slice(embedding, {lo}, {hi}) AS e "
                    f"FROM embeddings WHERE {app_where}"
                ),
            )
        )
    app_parts.append(
        "cb AS ("
        + "\nUNION ALL\n".join(
            f"SELECT {s} AS sub_id, centroid_id, cv FROM s{s}_c{PQ_ITERS}"
            for s in range(PQ_M)
        )
        + ")"
    )
    app_parts.extend(
        _kmeans_parts(
            k=PQ_K,
            iters=PQ_ITERS,
            prefix="g",
            src=(
                "SELECT vec_id, embedding AS e FROM embeddings "
                f"WHERE {app_where}"
            ),
        )
    )
    app_parts.append(
        """base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
gav AS (SELECT vec_id, embedding AS e FROM embeddings),
vn AS (SELECT vec_id, sqrt(list_dot_product(ev, ev)) AS vnorm FROM base),
enc AS (
  SELECT vec_id, sub_id, centroid_id AS code FROM (
    SELECT b.vec_id, cb.sub_id, cb.centroid_id,
           row_number() OVER (
             PARTITION BY b.vec_id, cb.sub_id
             ORDER BY list_dot_product(
               list_slice(b.ev, cb.sub_id * {sd} + 1, (cb.sub_id + 1) * {sd}),
               cb.cv) DESC,
             cb.centroid_id ASC
           ) AS r
    FROM base b CROSS JOIN cb
  ) WHERE r = 1
),
q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
qn AS (SELECT query_id, sqrt(list_dot_product(qv, qv)) AS qnorm FROM q),
gassign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM gav v CROSS JOIN gc{it} c
  ) WHERE r = 1
),
gprobe AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM q CROSS JOIN gc{it} c
  ) WHERE r <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM gprobe p JOIN gassign a USING (centroid_id)
),
adc AS (
  SELECT q.query_id, cb.sub_id, cb.centroid_id AS code,
         CAST(round(list_dot_product(
           list_slice(q.qv, cb.sub_id * {sd} + 1, (cb.sub_id + 1) * {sd}),
           cb.cv), 9) AS DECIMAL(25,9)) AS pdot
  FROM q CROSS JOIN cb
),
sc AS (
  SELECT a.query_id, e.vec_id, CAST(sum(a.pdot) AS DOUBLE) AS sdot
  FROM enc e
  JOIN adc a ON e.sub_id = a.sub_id AND e.code = a.code
  JOIN cand cd ON cd.query_id = a.query_id AND cd.vec_id = e.vec_id
  GROUP BY 1, 2
),
fin AS (
  SELECT sc.query_id, sc.vec_id,
         round(sc.sdot / (qn.qnorm * vn.vnorm), 6) AS ac
  FROM sc JOIN qn USING (query_id) JOIN vn USING (vec_id)
)""".format(sd=sub_dim, it=PQ_ITERS, nprobe=2)
    )
    sql["emb_ivf_pq_index_append_topk"] = (
        "WITH "
        + ",\n".join(app_parts)
        + f"""
SELECT query_id, vec_id, ac AS approx_cosine,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY ac DESC, vec_id ASC
  ) AS rank FROM fin
) WHERE rank <= {PQ_TOPK}"""
    )

    sql["emb_ivf_index_append_topk"] = _ivf_kmeans_append_sql(
        k=4, iters=2, nprobe=2, topk=5
    )

    sql["docs_trigram_backoff"] = f"""WITH toks AS (
  SELECT doc_id, w, pos FROM (
    SELECT doc_id, unnest(ts) AS w, unnest(range(1, len(ts) + 1)) AS pos
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), t -> t <> '') AS ts
          FROM documents)
  )
),
lmdocs AS (
  SELECT doc_id FROM documents WHERE {bucket_sql('doc_id', 'lm')} < 5000
),
scdocs AS (
  SELECT doc_id FROM documents WHERE {bucket_sql('doc_id', 'lm')} >= 5000
),
lmtoks AS (SELECT t.* FROM toks t JOIN lmdocs USING (doc_id)),
c1 AS (SELECT w AS u1, count(*) AS c1 FROM lmtoks GROUP BY 1),
lmwin AS (
  SELECT doc_id, w AS b1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS b2
  FROM lmtoks
),
c2 AS (SELECT b1, b2, count(*) AS c2 FROM lmwin
       WHERE b2 IS NOT NULL GROUP BY 1, 2),
lmtri AS (
  SELECT doc_id, w AS w1, lead(w, 1) OVER win AS w2,
         lead(w, 2) OVER win AS w3
  FROM lmtoks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM lmtri
       WHERE w3 IS NOT NULL GROUP BY 1, 2, 3),
tot AS (SELECT sum(c1) AS n, count(*) AS v FROM c1),
sctoks AS (SELECT t.* FROM toks t JOIN scdocs USING (doc_id)),
occ0 AS (
  SELECT doc_id, w AS w1, lead(w, 1) OVER win AS w2,
         lead(w, 2) OVER win AS w3
  FROM sctoks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
occ AS (SELECT * FROM occ0 WHERE w3 IS NOT NULL),
keys AS (SELECT DISTINCT w1, w2, w3 FROM occ),
sk AS (
  SELECT k.w1, k.w2, k.w3, c3.c3, ctx.c2 AS c2_ctx, bo.c2 AS c2_bo,
         cw2.c1 AS c1_w2, cw3.c1 AS c1_w3, tot.n, tot.v
  FROM keys k
  LEFT JOIN c3 USING (w1, w2, w3)
  LEFT JOIN c2 ctx ON ctx.b1 = k.w1 AND ctx.b2 = k.w2
  LEFT JOIN c2 bo ON bo.b1 = k.w2 AND bo.b2 = k.w3
  LEFT JOIN c1 cw2 ON cw2.u1 = k.w2
  LEFT JOIN c1 cw3 ON cw3.u1 = k.w3
  CROSS JOIN tot
),
lp AS (
  SELECT w1, w2, w3,
    CAST(round(ln(
      CASE WHEN c3 IS NOT NULL THEN c3::DOUBLE / c2_ctx::DOUBLE
           WHEN c2_bo IS NOT NULL THEN 0.4 * c2_bo::DOUBLE / c1_w2::DOUBLE
           ELSE 0.4 * 0.4 * (coalesce(c1_w3, 0)::DOUBLE + 1.0)
                / (n::DOUBLE + v::DOUBLE) END
    ), 8) AS DECIMAL(20,8)) AS lp
  FROM sk
),
per AS (
  SELECT o.doc_id, count(*) AS n_trigrams,
         {_split_cast_sql('sum(lp.lp)', 8)} / count(*) AS avg_logprob
  FROM occ o JOIN lp USING (w1, w2, w3) GROUP BY 1
)
SELECT d.doc_id, CAST(coalesce(p.n_trigrams, 0) AS BIGINT) AS n_trigrams,
       p.avg_logprob
FROM scdocs d LEFT JOIN per p USING (doc_id)"""

    sql["docs_char_entropy"] = """WITH pos AS (
  SELECT doc_id, unnest(range(1, length(text) + 1)) AS i FROM documents
),
ch AS (
  SELECT p.doc_id, substr(d.text, p.i, 1) AS c
  FROM pos p JOIN documents d USING (doc_id)
),
cnt AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
tot AS (
  SELECT doc_id, c, n, sum(n) OVER (PARTITION BY doc_id) AS tn FROM cnt
),
terms AS (
  SELECT doc_id, tn,
         CAST(round((n::DOUBLE / tn::DOUBLE)
                    * ln(n::DOUBLE / tn::DOUBLE) / ln(2.0), 8)
              AS DECIMAL(20,8)) AS t
  FROM tot
),
per AS (
  SELECT doc_id, min(tn) AS n_chars, count(*) AS n_distinct_chars,
         -CAST(sum(t) AS DOUBLE) + 0.0 AS entropy
  FROM terms GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_chars, 0) AS BIGINT) AS n_chars,
       CAST(coalesce(p.n_distinct_chars, 0) AS BIGINT) AS n_distinct_chars,
       coalesce(p.entropy, 0.0) AS entropy
FROM documents d LEFT JOIN per p USING (doc_id)"""

    sql["docs_curated"] = f"""WITH {_LINES_CTE},
w AS (
  SELECT doc_id, w2 AS word FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\r]+')) AS w2 FROM ld
  ) WHERE w2 <> ''
),
gagg AS (
  SELECT doc_id, count(*) AS n_tokens, SUM(len(word)) AS sum_len,
    SUM(CASE WHEN regexp_matches(word, '[a-zA-Z]') THEN 1 ELSE 0 END)
      AS n_alpha,
    SUM(CASE WHEN regexp_matches(word, '[^a-zA-Z0-9]') THEN 1 ELSE 0 END)
      AS n_sym,
    SUM(CASE WHEN word IN {_GOPHER_STOPS_IN} THEN 1 ELSE 0 END) AS n_stop
  FROM w GROUP BY 1
),
gm AS (
  SELECT ld.doc_id,
    coalesce(a.n_tokens, 0) AS n_tokens,
    CASE WHEN coalesce(a.n_tokens, 0) > 0
      THEN CAST(a.sum_len AS DOUBLE) / a.n_tokens ELSE 0.0 END AS mean_len,
    CASE WHEN coalesce(a.n_tokens, 0) > 0
      THEN CAST(a.n_sym AS DOUBLE) / a.n_tokens ELSE 0.0 END AS sym_ratio,
    CASE WHEN coalesce(a.n_tokens, 0) > 0
      THEN CAST(a.n_alpha AS DOUBLE) / a.n_tokens ELSE 0.0 END AS alpha_ratio,
    coalesce(a.n_stop, 0) AS n_stop
  FROM ld LEFT JOIN gagg a USING (doc_id)
),
keepers AS (
  SELECT doc_id FROM gm
  WHERE n_tokens >= 20 AND n_tokens <= 90
    AND mean_len >= 3.0 AND mean_len <= 10.0
    AND sym_ratio <= 0.1 AND alpha_ratio >= 0.8 AND n_stop >= 2
),
g AS (SELECT ld.doc_id, ld.text FROM ld JOIN keepers USING (doc_id)),
ex AS (SELECT md5(text) AS dg, min(doc_id) AS doc_id FROM g GROUP BY 1),
surv AS (SELECT g.doc_id, g.text FROM g JOIN ex ON ex.doc_id = g.doc_id)
SELECT s.doc_id, s.text, d.lang, d.source, d.n_chars
FROM surv s JOIN documents d USING (doc_id)"""

    # ---- two-stage ANN: scalar-quantized ADC + exact re-rank.
    # Codes replay embedding_quantize's proven formula (exact double
    # steps, floor of a correctly-rounded division); the ADC dot is
    # integers-in-double (255^2*64 << 2^53) so CAST to BIGINT is exact.
    sql["emb_sq_topk"] = """WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
x AS (SELECT vec_id, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS p FROM v),
s AS (SELECT p, CAST(min(x) AS DOUBLE) AS mn, CAST(max(x) AS DOUBLE) AS mx FROM x GROUP BY p),
codes AS (
  SELECT vec_id,
         list(CASE WHEN mx = mn THEN 0
                   ELSE LEAST(255, GREATEST(0, CAST(FLOOR((CAST(x AS DOUBLE) - mn) / (mx - mn) * 256.0) AS INTEGER)))
              END ORDER BY p) AS c
  FROM x JOIN s USING (p) GROUP BY vec_id
),
cc AS (SELECT vec_id, list_transform(c, y -> CAST(y - 128 AS DOUBLE)) AS c FROM codes),
qc AS (SELECT vec_id AS query_id, c FROM cc WHERE vec_id % 100 = 0),
adc AS (
  SELECT qc.query_id, cc.vec_id,
         CAST(list_dot_product(cc.c, qc.c) AS BIGINT) AS adc
  FROM cc CROSS JOIN qc
),
cand AS (
  SELECT query_id, vec_id, adc,
         row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id ASC) AS r
  FROM adc
),
qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id % 100 = 0),
rer AS (
  SELECT cd.query_id, cd.vec_id, cd.adc,
         round(list_cosine_similarity(CAST(v2.embedding AS DOUBLE[]), qv.qv), 6) AS cosine
  FROM cand cd
  JOIN embeddings v2 ON cd.vec_id = v2.vec_id
  JOIN qv ON cd.query_id = qv.query_id
  WHERE cd.r <= 20
),
ranked AS (
  SELECT query_id, vec_id, adc, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM rer
)
SELECT query_id, vec_id, adc, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5"""

    sql["emb_prefix_topk"] = """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.query_id, c.vec_id,
         round(list_cosine_similarity(cv[1:8], qv[1:8]), 6) AS prefix_cosine
  FROM c CROSS JOIN q
),
cand AS (
  SELECT query_id, vec_id, prefix_cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY prefix_cosine DESC, vec_id ASC) AS r
  FROM scored
),
rer AS (
  SELECT cd.query_id, cd.vec_id, cd.prefix_cosine,
         round(list_cosine_similarity(c.cv, q.qv), 6) AS cosine
  FROM cand cd JOIN c ON cd.vec_id = c.vec_id JOIN q ON cd.query_id = q.query_id
  WHERE cd.r <= 20
),
ranked AS (
  SELECT query_id, vec_id, prefix_cosine, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM rer
)
SELECT query_id, vec_id, prefix_cosine, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5"""

    sql["events_cube"] = """WITH base AS (
  SELECT CAST(hour(ts) AS VARCHAR) AS hod, event_type, value FROM events
)
SELECT coalesce(hod, 'ALL') AS hod, coalesce(event_type, 'ALL') AS event_type,
  count(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM base GROUP BY CUBE (hod, event_type)"""

    # mirrors nearest_join's construction step for step: union-tagged
    # sides, the same (tus, side, ord) total order, backward
    # last(IGNORE NULLS) / forward first(IGNORE NULLS), earlier-wins
    # tie rule, tolerance filter
    sql["events_nearest_join"] = """WITH ev AS (
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

    from shaha_spark.operators.similarity import ndcg_ideal

    # exact + lossy-prefix approximate + the metric, one chained oracle;
    # the harmonic discount keeps every term a correctly-rounded
    # small-integer division (no libm), per-term round(.,9) + decimal
    # sums make the score engine-exact, ideal embedded as a literal
    sql["emb_prefix_ndcg"] = f"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id % 100 = 0),
exact AS (
  SELECT query_id, vec_id, rank FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(cv, qv), 6) DESC, c.vec_id ASC
           ) AS rank
    FROM c CROSS JOIN q
  ) WHERE rank <= 5
),
scored AS (
  SELECT q.query_id, c.vec_id,
         round(list_cosine_similarity(cv[1:8], qv[1:8]), 6) AS prefix_cosine
  FROM c CROSS JOIN q
),
cand AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY prefix_cosine DESC, vec_id ASC) AS r
  FROM scored
),
rer AS (
  SELECT cd.query_id, cd.vec_id,
         round(list_cosine_similarity(c.cv, q.qv), 6) AS cosine
  FROM cand cd JOIN c ON cd.vec_id = c.vec_id JOIN q ON cd.query_id = q.query_id
  WHERE cd.r <= 5
),
approx AS (
  SELECT query_id, vec_id, rank FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM rer
  ) WHERE rank <= 5
),
terms AS (
  SELECT a.query_id,
         CAST(round(
           (CASE WHEN e.rank IS NOT NULL THEN 6.0 - e.rank ELSE 0.0 END)
           / (a.rank + 1.0), 9) AS DECIMAL(19,9)) AS term
  FROM approx a LEFT JOIN exact e ON a.query_id = e.query_id AND a.vec_id = e.vec_id
),
perq AS (
  SELECT query_id, round(CAST(SUM(term) AS DOUBLE) / {ndcg_ideal(5)!r}, 6) AS ndcg
  FROM terms GROUP BY query_id
),
allq AS (
  SELECT query_id FROM exact UNION SELECT query_id FROM approx
)
SELECT allq.query_id, COALESCE(perq.ndcg, 0.0) AS ndcg
FROM allq LEFT JOIN perq USING (query_id)"""

    sql["snapshot_row_diff"] = f"""WITH {_WORDS_CTE},
odd AS (SELECT DISTINCT word FROM words WHERE doc_id % 2 = 1)
SELECT 'v2-' || word AS preimage, 'sha256' AS algorithm, 'insert' AS change
FROM odd"""

    sql["dq_referential"] = """WITH rel AS (
  SELECT 'orders->customer' AS relation,
         (SELECT COUNT(*) FROM orders) AS n_child_rows,
         (SELECT COUNT(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_orphans
  UNION ALL
  SELECT 'lineitem->orders',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'lineitem->part',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
  UNION ALL
  SELECT 'lineitem->supplier',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
)
SELECT relation, CAST(n_child_rows AS BIGINT) AS n_child_rows,
       CAST(n_orphans AS BIGINT) AS n_orphans, n_orphans = 0 AS passed
FROM rel"""

    # mirrors bm25_scores shape for shape: one rounded ln per query
    # term, every contribution a correctly-rounded double chain with
    # identical literals, decimal-exact per-doc sums
    sql["docs_bm25"] = f"""WITH {_WORDS_CTE},
toks AS (SELECT doc_id, word AS term FROM words),
nd AS (SELECT COUNT(*) AS n FROM documents),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
ag AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN ('scan', 'join', 'window') GROUP BY 1, 2
),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
idf AS (
  SELECT term,
    CAST(round(ln((CAST(n AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0), 8)
         AS DECIMAL(20,8)) AS idf
  FROM dfq CROSS JOIN nd
),
contrib AS (
  SELECT tf.doc_id,
    CAST(round(
      CAST(idf AS DOUBLE) * (CAST(tf AS DOUBLE) * 2.2)
      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))),
      8) AS DECIMAL(20,8)) AS c
  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN ag
),
scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
         CAST(SUM(c) AS DOUBLE) AS bm25
  FROM contrib GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(s.n_matched, 0) AS BIGINT) AS n_matched,
  CAST(COALESCE(s.bm25, 0.0) AS DOUBLE) AS bm25
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id"""

    sql["docs_rank_fusion"] = f"""WITH bm AS (
{sql["docs_bm25"]}
),
ra AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
    FROM bm
  ) WHERE rank <= 50
),
rb AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rank
    FROM documents
  ) WHERE rank <= 50
),
t AS (
  SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
    COALESCE(CAST(round(1.0 / (60.0 + ra.rank), 9) AS DECIMAL(19,9)),
             CAST(0 AS DECIMAL(19,9)))
    + COALESCE(CAST(round(1.0 / (60.0 + rb.rank), 9) AS DECIMAL(19,9)),
               CAST(0 AS DECIMAL(19,9))) AS s
  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
)
SELECT doc_id, CAST(s AS DOUBLE) AS rrf_score
FROM t ORDER BY s DESC, doc_id ASC LIMIT 20"""

    sql["events_cumulative_users"] = """WITH firsts AS (
  SELECT user_id, MIN(strftime(date_trunc('day', ts), '%Y-%m-%d')) AS day
  FROM events GROUP BY user_id
),
per AS (SELECT day, COUNT(*) AS new_keys FROM firsts GROUP BY day)
SELECT day, CAST(new_keys AS BIGINT) AS new_keys,
  CAST(SUM(new_keys) OVER (
    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS BIGINT) AS cum_keys
FROM per"""

    # counts exact integers; support/confidence/lift are single
    # correctly-rounded divisions of products that stay below 2^53 —
    # identical across engines before the round(.,9)
    sql["orders_basket_rules"] = """WITH di AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM di),
ic AS (SELECT l_partkey, COUNT(*) AS ni FROM di GROUP BY l_partkey),
pc AS (
  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, COUNT(*) AS n_pair
  FROM di a JOIN di b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT item_a, item_b, CAST(n_pair AS BIGINT) AS n_pair,
  round(n_pair / CAST(nb.n AS DOUBLE), 9) AS support,
  round(n_pair / CAST(ia.ni AS DOUBLE), 9) AS confidence,
  round((CAST(n_pair AS DOUBLE) * CAST(nb.n AS DOUBLE))
        / (CAST(ia.ni AS DOUBLE) * CAST(ib.ni AS DOUBLE)), 9) AS lift
FROM pc
CROSS JOIN nb
JOIN ic ia ON pc.item_a = ia.l_partkey
JOIN ic ib ON pc.item_b = ib.l_partkey
WHERE n_pair >= 2
ORDER BY lift DESC, item_a, item_b
LIMIT 20"""

    sql["multimodal_dedup"] = """WITH media AS (
  SELECT doc_id AS media_id, encode(text) AS payload FROM documents
)
SELECT MIN(media_id) AS keep_id, COUNT(*) AS n_members,
       CAST(octet_length(ANY_VALUE(payload)) AS BIGINT) AS payload_bytes
FROM media GROUP BY payload"""

    sql["snapshot_time_travel"] = f"""WITH {_WORDS_CTE},
even AS (SELECT DISTINCT word FROM words WHERE doc_id % 2 = 0)
SELECT sha256(word) AS hash_hex, word AS preimage, 'sha256' AS algorithm
FROM even"""

    sql["events_cdc_snapshot"] = """WITH ch AS (
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

    # ------------------------------------------------ round-4 additions
    from shaha_spark.operators.search import (
        phrase_search_sql,
        postings_stats_sql,
    )
    from shaha_spark.operators.sampling import token_budget_select_sql
    from shaha_spark.operators.textops import winnow_fingerprints_sql

    sql["docs_postings_stats"] = postings_stats_sql("documents", top=20)
    sql["docs_phrase_search"] = phrase_search_sql("documents", "order fast")
    sql["docs_winnowing"] = winnow_fingerprints_sql("documents", k=3, w=4)
    sql["docs_token_budget"] = token_budget_select_sql("documents", budget=5000)
    cent = "c2"
    kparts = ",\n".join(_kmeans_parts(4, 2))
    sql["emb_diverse_sample"] = f"""WITH {kparts},
fassign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM v CROSS JOIN {cent} c
  ) WHERE r = 1
)
SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id,
       CAST(quota_rank AS BIGINT) AS quota_rank
FROM (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY centroid_id ORDER BY vec_id ASC)
           AS quota_rank
  FROM fassign
) WHERE quota_rank <= 10"""

    # BPE roundtrip oracle (r5): decode(encode(term)) == term for every
    # token occurrence — predictable from the token stream alone.
    sql["docs_bpe_encode"] = """SELECT doc_id, term, term AS decoded
FROM (
  SELECT doc_id,
         unnest(list_filter(
           regexp_split_to_array(text, '[ \\t\\n\\r]+'), t -> t <> ''
         )) AS term
  FROM documents
)"""

    from shaha_spark.operators.graph import k_core_peel_sql

    sql["orders_kcore"] = k_core_peel_sql(
        """di AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pc AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS n_pair
  FROM di a JOIN di b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
e AS (SELECT a, b FROM pc WHERE n_pair >= 2)""",
        k=3,
    )

    # Hard-negative mining (r5): brute-force cosine top-k restricted to
    # different-label candidates. Same rounded-cosine + id tiebreak
    # convention as similarity_topk.
    sql["emb_hard_negatives"] = """WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel,
         CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, vec_id, CAST(label AS BIGINT) AS neg_label,
         round(list_cosine_similarity(cv, qv), 6) AS cosine
  FROM c, q WHERE label <> qlabel
),
ranked AS (
  SELECT query_id, vec_id, neg_label, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, neg_label, cosine, rank FROM ranked WHERE rank <= 5"""

    # Leave-one-out kNN label accuracy (r5): neighbor ties break on
    # (rounded cosine DESC, id ASC); vote ties on (count DESC, label
    # ASC); accuracy is one IEEE division of exact small integers.
    sql["emb_knn_accuracy"] = """WITH p AS (
  SELECT vec_id AS probe_id, label AS plabel,
         CAST(embedding AS DOUBLE[]) AS pv
  FROM embeddings WHERE vec_id % 20 = 0
),
c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT probe_id, plabel, vec_id, label,
         round(list_cosine_similarity(cv, pv), 6) AS cos
  FROM c, p WHERE vec_id <> probe_id
),
topk AS (
  SELECT * FROM (
    SELECT probe_id, plabel, label,
           row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id ASC) AS r
    FROM scored
  ) WHERE r <= 5
),
votes AS (
  SELECT probe_id, plabel, label, count(*) AS votes
  FROM topk GROUP BY 1, 2, 3
),
pred AS (
  SELECT probe_id, plabel, label AS pred_label FROM (
    SELECT probe_id, plabel, label, votes,
           row_number() OVER (PARTITION BY probe_id ORDER BY votes DESC, label ASC) AS r
    FROM votes
  ) WHERE r = 1
)
SELECT CAST(plabel AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(SUM(CASE WHEN pred_label = plabel THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN pred_label = plabel THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS accuracy
FROM pred GROUP BY 1"""
    # ---- round-11 additions (concept-grep, VERDICT r10 #8) ----
    from shaha_spark.functions.url import registered_domain_sql
    from shaha_spark.operators.terms import contamination_report_sql
    from shaha_spark.operators.textops import license_scan_sql

    sql["docs_contamination_report"] = contamination_report_sql(
        train_select=(
            "SELECT doc_id, text FROM documents WHERE "
            + bucket_sql("doc_id", "r2")
            + " >= 1000"
        ),
        eval_select=(
            "SELECT doc_id, text FROM documents WHERE "
            + bucket_sql("doc_id", "r2")
            + " < 500"
        ),
        min_len=SUBSTR_DECONTAM_LEN,
    )

    # domain-level DSIR: the verified lambda-table CTEs + decimal-exact
    # two-level aggregation, domains from the verified synthetic-URL
    # registered-domain twin
    sql["docs_domain_importance"] = (
        _dsir_weights_sql()
        + f""",
di_dom AS (
  SELECT doc_id, {registered_domain_sql(_SYNTH_URL_SQL)} AS domain
  FROM documents
),
di_doc AS (
  SELECT b.doc_id, count(*) AS n_grams, sum(lam.lam) AS lw
  FROM bucketed b JOIN lam ON b.bucket = lam.bucket
  GROUP BY 1
)
SELECT d.domain,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(w.n_grams) AS BIGINT) AS n_grams,
  CAST(sum(w.lw) AS DOUBLE) AS total_logweight,
  round(CAST(sum(w.lw) AS DOUBLE) / count(*), 6) AS mean_doc_logweight
FROM di_doc w JOIN di_dom d USING (doc_id)
GROUP BY 1"""
    )

    sql["docs_license_scan"] = f"""SELECT doc_id, license,
  CAST(open_license AS INTEGER) AS open_license
FROM ({license_scan_sql(_LICENSE_FIXTURE_SQL)})"""

    from shaha_spark.operators.dedup import url_policy_scan_sql

    _policy_base = url_policy_scan_sql(
        f"SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents",
        "url",
        blocked_domains=("shop.co.uk",),
        blocked_patterns=("/p/3[0-9]",),
    )
    sql["docs_url_policy"] = f"""SELECT doc_id, registered_domain,
  block_reason, CAST(blocked AS INTEGER) AS blocked
FROM ({_policy_base})"""

    return sql
