"""Queries over the TPC-H tables.

The TPC-H suite itself, plus lineitem/orders/part analytics: column
profiles, data-quality rules, basket rules and order-graph queries.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from shaha_spark.catalog import query
from shaha_spark.catalog._tables import _dec, _t, _utc
from shaha_spark.operators.basket import basket_rules, pair_counts, set_similarity_join
from shaha_spark.operators.checks import check_rules, check_rules_sql, referential_check
from shaha_spark.operators.graph import k_core, k_core_peel_sql, triangle_count
from shaha_spark.operators.profile import (
    numeric_profile,
    pearson_corr,
    pearson_corr_sql,
    profile_sql,
    split_cast_double as _split_cast,
    split_cast_double_spark_sql as _split_cast_expr_sql,
    split_cast_double_sql as _split_cast_sql,
    table_profile,
    table_profile_sql,
    weighted_quantile,
)


_Q1_QTY = "SUM(CAST(l_quantity AS DECIMAL(12,2)))"

_Q1_BASE = "SUM(CAST(l_extendedprice AS DECIMAL(12,2)))"

_Q1_DISC = (
    "SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))"
)

_Q1_CHARGE = (
    "SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * "
    "(CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2))))"
)

# split-cast on every sum->double: the scale-6 sum_charge crossed
# 2^53 unscaled at sf1, where DuckDB's native cast double-rounds
TPCH_Q1_SQL = f"""SELECT l_returnflag, l_linestatus,
  {_split_cast_sql(_Q1_QTY, 2)} AS sum_qty,
  {_split_cast_sql(_Q1_BASE, 2)} AS sum_base_price,
  {_split_cast_sql(_Q1_DISC, 4)} AS sum_disc_price,
  {_split_cast_sql(_Q1_CHARGE, 6)} AS sum_charge,
  {_split_cast_sql(_Q1_QTY, 2)} / COUNT(*) AS avg_qty,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""


@query("tpch_q1", oracle=TPCH_Q1_SQL)
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
    # Two-level aggregation (optimization round 12, "aggregate
    # before you shuffle" applied to per-row CPU): the
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
    # each Column-built split-cast cost ~40 ms of plan construction).
    # split_cast_double_spark_sql parses to the IDENTICAL
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


# ROLLUP twin: DuckDB's GROUPING(a, b) carries Spark's exact
# grouping_id bitmask semantics (verified: 0/1/3)
TPCH_Q1_ROLLUP_SQL = f"""SELECT l_returnflag, l_linestatus,
  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
  {_split_cast_sql(_Q1_QTY, 2)} AS sum_qty,
  {_split_cast_sql(_Q1_DISC, 4)} AS sum_disc_price,
  {_split_cast_sql(_Q1_CHARGE, 6)} AS sum_charge,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY ROLLUP(l_returnflag, l_linestatus)"""


@query("tpch_q1_rollup", oracle=TPCH_Q1_ROLLUP_SQL)
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


TPCH_Q3_SQL = """SELECT o_orderkey,
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


@query("tpch_q3", oracle=TPCH_Q3_SQL)
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


PROFILE_CORRELATION_SQL = pearson_corr_sql(
    "lineitem", "l_quantity", "l_extendedprice"
)


@query("profile_correlation", oracle=PROFILE_CORRELATION_SQL)
def q_profile_correlation(spark, sf_dir):
    """Deterministic Pearson r between quantity and price — decimal-
    exact sums, fixed double op sequence (operators.profile.pearson_corr;
    engine corr() would drift with partitioning)."""
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

DQ_LINEITEM_SQL = check_rules_sql("lineitem", DQ_LINEITEM_RULES_SQL)


@query("dq_lineitem", oracle=DQ_LINEITEM_SQL)
def q_dq_lineitem(spark, sf_dir):
    """Data-quality gate: six expectations over lineitem in ONE
    aggregation pass (operators.checks.check_rules)."""
    rules = {
        name: F.expr(sql_pred)
        for name, sql_pred in DQ_LINEITEM_RULES_SQL.items()
    }
    return check_rules(_t(spark, sf_dir, "lineitem"), rules)


TPCH_Q4_SQL = """SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority"""


@query("tpch_q4", oracle=TPCH_Q4_SQL)
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


TPCH_Q13_SQL = """WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count"""


@query("tpch_q13", oracle=TPCH_Q13_SQL)
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


PART_NEVER_SHIPPED_SQL = """SELECT p_brand, count(*) AS n_parts
FROM part
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_partkey = p_partkey
    AND l_shipdate >= TIMESTAMP '1998-06-01 00:00:00'
    AND l_quantity >= 45
)
GROUP BY p_brand"""


@query("part_never_shipped", oracle=PART_NEVER_SHIPPED_SQL)
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


ORDERS_TOPK_PER_CUST_SQL = """WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
    ) AS rank
  FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3"""


@query("orders_topk_per_cust", oracle=ORDERS_TOPK_PER_CUST_SQL)
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


_REV = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
)

TPCH_Q7_SQL = f"""SELECT sn.n_name AS supp_nation,
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


@query("tpch_q7", oracle=TPCH_Q7_SQL)
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


TPCH_Q8_SQL = f"""WITH j AS (
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


@query("tpch_q8", oracle=TPCH_Q8_SQL)
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


TPCH_Q9_SQL = f"""SELECT n_name AS nation,
  year(o_orderdate) AS o_year,
  CAST(SUM({_REV}) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2"""


@query("tpch_q9", oracle=TPCH_Q9_SQL)
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


# volume-growing revenue sums (scale 4): split-cast both engines,
# same rationale as tpch_q1 (sf1 sweep divergence past 2^53)
_REV_SUM = (
    "SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))"
)

TPCH_Q5_SQL = f"""SELECT n_name,
  {_split_cast_sql(_REV_SUM, 4)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name"""


@query("tpch_q5", oracle=TPCH_Q5_SQL)
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


TPCH_Q6_SQL = f"""SELECT
  {_split_cast_sql("SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2)))", 4)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24"""


@query("tpch_q6", oracle=TPCH_Q6_SQL)
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


TPCH_Q18_SQL = """SELECT c_name, c_custkey, o_orderkey,
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


@query("tpch_q18", oracle=TPCH_Q18_SQL)
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


TPCH_Q10_SQL = """SELECT c_custkey, c_name,
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


@query("tpch_q10", oracle=TPCH_Q10_SQL)
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


_Q14_PROMO = """SUM(CASE WHEN p_type = 'PROMO'
      THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
      ELSE CAST(0 AS DECIMAL(12,2)) END)"""

TPCH_Q14_SQL = f"""WITH agg AS (
  SELECT
    {_split_cast_sql(_Q14_PROMO, 4)} AS promo_revenue,
    {_split_cast_sql(_REV_SUM, 4)} AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
)
SELECT promo_revenue, total_revenue,
  100.0 * promo_revenue / total_revenue AS promo_pct
FROM agg"""


@query("tpch_q14", oracle=TPCH_Q14_SQL)
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


TPCH_Q15_SQL = f"""WITH revenue AS (
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


@query("tpch_q15", oracle=TPCH_Q15_SQL)
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


TPCH_Q17_SQL = """WITH brand_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice,
    SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (PARTITION BY l_partkey) AS sum_qty,
    COUNT(*) OVER (PARTITION BY l_partkey) AS cnt
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4')
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM brand_li
WHERE CAST(l_quantity AS DECIMAL(12,2)) * 5 * cnt < sum_qty"""


@query("tpch_q17", oracle=TPCH_Q17_SQL)
def q_tpch_q17(spark, sf_dir):
    """Small-quantity-order shape (TPC-H Q17): correlated AVG scalar
    subquery per part, rewritten as a window over the brand-filtered
    lineitems — one scan, no diamond self-join (the term_stats
    lesson).  The threshold ``l_quantity < 0.2 * avg(l_quantity)`` is
    rearranged to ``5 * qty * cnt < sum_qty`` so the comparison stays
    in exact DECIMAL arithmetic (no division, no float boundary
    flips); the single final division by 7.0 is one IEEE op."""
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


TPCH_Q19_SQL = f"""SELECT
  {_split_cast_sql(_REV_SUM, 4)} AS revenue,
  COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)"""


@query("tpch_q19", oracle=TPCH_Q19_SQL)
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


TPCH_Q22_SQL = """WITH thr AS (
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


@query("tpch_q22", oracle=TPCH_Q22_SQL)
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


PART_FILTER_SQL = """SELECT p_partkey, p_name, p_brand, p_retailprice
FROM part WHERE p_name LIKE '%small%' AND p_size >= 10"""


@query("part_filter", oracle=PART_FILTER_SQL)
def q_part_filter(spark, sf_dir):
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%small%") & (F.col("p_size") >= 10))
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
    )


PROFILE_LINEITEM_SQL = profile_sql("lineitem", "l_extendedprice")


@query("profile_lineitem", oracle=PROFILE_LINEITEM_SQL)
def q_profile_lineitem(spark, sf_dir):
    return numeric_profile(_t(spark, sf_dir, "lineitem"), "l_extendedprice")


PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

PROFILE_TABLE_SQL = table_profile_sql("lineitem", PROFILE_COLS)


@query("profile_table", oracle=PROFILE_TABLE_SQL)
def q_profile_table(spark, sf_dir):
    """Whole-table numeric profile: one scan, one aggregation, one row
    per column (single-pass at any table width)."""
    return table_profile(_t(spark, sf_dir, "lineitem"), PROFILE_COLS)


TPCH_Q2_SQL = """WITH offers AS (
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


@query("tpch_q2", oracle=TPCH_Q2_SQL)
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
    final groupBy(p_partkey, ...) reuses that partitioning.
    Decimal MIN is order-free, so values are bit-identical."""
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


TPCH_Q11_SQL = """WITH pv AS (
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


@query("tpch_q11", oracle=TPCH_Q11_SQL)
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


TPCH_Q12_SQL = """SELECT l_returnflag AS ship_class,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag"""


@query("tpch_q12", oracle=TPCH_Q12_SQL)
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


TPCH_Q16_SQL = """SELECT p_brand, p_type, p_size,
  COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#9' AND p_type <> 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p_brand, p_type, p_size"""


@query("tpch_q16", oracle=TPCH_Q16_SQL)
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


TPCH_Q20_SQL = """WITH g AS (
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


@query("tpch_q20", oracle=TPCH_Q20_SQL)
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
    # on ONE lineitem scan, exchanging only model-sized aggregate rows.
    # The semi-join side is bounded by the supplier dimension, so it
    # broadcasts.
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


TPCH_Q21_SQL = """WITH lo AS (
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


@query("tpch_q21", oracle=TPCH_Q21_SQL)
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
    # the is_late filter reuse the same partitioning — one
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


DQ_FUNCTIONAL_SQL = """WITH a AS (
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


@query("dq_functional", oracle=DQ_FUNCTIONAL_SQL)
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


ORDERS_KCORE_SQL = k_core_peel_sql(
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


@query("orders_kcore", oracle=ORDERS_KCORE_SQL)
def q_orders_kcore(spark, sf_dir):
    """3-core of the part co-purchase graph — iterative peeling to the
    fixpoint (operators.graph.k_core). Oracled since r5: the DuckDB
    twin runs the SAME peel as a bounded recursive CTE with a loud
    fixpoint guard (graph.k_core_peel_sql) — an exact set comparison,
    not an invariant check. The invariant pair (every survivor has ≥k
    surviving neighbors, dropped nodes would not) stays asserted in
    tests as a second, independent contract."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = pair_counts(li, "l_orderkey", "l_partkey").where(
        F.col("n_pair") >= 2
    )
    return k_core(edges, k=3, src="item_a", dst="item_b")


LINEITEM_WEIGHTED_MEDIAN_SQL = """WITH r AS (
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


@query("lineitem_weighted_median", oracle=LINEITEM_WEIGHTED_MEDIAN_SQL)
def q_lineitem_weighted_median(spark, sf_dir):
    """Quantity-weighted median price per return flag — exact type-1
    weighted quantile with decimal-exact cumulative weights
    (operators.profile.weighted_quantile)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return weighted_quantile(
        li, "l_returnflag", "l_extendedprice", "l_quantity", 0.5
    )


# independent candidate generation (ANY shared item — exhaustive)
# + the same integer-exact verify: identical final pairs proves the
# Spark side's prefix filter is exact-recall
ORDERS_SET_SIMILARITY_SQL = """WITH di AS (
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


@query("orders_set_similarity", oracle=ORDERS_SET_SIMILARITY_SQL)
def q_orders_set_similarity(spark, sf_dir):
    """Set-similarity self-join over order part-sets (Jaccard ≥ 0.5)
    with exact-recall prefix filtering
    (operators.basket.set_similarity_join); the oracle generates
    candidates exhaustively from ANY shared item and must produce the
    identical verified pair set — proving the prefix filter loses
    nothing."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return set_similarity_join(li, "l_orderkey", "l_partkey", threshold=0.5)


# independent algorithm as the oracle: canonical a<b<c three-way
# self-join (the Spark side uses degree-oriented wedges — same
# triangles, different enumeration, stronger cross-check)
ORDERS_PAIR_TRIANGLES_SQL = """WITH di AS (
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


@query("orders_pair_triangles", oracle=ORDERS_PAIR_TRIANGLES_SQL)
def q_orders_pair_triangles(spark, sf_dir):
    """Triangle count of the part co-purchase graph (edges = basket
    pairs with support >= 2) via degree-oriented wedge enumeration
    (operators.graph.triangle_count); the oracle counts the same
    triangles with the independent a<b<c three-way join."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = pair_counts(li, "l_orderkey", "l_partkey").where(
        F.col("n_pair") >= 2
    )
    return triangle_count(edges, "item_a", "item_b")


DQ_REFERENTIAL_SQL = """WITH rel AS (
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


@query("dq_referential", oracle=DQ_REFERENTIAL_SQL)
def q_dq_referential(spark, sf_dir):
    """Foreign-key orphan report across the TPC-H core relations —
    the cross-table half of the DQ gate (dq_lineitem covers
    single-table rules; operators.checks.referential_check)."""
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


# counts exact integers; support/confidence/lift are single
# correctly-rounded divisions of products that stay below 2^53 —
# identical across engines before the round(.,9)
ORDERS_BASKET_RULES_SQL = """WITH di AS (
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


@query("orders_basket_rules", oracle=ORDERS_BASKET_RULES_SQL)
def q_orders_basket_rules(spark, sf_dir):
    """Market-basket association pairs over lineitem (order = basket,
    part = item): top-20 by lift with support/confidence — bounded
    in-basket pair expansion, never a self-join
    (operators.basket.basket_rules)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return basket_rules(
        li, "l_orderkey", "l_partkey", min_pair_count=2, top=20
    )
