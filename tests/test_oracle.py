"""Differential correctness: every queries() entry vs its DuckDB oracle.

Replicates the driver's t2 gate locally: run the Spark DataFrame and
the oracle SQL on the same sf-dir parquet, then compare column names,
row counts, and order-insensitive values. Runs at sf0.001 by default
(SHAHA_TEST_SF_DIR overrides).
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod
from shaha_spark.catalog import local_oracle_setup, local_oracle_sql
from _oracle_typecheck import assert_types_compatible

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    # local-only scalar UDFs (sha256_bin for build_hash256); the driver
    # gate runs plain SQL and cannot do this — see local_oracle_sql()
    local_oracle_setup(con)
    yield con
    con.close()


def _norm(v):
    # FULL precision (shortest round-trip repr): the driver's value
    # hash compares exact bits, and r4's events_interarrival red row
    # proved a 10-significant-digit local norm is too loose to predict
    # it. Equal doubles have equal reprs; anything else is a real
    # cross-engine divergence the driver would also flag.
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return v


def _sorted_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


ORACLES = entry_mod.oracle_sql()
#: driver oracles + local-UDF oracles; the comparison is identical,
#: only the driver can't run the latter (no create_function there)
ALL_ORACLES = {**ORACLES, **local_oracle_sql()}
QUERIES = entry_mod.queries()


def test_every_query_has_callable():
    assert set(ALL_ORACLES) <= set(QUERIES), "oracle without query"


def test_local_oracles_disjoint_from_driver_oracles():
    overlap = set(ORACLES) & set(local_oracle_sql())
    assert not overlap, (
        f"locally-oracled entries would shadow driver oracles: {overlap}"
    )


@pytest.mark.parametrize("name", sorted(ALL_ORACLES))
def test_query_matches_oracle(spark, duck, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    duck_tbl = duck.execute(ALL_ORACLES[name]).arrow()
    res = duck.execute(ALL_ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert_types_compatible(name, sdf.schema, duck_tbl)
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    left = _sorted_rows(spark_rows, spark_cols)
    right = _sorted_rows(duck_rows, duck_cols)
    mismatches = [
        (l, r) for l, r in zip(left, right) if l != r
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ALL_ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["hash_hex", "preimage", "algorithm"]
