"""The query catalog: every query, registered beside its DuckDB twin.

Each family module (``hashdb``, ``tpch``, ``events``, ``docs``,
``embeddings``; grouped by the table a query reads) registers its
``(spark, sf_dir) -> DataFrame`` functions with :func:`query`, each
with the DuckDB SQL that must return the same rows. ``__spark_entry__.py``
re-exports :func:`queries` and :func:`oracle_sql`.

Both sides are generated from the same constants
(shaha_spark/operators/constants.py), and all floating-point outputs
are reproducible across engines: exact decimal accumulation cast to
double for sums, sequential-fold / single-division double arithmetic
(deliberately UNrounded — round() itself diverges at half-ulp
boundaries of small-integer ratios) for ratios and scores, and
round(…, 6) only for cosine similarity, where engine-internal FMA
accumulation differs in the last ulp but real-valued cosines never sit
on decimal half-boundaries.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, Query] = {}
_ORACLES: dict[str, str] = {}
_LOCAL_ORACLES: dict[str, str] = {}


def query(
    name: str, *, oracle: str | None = None, local_oracle: str | None = None
) -> Callable[[Query], Query]:
    """Register the decorated function as query ``name`` with its twin:
    ``oracle`` is plain DuckDB SQL that runs on a bare connection;
    ``local_oracle`` needs :func:`local_oracle_setup` on the
    connection first, so only the local suite can run it."""

    def register(fn: Query) -> Query:
        if name in _QUERIES:
            raise ValueError(f"query {name!r} is registered twice")
        if (oracle is None) == (local_oracle is None):
            raise ValueError(f"query {name!r} needs exactly one oracle")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        else:
            _LOCAL_ORACLES[name] = local_oracle
        return fn

    return register


#: Re-verification anchors: queries whose derivation, or whose SQL twin,
#: changed after their newest green end-to-end check. They lead the
#: checked window so the next end-to-end run re-proves the pairing
#: (tests/test_coverage_guard.py lets only these precede never-verified
#: entries). Current set:
#: tpch_q2/q20/q21 were restructured (window over the agg's
#: partitioning, 570f1b5); events_bootstrap_ci's uniform derivation
#: changed (conv halving, bit-identity pinned); docs_split_balance's
#: SQL TWIN was rewritten (NULL-group fix, e5919f3 — the oracle side
#: itself changed, so the next end-to-end run re-proves the pairing);
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

#: The end-to-end value check compares the FIRST 50 queries()
#: entries only: the anchors, then the least-recently-verified backfill
#: from scripts/plan_window.py.
WINDOW_ORDER = [
    *WINDOW_ANCHORS,
    # least-recently-verified backfill: the r08 cohort, the oldest
    # greens in the registry
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

#: Oracles whose contract is deliberately WEAKER than a full
#: value-equivalence twin. Rendered into COVERAGE.md by
#: scripts/gen_coverage_registry.py so the weaker contract is never
#: presented as a full oracle. Keep entries short and factual.
ORACLE_CONTRACT_NOTES: dict[str, str] = {
    "docs_bpe_encode": (
        "roundtrip-only oracle: the DuckDB twin checks row multiplicity "
        "and decode(encode(term)) == term per token occurrence, not "
        "which merges fired; segmentation content is pinned by "
        "known-answer + pure-Python-reference tests "
        "(tests/test_terms.py, tests/test_curation_new.py)"
    ),
}


def queries() -> dict[str, Query]:
    """Every query by name: ``WINDOW_ORDER`` first, then the rest in
    registration order (family import order, then source order)."""
    out = {name: _QUERIES[name] for name in WINDOW_ORDER}
    for name, fn in _QUERIES.items():
        out.setdefault(name, fn)
    return out


def oracle_sql() -> dict[str, str]:
    """The DuckDB twin of every query checkable by value on a plain
    DuckDB connection."""
    return dict(_ORACLES)


def local_oracle_sql() -> dict[str, str]:
    """Oracles that require :func:`local_oracle_setup` on the DuckDB
    connection first (Python-API scalar UDFs via ``create_function``).

    NOT merged into :func:`oracle_sql`: the end-to-end value check runs
    the oracle strings on a plain connection and cannot register custom
    functions, so these entries stay rows-only there. The local suite
    (tests/test_oracle.py) runs them through the same exact
    comparison (columns + rows + full-precision values), closing the
    "DuckDB lacks sha256(BLOB)" gap at the component level."""
    return dict(_LOCAL_ORACLES)


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


# The families register on import; this order is the order of the
# registry's tail after WINDOW_ORDER.
for _family in ("hashdb", "tpch", "events", "docs", "embeddings"):
    importlib.import_module(f"{__name__}.{_family}")
