"""The query catalog's contract, pinned against a checked-in golden.

``tests/catalog_golden.json`` records what the driver reads from the
catalog: the registry's names, the first ``DRIVER_WINDOW`` entries in
order (the only ones the driver's correctness harness checks), and the
sha256 of every DuckDB twin (``oracle_sql()`` and the one
``local_oracle_sql()`` entry). Moving code around must leave all of it
byte-identical. A deliberate oracle change is a golden update plus a
``WINDOW_ANCHORS`` entry, so the driver re-proves the new pairing.

Regenerate the golden (only for a deliberate change) with
``python tests/test_catalog.py --update``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from shaha_spark.catalog import local_oracle_sql, oracle_sql, queries  # noqa: E402
from shaha_spark.catalog._tables import _t  # noqa: E402

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "catalog_golden.json")

#: Size of the driver's correctness window (first N queries() entries).
DRIVER_WINDOW = 50


def _sha(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def _current() -> dict:
    names = list(queries())
    return {
        "names": sorted(names),
        "window": names[:DRIVER_WINDOW],
        "oracle_sha256": {n: _sha(s) for n, s in sorted(oracle_sql().items())},
        "local_oracle_sha256": {
            n: _sha(s) for n, s in sorted(local_oracle_sql().items())
        },
    }


def _golden() -> dict:
    with open(GOLDEN) as fh:
        return json.load(fh)


def test_names_match_golden():
    names = list(queries())
    assert len(names) == len(set(names)) == 230
    assert sorted(names) == _golden()["names"]


def test_driver_window_matches_golden():
    assert list(queries())[:DRIVER_WINDOW] == _golden()["window"]


def test_oracle_strings_match_golden():
    got = _current()["oracle_sha256"]
    want = _golden()["oracle_sha256"]
    assert len(got) == 229
    changed = sorted(n for n in set(got) | set(want) if got.get(n) != want.get(n))
    assert not changed, f"oracle SQL changed for: {changed}"


def test_local_oracle_strings_match_golden():
    assert _current()["local_oracle_sha256"] == _golden()["local_oracle_sha256"]


def test_every_query_has_a_driver_or_local_oracle():
    oracled = set(oracle_sql()) | set(local_oracle_sql())
    assert set(queries()) - oracled == set()
    assert not set(oracle_sql()) & set(local_oracle_sql())


# Known answers and invariants for registered queries whose twin is
# weaker than a value match (k-core, IVF-PQ, BPE) or whose operator
# needs a hand-checked value (char entropy, the k-core SQL peel).


def test_kcore_rows_only_invariants(spark, sf_dir):
    """The rows-only k-core registration still gets a hard check: the
    defining invariant pair over the same edge construction."""
    import collections

    from pyspark.sql import functions as F

    from shaha_spark.operators.basket import pair_counts

    core = {r.node for r in queries()["orders_kcore"](spark, sf_dir).collect()}
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = pair_counts(li, "l_orderkey", "l_partkey").where(
        F.col("n_pair") >= 2
    )
    nbrs = collections.defaultdict(set)
    for r in edges.collect():
        nbrs[r.item_a].add(r.item_b)
        nbrs[r.item_b].add(r.item_a)
    # independent reference: the true 3-core by driver-side peeling —
    # exact-set equality is SF-independent (at sf0.1 the co-purchase
    # graph's 3-core is genuinely EMPTY, which the old non-empty
    # assumption misread as a failure; an empty operator result must
    # match an empty reference, not be banned)
    alive = set(nbrs)
    changed = True
    while changed:
        changed = False
        for n in list(alive):
            if len(nbrs[n] & alive) < 3:
                alive.discard(n)
                changed = True
    assert core == alive, (sorted(core)[:10], sorted(alive)[:10])
    for n in core:
        assert len(nbrs[n] & core) >= 3


def test_ivf_pq_rows_only(spark, sf_dir):
    out = queries()["emb_ivf_pq_topk"](spark, sf_dir)
    rows = out.collect()
    assert rows, "ivf-pq returned nothing"
    assert out.columns == ["query_id", "vec_id", "approx_cosine", "rank"]
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert len(rs) <= 5
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        # scores are valid approximate cosines, monotone in rank (the
        # k=4 codebook quantizes coarsely, so no closeness-to-1 claim)
        ordered = sorted(rs, key=lambda r: r.rank)
        scores = [r.approx_cosine for r in ordered]
        assert scores == sorted(scores, reverse=True)
        assert all(-1.01 <= s <= 1.01 for s in scores)


def test_char_entropy_known_values(spark):
    import math

    from pyspark.sql import Row

    from shaha_spark.operators.textops import char_entropy

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="aaaa"),        # uniform -> 0 bits
            Row(doc_id=2, text="abab"),        # two equiprobable -> 1 bit
            Row(doc_id=3, text="abcd"),        # four equiprobable -> 2 bits
            Row(doc_id=4, text=""),            # empty -> 0, zero chars
        ]
    )
    got = {r.doc_id: r for r in char_entropy(df).collect()}
    assert got[1].entropy == pytest.approx(0.0) and got[1].n_distinct_chars == 1
    assert got[2].entropy == pytest.approx(1.0)
    assert got[3].entropy == pytest.approx(2.0)
    assert got[4].n_chars == 0 and got[4].entropy == 0.0
    # natural-prose-vs-junk direction: uniform junk maxes out
    rng_text = "".join(chr(97 + (i * 7) % 26) for i in range(260))
    df2 = spark.createDataFrame(
        [Row(doc_id=1, text="the cat sat on the mat with the hat"),
         Row(doc_id=2, text=rng_text)]
    )
    e = {r.doc_id: r.entropy for r in char_entropy(df2).collect()}
    assert e[2] > e[1]
    assert e[2] == pytest.approx(math.log2(26), abs=0.01)


def test_bpe_encode_roundtrip_registration(spark, sf_dir):
    out = queries()["docs_bpe_encode"](spark, sf_dir)
    assert out.columns == ["doc_id", "term", "decoded"]
    n = out.count()
    assert n > 0
    # the oracle-checked invariant locally too: concatenating pieces
    # restores the term (merge application never loses characters)
    from pyspark.sql import functions as F

    bad = out.where(F.col("decoded") != F.col("term")).count()
    assert bad == 0
    # the encoding is non-trivial: at least one term actually merged
    # into fewer pieces than characters (8 merges on real text must
    # fire), so the roundtrip isn't vacuously the identity
    from shaha_spark.operators.terms import bpe_train

    docs = _t(spark, sf_dir, "documents")
    assert len(bpe_train(docs, num_merges=8)) > 0


def _peel(edges_sql: str, k: int, max_iters: int):
    from shaha_spark.operators.graph import k_core_peel_sql

    sql = k_core_peel_sql(f"e(a, b) AS ({edges_sql})", k=k, max_iters=max_iters)
    return sorted(r[0] for r in duckdb.connect().execute(sql).fetchall())


def test_kcore_sql_empty_at_max_iters_is_converged():
    """Regression (r6): a path graph's 2-core is EMPTY; when the peel
    empties exactly at iteration max_iters, the empty set is a true
    fixpoint and the -1 poison row must NOT be emitted."""
    # path 1-2-3-4-5-6 peels 2 endpoints/iter: iters 1..3 -> 4, 2, 0
    path6 = "VALUES (1,2),(2,3),(3,4),(4,5),(5,6)"
    assert _peel(path6, k=2, max_iters=3) == []
    # plenty of budget: same answer
    assert _peel(path6, k=2, max_iters=10) == []


def test_kcore_sql_unconverged_still_poisons():
    # cut off mid-peel with a NONEMPTY, still-shrinking survivor set:
    # iter 2 = {3,4} != iter 1 = {2,3,4,5} -> loud -1 row
    path6 = "VALUES (1,2),(2,3),(3,4),(4,5),(5,6)"
    assert -1 in _peel(path6, k=2, max_iters=2)


def test_kcore_sql_stable_core_unchanged():
    # a triangle is its own 2-core from iteration zero
    tri = "VALUES (1,2),(1,3),(2,3)"
    assert _peel(tri, k=2, max_iters=1) == [1, 2, 3]
    assert _peel(tri, k=2, max_iters=7) == [1, 2, 3]

if __name__ == "__main__" and sys.argv[1:] == ["--update"]:
    with open(GOLDEN, "w") as fh:
        json.dump(_current(), fh, indent=1, sort_keys=True)
        fh.write("\n")
