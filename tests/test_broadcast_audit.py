"""Broadcast-side boundedness audit (VERDICT r4 item 7).

``F.broadcast`` FORCES a broadcast regardless of
``autoBroadcastJoinThreshold`` — on a 1000-executor cluster a
data-scale frame forced through a broadcast is an OOM, not a slow
plan, so every call site must carry a written argument for why its
input is bounded. This is the call-site-level complement of
test_plan_lint.py's plan checks (plans can't distinguish a justified
model-sized broadcast from an unjustified data-sized one; source can).

Mechanics mirror GLOBAL_WINDOW_OK: every ``broadcast(...)`` call in
the package (the query catalog included) and the driver entry is
discovered by AST walk and keyed
``(file, enclosing function, first-arg snippet)``; the key must map to
a boundedness rationale here, and stale entries fail symmetrically.
A new broadcast needs a design argument, not an allowlist reflex —
acceptable arguments are fixed cardinality, aggregation output,
model-sized state (centroids/codebooks/sketch cells), query-batch
frames, or an explicitly dimension-vs-fact asymmetry.
"""

from __future__ import annotations

import ast
import os

import __spark_entry__ as entry_mod

REPO = os.path.dirname(os.path.abspath(entry_mod.__file__))

# rationale shorthands
_DIM_FIXED = "fixed-cardinality dim (region=5 / nation=25 rows at any SF)"
_DIM = ("dimension side of a dim/fact join: orders of magnitude smaller "
        "than the fact side it joins (TPC-H dim/fact asymmetry)")
_SCALAR = "one-row (or per-group constant) aggregate output"
_MODEL = "model-sized state: centroids / codebooks / sketch cells"
_QUERY = "query-batch frame: bounded by the number of probe queries"
_AGG = "aggregation output with bounded key cardinality"

#: (file, function, first-arg snippet ≤60 chars) -> boundedness argument
BROADCAST_OK: dict[tuple[str, str, str], str] = {
    # --- query catalog: TPC-H dimension broadcasts ------------------
    ("shaha_spark/catalog/tpch.py", "q_tpch_q7", "supp"): _DIM,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q7", "n1"): _DIM_FIXED,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q7", "n2"): _DIM_FIXED,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q8", "reg"): _DIM_FIXED,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q8", "part"): _DIM,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q8", "supp"): _DIM,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q8", "sn"): _DIM_FIXED,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q8", "cn"): _DIM_FIXED,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q9", "part"): _DIM,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q9", "supp"): _DIM,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q9", "nat"): _DIM_FIXED,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q15", "best"): _SCALAR,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q17", "part.select('p_partkey')"): _DIM,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q19", "part"): _DIM,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q22", "thr"): _SCALAR,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q2", "reg"): _DIM_FIXED,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q2", "nat"): _DIM_FIXED,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q2", "part"): _DIM,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q2",
     "supp.select('s_suppkey', 's_name', 'n_name')"): _DIM,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q11", "nat"): _DIM_FIXED,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q11", "supp.select('s_suppkey')"): _DIM,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q11", "total"): _SCALAR,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q16", "bad_supp"): _DIM,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q16", "part"): _DIM,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q20", "part.select('p_partkey')"): _DIM,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q20", "nat"): _DIM_FIXED,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q20", "dominant"):
        "distinct supplier keys — bounded by the supplier dimension "
        "(one column, ≤|supplier| rows)",
    ("shaha_spark/catalog/tpch.py", "q_tpch_q21", "nat"): _DIM_FIXED,
    ("shaha_spark/catalog/tpch.py", "q_tpch_q21",
     "supp.select('s_suppkey', 's_name')"): _DIM,
    # --- query catalog: analytics -----------------------------------
    ("shaha_spark/catalog/events.py", "q_events_hll", "exact"): _AGG + " (per event_type)",
    ("shaha_spark/catalog/docs.py", "q_docs_overview", "dup_docs"): _SCALAR,
    ("shaha_spark/catalog/docs.py", "q_docs_hapax_ratio",
     "hapax.withColumn('__h', F.lit(1))"):
        "hapax vocabulary subset — vocab-sized, ≪ token stream; joined "
        "as a semi-join marker",
    ("shaha_spark/catalog/embeddings.py", "q_emb_silhouette",
     "cents.select(F.col('centroid_id').alias('cid'), F.col('centr"): _MODEL,
    ("shaha_spark/catalog/docs.py", "q_docs_freshness", "mx"): _SCALAR,
    ("shaha_spark/catalog/events.py", "q_events_benford", "total"): _SCALAR,
    ("shaha_spark/catalog/docs.py", "q_words_collocations", "ua"):
        _AGG + " (unigram counts of the collocation candidates)",
    ("shaha_spark/catalog/docs.py", "q_words_collocations", "ub"):
        _AGG + " (unigram counts of the collocation candidates)",
    ("shaha_spark/catalog/docs.py", "q_words_collocations", "n_tok"): _SCALAR,
    # --- operators --------------------------------------------------
    ("shaha_spark/operators/ann_index.py", "ivf_index_topk",
     "load_ivf_centroids(spark, path)"): _MODEL,
    ("shaha_spark/operators/ann_index.py", "ivf_index_topk", "probes"): _QUERY,
    ("shaha_spark/operators/ann_index.py", "ivf_pq_index_topk",
     "load_ivf_centroids(spark, path)"): _MODEL,
    ("shaha_spark/operators/ann_index.py", "ivf_pq_index_topk", "probes"): _QUERY,
    ("shaha_spark/operators/basket.py", "basket_rules",
     "item_counts.select(F.col(item_col).alias('item_a'), F.col('_"):
        "per-item basket counts: |items| rows (documented at "
        "basket.py basket_rules)",
    ("shaha_spark/operators/basket.py", "basket_rules",
     "item_counts.select(F.col(item_col).alias('item_b'), F.col('_"):
        "per-item basket counts: |items| rows",
    ("shaha_spark/operators/basket.py", "basket_rules", "n_total"): _SCALAR,
    ("shaha_spark/operators/basket.py", "set_similarity_join", "freq"):
        "per-item frequency table: |items| rows, prefix-filter side",
    ("shaha_spark/operators/chunking.py", "pack_sequences", "offsets"):
        "per-bucket offsets: n/BLOCK rows (distributed prefix sum)",
    ("shaha_spark/operators/classifier.py", "isotonic_fit", "k"):
        "per-bin prefix sums: ≤ bins rows (64 default) — the minimax "
        "self-join side, constant in the data size",
    ("shaha_spark/operators/classifier.py", "isotonic_fit", "pairs"):
        "interval-average candidates: ≤ bins(bins+1)/2 rows "
        "(≈2k at bins=64), constant in the data size",
    ("shaha_spark/operators/classifier.py", "isotonic_fit", "iso"):
        "per-bin isotonic fit: ≤ bins rows (64 default) — the final "
        "join-back side, constant in the data size",
    ("shaha_spark/operators/embeddings.py", "_matvec", "vrow"): _SCALAR
        + " (the power-iterate: one row holding a d-element decimal array)",
    ("shaha_spark/operators/embeddings.py", "sq_topk", "qcodes"): _QUERY,
    ("shaha_spark/operators/embeddings.py", "sq_topk", "cands"):
        _QUERY + " (k*|queries| candidate ids after stage A)",
    ("shaha_spark/operators/embeddings.py", "sq_topk",
     "qcodes.select(query_id_col, '__qvec', norm2(F.col('__qvec'))"): _QUERY,
    ("shaha_spark/operators/kmeans.py", "assign_nearest",
     "centroids.select('centroid_id', 'centroid', norm2(F.col('cen"): _MODEL,
    ("shaha_spark/operators/kmeans.py", "prototypicality",
     "centroids.select('centroid_id', 'centroid', norm2(F.col('cen"): _MODEL,
    ("shaha_spark/operators/kmeans.py", "kmeans_fit_grouped",
     "centroids.select(group_col, 'centroid_id', 'centroid', norm2"): _MODEL
        + " (Σ per-group k rows — m×k for PQ training, model-sized at any "
          "corpus volume)",
    ("shaha_spark/operators/layout.py", "zorder_value", "bounds"): _SCALAR,
    ("shaha_spark/operators/pq.py", "_adc_score", "codebooks"): _MODEL,
    ("shaha_spark/operators/pq.py", "_adc_score", "adc"):
        _MODEL + " (|queries| * m * k ADC entries)",
    ("shaha_spark/operators/pq.py", "ivf_pq_topk", "coarse"): _MODEL,
    ("shaha_spark/operators/pq.py", "ivf_pq_topk", "q_probe"):
        _QUERY + " (nprobe rows per query)",
    ("shaha_spark/operators/profile.py", "histogram", "bounds"): _SCALAR,
    ("shaha_spark/operators/profile.py", "winsorize", "bounds"): _SCALAR,
    ("shaha_spark/operators/profile.py", "psi", "bounds"): _SCALAR,
    ("shaha_spark/operators/profile.py", "psi", "totals"): _SCALAR,
    ("shaha_spark/operators/profile.py", "mad_outliers", "med"): _SCALAR,
    ("shaha_spark/operators/profile.py", "ks_2samp", "stats"): _SCALAR,
    ("shaha_spark/operators/profile.py", "ks_2samp", "offsets"):
        "per-bucket running offsets: n_buckets rows (<=256) at any scale",
    ("shaha_spark/operators/profile.py", "quantile_disc", "stats"): _SCALAR,
    ("shaha_spark/operators/profile.py", "quantile_disc", "offsets"):
        "per-bucket running offsets: n_buckets rows (<=256) at any scale",
    ("shaha_spark/operators/profile.py", "mad_outliers", "mad"): _SCALAR,
    ("shaha_spark/operators/profile.py", "chi_square", "ra"):
        _AGG + " (marginals: one row per category)",
    ("shaha_spark/operators/profile.py", "chi_square", "cb"):
        _AGG + " (marginals: one row per category)",
    ("shaha_spark/operators/profile.py", "mutual_info", "ra"):
        _AGG + " (marginals: one row per category)",
    ("shaha_spark/operators/profile.py", "mutual_info", "cb"):
        _AGG + " (marginals: one row per category)",
    ("shaha_spark/operators/profile.py", "mutual_info", "tot"): _SCALAR,
    ("shaha_spark/operators/profile.py", "chi_square", "tot"): _SCALAR,
    ("shaha_spark/operators/profile.py", "key_skew_report", "topk"):
        "top-k hot keys: k rows by construction",
    ("shaha_spark/operators/sampling.py", "temperature_resample", "rates"):
        _AGG + " (one row per stratum)",
    ("shaha_spark/operators/sampling.py", "_dsir_lam", "tot_r"): _SCALAR,
    ("shaha_spark/operators/sampling.py", "_dsir_lam", "tot_t"): _SCALAR,
    ("shaha_spark/operators/sampling.py", "importance_weights", "lam"):
        _AGG + " (one row per hash bucket, fixed bucket count)",
    ("shaha_spark/operators/sampling.py", "domain_importance", "lam"):
        _AGG + " (one row per hash bucket, fixed bucket count)",
    ("shaha_spark/operators/sampling.py", "token_budget_select", "offsets"):
        "per-bucket offsets: score_range/bucket_width rows",
    ("shaha_spark/operators/terms.py", "exact_substring_decontaminate",
     "eval_wins"):
        "distinct min_len-char windows of the EVAL set — benchmark-"
        "sized by the production asymmetry (100 TB train vs small "
        "eval), and gated by the broadcast_eval flag whose docstring "
        "routes huge eval sets to the shuffle join",
    ("shaha_spark/operators/terms.py", "contamination_report",
     "eval_wins"):
        "per-doc-distinct min_len-char windows of the EVAL set with "
        "their ids — still benchmark-sized by the production "
        "asymmetry (100 TB train vs small eval), and gated by the "
        "same broadcast_eval flag routing huge eval sets to the "
        "shuffle join",
    ("shaha_spark/operators/terms.py",
     "exact_substring_decontaminate_screened", "eval_w"):
        "distinct W-char eval windows — same benchmark-sized eval "
        "asymmetry and broadcast_eval gate as the base operator",
    ("shaha_spark/operators/terms.py",
     "exact_substring_decontaminate_screened", "eval_full"):
        "distinct min_len-char eval windows for the exact pass — "
        "same bound",
    # brute_force_topk no longer broadcasts: its query batch (same
    # _QUERY bound) is collected driver-side into the mapInArrow
    # scoring kernel's closure (optimization round 12)
    ("shaha_spark/operators/ann_index.py", "ivf_pq_refine_topk",
     "queries.select(F.col(query_id_col), F.col(vec_col).alias('__"): _QUERY,
    ("shaha_spark/operators/ann_index.py", "ivf_pq_refine_topk", "cands"):
        "refine candidate list: |queries| · refine_factor · k rows by "
        "construction (the stage-1 top-k output)",
    ("shaha_spark/operators/similarity.py", "ivf_assign",
     "centroids.select(centroid_id_col, centroid_vec_col, norm2(F."): _MODEL,
    ("shaha_spark/operators/similarity.py", "ivf_topk", "centroids"): _MODEL,
    ("shaha_spark/operators/similarity.py", "topk_recall",
     "approx.select(query_col, id_col).withColumn('__hit', F.lit(1"):
        _QUERY + " (k·|queries| rows — the ANN's top-k result set; k× "
        "larger than a plain query batch, so the eval batch must stay "
        "evaluation-sample-sized: corpus-as-queries at large k belongs "
        "on a sampled batch, not here)",
    ("shaha_spark/operators/similarity.py", "ndcg_at_k", "e"):
        _QUERY + " (k·|queries| rows — the exact top-k result set; same "
        "k× caveat as topk_recall's approx side)",
    ("shaha_spark/operators/similarity.py", "ndcg_at_k", "per_q"):
        _QUERY + " (one DCG row per query)",
    ("shaha_spark/operators/kmeans.py", "cluster_profile", "agg"):
        _MODEL + " (≤ k per-centroid aggregate rows)",
    ("shaha_spark/operators/similarity.py", "ivf_topk", "q_probe"):
        _QUERY + " (nprobe rows per query)",
    ("shaha_spark/operators/similarity.py", "prefix_topk",
     "queries.select(F.col(query_id_col), F.col(vec_col).alias('__"): _QUERY,
    ("shaha_spark/operators/similarity.py", "prefix_topk", "cands"):
        _QUERY + " (k' candidate ids per query after the prefix stage)",
    ("shaha_spark/operators/similarity.py", "hard_negatives",
     "queries.select(F.col(query_id_col), F.col(label_col).alias('"): _QUERY,
    ("shaha_spark/operators/similarity.py", "knn_label_accuracy",
     "probes.select(F.col(id_col).alias('__probe_id'), F.col(label"):
        _QUERY + " (probes are an evaluation sample by contract)",
    ("shaha_spark/operators/sketch.py", "cms_frequencies", "cells"):
        _MODEL + " (d*w CMS cells, fixed)",
    ("shaha_spark/operators/sketch.py", "bloom_membership", "set_bits"):
        _MODEL + " (set bit positions of the bloom filter, m bits max)",
    ("shaha_spark/operators/skew.py", "salted_broadcast_join", "salted_dim"):
        "dim side replicated x salt — bounded by |dim| * n_salts, the "
        "operator's contract (caller passes a dim-sized frame)",
    ("shaha_spark/operators/terms.py", "term_stats", "n"): _SCALAR,
    ("shaha_spark/operators/terms.py", "oov_rate",
     "vocab.select('term').distinct().withColumn('__known', F.lit("):
        "reference vocabulary: vocab-sized by contract",
    ("shaha_spark/operators/terms.py", "tf_cosine_pairs", "n"): _SCALAR,
    ("shaha_spark/operators/terms.py", "bigram_logprob", "lp"):
        _AGG + " (LM table over the VOCAB bigrams of the train half; "
        "vocab-sized, ≪ token stream)",
    ("shaha_spark/operators/terms.py", "trigram_backoff_logprob", "totals"):
        _SCALAR,
    ("shaha_spark/operators/terms.py", "unigram_logprob", "total"): _SCALAR,
    ("shaha_spark/operators/terms.py", "unigram_logprob", "lp"):
        _AGG + " (unigram LM: one row per vocab term)",
    ("shaha_spark/operators/terms.py", "bm25_scores", "n_docs"): _SCALAR,
    ("shaha_spark/operators/terms.py", "bm25_scores", "idf"):
        _AGG + " (idf of the QUERY terms only: |query terms| rows)",
    ("shaha_spark/operators/terms.py", "bm25_scores", "avgdl"): _SCALAR,
}


def _broadcast_sites() -> list[tuple[str, str, str]]:
    paths = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(REPO, "shaha_spark"))
        for f in fs
        if f.endswith(".py")
    ]
    paths.append(os.path.join(REPO, "__spark_entry__.py"))
    sites: list[tuple[str, str, str]] = []
    for p in sorted(paths):
        tree = ast.parse(open(p).read())
        rel = os.path.relpath(p, REPO)

        class V(ast.NodeVisitor):
            def __init__(self):
                self.stack = ["<module>"]

            def visit_FunctionDef(self, n):
                self.stack.append(n.name)
                self.generic_visit(n)
                self.stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Call(self, n):
                fn = n.func
                name = (
                    fn.attr
                    if isinstance(fn, ast.Attribute)
                    else getattr(fn, "id", None)
                )
                if name == "broadcast" and n.args:
                    sites.append(
                        (rel, self.stack[-1], ast.unparse(n.args[0])[:60])
                    )
                self.generic_visit(n)

        V().visit(tree)
    return sites


def test_every_broadcast_site_has_boundedness_argument():
    unlisted = [s for s in _broadcast_sites() if s not in BROADCAST_OK]
    assert not unlisted, (
        f"broadcast call sites without a boundedness argument: {unlisted} "
        "— a forced broadcast of a data-scale frame OOMs at cluster "
        "scale; either bound the input (aggregate/limit) or enroll the "
        "site with its cardinality argument"
    )


def test_no_stale_broadcast_allowlist_entries():
    live = set(_broadcast_sites())
    stale = [k for k in BROADCAST_OK if k not in live]
    assert not stale, (
        f"BROADCAST_OK entries with no matching call site (delete or "
        f"re-key them): {stale}"
    )
