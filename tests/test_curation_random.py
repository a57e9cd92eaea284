"""Seeded-random differential tests for the round-3 curation operators:
a pure-Python mirror computes the expected result over randomized
corpora (symbols, stopwords, repeats, empty docs), and one Spark job
per operator must reproduce it exactly. Complements the DuckDB oracle
(engine-vs-engine) with an engine-vs-specification check.
"""

from __future__ import annotations

import math
import random
from collections import Counter

import pytest

STOPS = ["the", "a", "and", "is", "not", "of", "to", "in", "with", "for"]
WORDS = STOPS + ["alpha", "beta", "gamma", "delta", "x", "##", "a1b2", "zz9",
                 "$ymbol", "...", "word", "longishtoken"]


def _corpus(seed: int, n_docs: int = 60):
    rng = random.Random(seed)
    docs = []
    for i in range(n_docs):
        n = rng.choice([0, 1, 3, 15, 25, 40, 95])
        toks = [rng.choice(WORDS) for _ in range(n)]
        # force some shared 5-gram spans between consecutive docs
        if i % 7 == 0 and len(toks) >= 5:
            toks[:5] = ["p", "q", "r", "s", "t"]
        docs.append((i, " ".join(toks)))
    return docs


@pytest.fixture(scope="module")
def corpus(spark):
    rows = _corpus(20260813)
    return rows, spark.createDataFrame(rows, "doc_id bigint, text string")


def _tokens(text: str) -> list[str]:
    return [t for t in text.split(" ") if t]


def test_gopher_rules_matches_python_reference(spark, corpus):
    rows, df = corpus
    from shaha_spark.operators.textops import gopher_rules

    got = {r["doc_id"]: r.asDict() for r in gopher_rules(df).collect()}
    assert set(got) == {i for i, _ in rows}
    for i, text in rows:
        toks = _tokens(text)
        n = len(toks)
        mean_len = (sum(len(t) for t in toks) / n) if n else 0.0
        n_alpha = sum(1 for t in toks if any(c.isascii() and c.isalpha() for c in t))
        n_sym = sum(1 for t in toks if any(not (c.isascii() and c.isalnum()) for c in t))
        n_stop = sum(1 for t in toks if t in STOPS)
        g = got[i]
        assert g["n_tokens"] == n
        assert g["mean_token_len"] == pytest.approx(mean_len)
        assert g["n_stopwords"] == n_stop
        exp = {
            "pass_count": int(20 <= n <= 90),
            "pass_mean_len": int(3.0 <= mean_len <= 10.0),
            "pass_symbols": int((n_sym / n if n else 0.0) <= 0.1),
            "pass_alpha": int((n_alpha / n if n else 0.0) >= 0.8),
            "pass_stopwords": int(n_stop >= 2),
        }
        for key, v in exp.items():
            assert g[key] == v, (i, key, g)
        assert g["keep"] == math.prod(exp.values())


def test_dup_gram_stats_matches_python_reference(spark, corpus):
    rows, df = corpus
    from shaha_spark.operators.terms import dup_gram_stats

    n = 5
    per_doc = {
        i: {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
        for i, text in rows
        for toks in [_tokens(text)]
    }
    gram_df = Counter(g for grams in per_doc.values() for g in grams)
    got = {
        r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_fraction"])
        for r in dup_gram_stats(df, n=n).collect()
    }
    for i, grams in per_doc.items():
        if not grams:
            assert i not in got
            continue
        dup = sum(1 for g in grams if gram_df[g] >= 2)
        assert got[i] == (len(grams), dup, pytest.approx(dup / len(grams)))


def test_bigram_logprob_matches_python_reference(spark, corpus):
    rows, df = corpus
    from shaha_spark.operators.terms import bigram_logprob

    pairs_by_doc = {
        i: list(zip(toks, toks[1:]))
        for i, text in rows
        for toks in [_tokens(text)]
    }
    c2 = Counter(p for ps in pairs_by_doc.values() for p in ps)
    c1 = Counter()
    for (w1, _), c in c2.items():
        c1[w1] += c
    lp = {p: round(math.log(c / c1[p[0]]), 8) for p, c in c2.items()}
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in bigram_logprob(df).collect()
    }
    for i, ps in pairs_by_doc.items():
        if not ps:
            assert i not in got
            continue
        assert got[i][0] == len(ps)
        assert got[i][1] == pytest.approx(sum(lp[p] for p in ps) / len(ps))
        # conditional model sanity: log-likelihood of observed data <= 0
        assert got[i][1] <= 1e-12


def test_bpe_pair_counts_matches_python_reference(spark, corpus):
    rows, df = corpus
    from shaha_spark.operators.terms import bpe_pair_counts

    vocab = Counter(t for _, text in rows for t in _tokens(text))
    expect = Counter()
    for term, freq in vocab.items():
        for j in range(len(term) - 1):
            expect[term[j : j + 2]] += freq
    top = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r["pair"], r["cnt"]) for r in bpe_pair_counts(df, k=20).collect()]
    assert got == top


# ---- physical plan shape guards (no jobs run; plans only) ----

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_mix_resample_plan_is_shuffle_free(spark):
    from shaha_spark.catalog import queries

    plan = _plan(queries()["docs_mix_resample"](spark, SF))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_gopher_plan_single_agg_no_sort_fallback(spark):
    from shaha_spark.catalog import queries

    plan = _plan(queries()["docs_gopher_filter"](spark, SF))
    assert "SortAggregate" not in plan  # metrics stay in hash aggregation
    assert "EvalPython" not in plan
    assert plan.count("Scan parquet") == 1  # one corpus pass for all 5 rules


def test_bpe_pairs_plan_uses_topk_not_global_sort(spark):
    from shaha_spark.catalog import queries

    plan = _plan(queries()["docs_bpe_pairs"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_dup_grams_plan_single_corpus_scan(spark):
    from shaha_spark.catalog import queries

    # the df-count window rides the SAME lineage as the gram assembly —
    # a groupBy diamond would show up as a second scan
    plan = _plan(queries()["docs_dup_grams"](spark, SF))
    assert plan.count("Scan parquet") == 1
    assert "EvalPython" not in plan


def test_bigram_plan_broadcasts_lm_table(spark):
    from shaha_spark.catalog import queries

    plan = _plan(queries()["docs_bigram_logprob"](spark, SF))
    assert "BroadcastHashJoin" in plan  # LM table joins broadcast-side
    assert "EvalPython" not in plan
    # pairs subtree feeds the LM build AND the scoring join: two corpus
    # scans by design (the LM table is the small side); never more
    assert plan.count("Scan parquet") <= 2


def _line_corpus(seed: int, n_docs: int = 40):
    rng = random.Random(seed)
    pool = ["header", "footer text", "copyright 2020", "body %d", "la la",
            "", "x", "subscribe now", "unique-%d-%d"]
    docs = []
    for i in range(n_docs):
        n = rng.choice([1, 2, 4, 7])
        lines = []
        for j in range(n):
            t = rng.choice(pool)
            lines.append(t % ((i, j) if t.count("%d") == 2 else i)
                         if "%d" in t else t)
        docs.append((i, "\n".join(lines)))
    return docs


def test_dedup_duplicate_lines_matches_python_reference(spark):
    from shaha_spark.operators.dedup import dedup_duplicate_lines

    rows = _line_corpus(20260814)
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    for min_docs in (2, 3):
        got = {
            r["doc_id"]: r["text"]
            for r in dedup_duplicate_lines(df, min_docs=min_docs).collect()
        }
        # pure-Python mirror
        docs_per_line: dict[str, set[int]] = {}
        for i, text in rows:
            for ln in text.split("\n"):
                docs_per_line.setdefault(ln, set()).add(i)
        dup = {ln for ln, ds in docs_per_line.items() if len(ds) >= min_docs}
        want = {}
        for i, text in rows:
            kept = [ln for ln in text.split("\n") if ln not in dup]
            joined = "\n".join(kept)
            if joined:
                want[i] = joined
        assert got == want, f"min_docs={min_docs}"


def test_bpe_train_random_corpus_matches_reference(spark):
    from shaha_spark.operators.terms import bpe_train

    rng = random.Random(20260815)
    alphabet = "abcd"
    words = ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
             for _ in range(120)]
    rows = [(i, " ".join(rng.choices(words, k=rng.randint(0, 12))))
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    # reference: Sennrich-style greedy merge, ties lexicographic
    freqs = Counter(t for _, text in rows for t in text.split(" ") if t)
    syms = {w: list(w) for w in freqs}
    want = []
    for step in range(1, 7):
        counts: Counter = Counter()
        for w, f in freqs.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        (l, r), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        want.append((step, l, r, l + r, cnt))
        for w in syms:
            out = []
            for x in syms[w]:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            syms[w] = out
    assert bpe_train(df, num_merges=6) == want


def test_importance_weights_random_corpus_matches_reference(spark):
    from shaha_spark.operators.sampling import importance_weights
    import hashlib
    from decimal import Decimal

    rng = random.Random(20260816)
    rows = [
        (i, " ".join(rng.choices(WORDS, k=rng.randint(0, 20))),
         rng.choice(["en", "de"]))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    target = df.filter("lang = 'en'")
    B = 512
    got = {
        r["doc_id"]: (r["n_grams"], round(r["logweight"], 6))
        for r in importance_weights(df, target, num_buckets=B).collect()
    }

    def buckets(text: str) -> list[int]:
        toks = [t for t in text.split(" ") if t]
        grams = []
        for i, t in enumerate(toks):
            grams.append(t)
            if i + 1 < len(toks):
                grams.append(t + " " + toks[i + 1])
        return [int(hashlib.md5(g.encode()).hexdigest()[:7], 16) % B
                for g in grams]

    cr: Counter = Counter()
    ct: Counter = Counter()
    per_doc: dict[int, list[int]] = {}
    for i, text, lang in rows:
        bs = buckets(text)
        per_doc[i] = bs
        cr.update(bs)
        if lang == "en":
            ct.update(bs)
    tr, tt = sum(cr.values()), sum(ct.values())
    lam = {
        b: (Decimal(str(round(math.log((ct.get(b, 0) + 1) / (tt + B)), 8)))
            - Decimal(str(round(math.log((cr[b] + 1) / (tr + B)), 8))))
        for b in cr
    }
    want = {}
    for i, _, _ in rows:
        bs = per_doc[i]
        if not bs:
            continue
        want[i] = (len(bs), round(float(sum(lam[b] for b in bs)), 6))
    assert got == want
