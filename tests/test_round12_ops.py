"""Round-12 operators and hardening (VERDICT r11 + ADVICE r11):
oracle-SQL literal escaping, refine corpus-coverage contract, the
driver-entry index cache's staged atomic commit, and the new
operators added this round.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------ ADVICE items


def test_url_policy_sql_escapes_quotes(spark):
    """r11 ADVICE: a blocked domain or pattern containing a single
    quote must render as a valid (escaped) DuckDB literal, and both
    engines must agree on the verdicts."""
    from shaha_spark.operators.dedup import (
        url_policy_scan,
        url_policy_scan_sql,
    )

    rows = [
        (1, "http://sub.blocked-site.com/x"),
        (2, "http://clean.example.com/it's-fine"),
        (3, "http://clean.example.com/boring"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    # the quoted domain exists to prove the rendered IN-list is still
    # valid SQL; the quoted PATTERN is the realistic injectable case
    domains = ("blocked-site.com", "o'brien.com")
    patterns = ("it's",)
    got = sorted(
        (r.doc_id, r.registered_domain, r.block_reason, bool(r.blocked))
        for r in url_policy_scan(
            df, "url", blocked_domains=domains, blocked_patterns=patterns
        ).collect()
    )
    values = ", ".join(
        "({}, '{}')".format(i, u.replace("'", "''")) for i, u in rows
    )
    sql = url_policy_scan_sql(
        f"SELECT * FROM (VALUES {values}) AS v(doc_id, url)",
        "url",
        blocked_domains=domains,
        blocked_patterns=patterns,
    )
    want = sorted(
        (int(a), b, c, bool(d))
        for a, b, c, d in duckdb.connect().execute(sql).fetchall()
    )
    assert got == want
    assert got[0][2] == "domain" and got[1][2] == "pattern"


def test_refine_coverage_contract(spark, sf_dir, tmp_path):
    """r11 ADVICE: a corpus that drifted from the persisted index
    silently truncates refine results; with check_coverage=True the
    shortfall raises instead."""
    from shaha_spark.operators.ann_index import (
        build_ivf_pq_index,
        ivf_pq_refine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(emb, path, k_coarse=4, m=4, k_sub=4, iters=2)
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full = ivf_pq_refine_topk(
        spark, path, emb, qs, nprobe=2, k_neighbors=5, check_coverage=True
    )
    hit_ids = [r.vec_id for r in full.collect()]
    assert hit_ids
    drifted = emb.filter(~F.col("vec_id").isin(hit_ids[:1]))
    with pytest.raises(ValueError, match="coverage shortfall"):
        ivf_pq_refine_topk(
            spark, path, drifted, qs,
            nprobe=2, k_neighbors=5, check_coverage=True,
        ).collect()


def test_index_cache_staged_commit_race(sf_dir, tmp_path, monkeypatch):
    """r11 ADVICE: two drivers racing the same (sf_dir, params) key
    must never build into the same directory. The staged protocol
    gives each process its own staging dir; the first atomic rename
    wins and the loser adopts the winner's completed index."""
    from shaha_spark.catalog import embeddings as se

    monkeypatch.setenv("SHAHA_INDEX_CACHE_DIR", str(tmp_path / "cache"))
    p1, nb1 = se._index_path("ivf", sf_dir, k=4, iters=2)
    p2, nb2 = se._index_path("ivf", sf_dir, k=4, iters=2)
    assert nb1 and nb2 and p1 != p2  # two racers, two staging dirs
    for p, tag in ((p1, "winner"), (p2, "loser")):
        os.makedirs(p)
        with open(os.path.join(p, "data.txt"), "w") as f:
            f.write(tag)
    f1 = se._index_built(p1)
    f2 = se._index_built(p2)
    assert f1 == f2
    with open(os.path.join(f1, "data.txt")) as f:
        assert f.read() == "winner"  # first commit wins, never clobbered
    assert not os.path.exists(os.path.dirname(p1))
    assert not os.path.exists(os.path.dirname(p2))
    p3, nb3 = se._index_path("ivf", sf_dir, k=4, iters=2)
    assert p3 == f1 and not nb3  # cached for the next invocation

    # crash debris: a staging dir owned by a dead pid is swept
    dead = os.path.dirname(f1) + ".__stage_pid999999999_deadbeef"
    os.makedirs(dead)
    se._index_path("ivf", sf_dir, k=4, iters=2)
    assert not os.path.exists(dead)


# --------------------------------------------- public-suffix loader


PSL_SNIPPET = """\
// ===BEGIN ICANN DOMAINS===
// ac : https://example.invalid
com

co.uk
ORG.UK
co.uk
// a wildcard and its exception
*.ck
!www.ck
// a three-label rule
pvt.k12.ma.us
ne.jp
"""


def test_load_public_suffixes(tmp_path):
    """VERDICT r11 #4: parse the published PSL format — comments and
    blanks skipped, entries lowercased/deduped, single-label entries
    silently absorbed into the default rule, and wildcard/exception/
    3-label rules rejected WITH the reason (or skipped under
    strict=False)."""
    from shaha_spark.functions.url import (
        MULTI_LABEL_SUFFIXES,
        load_public_suffixes,
    )

    p = tmp_path / "psl.dat"
    p.write_text(PSL_SNIPPET)
    with pytest.raises(ValueError) as exc:
        load_public_suffixes(str(p))
    msg = str(exc.value)
    assert "*.ck" in msg and "wildcard" in msg
    assert "!www.ck" in msg and "exception" in msg
    assert "pvt.k12.ma.us" in msg and "4-label" in msg

    got = load_public_suffixes(str(p), strict=False)
    assert got == ("co.uk", "ne.jp", "org.uk")
    # the shipped default snapshot is untouched by the loader's existence
    assert "co.uk" in MULTI_LABEL_SUFFIXES and len(MULTI_LABEL_SUFFIXES) == 19


def test_loaded_suffixes_thread_into_both_engines(spark, tmp_path):
    """The loader's tuple drops into registered_domain AND its DuckDB
    twin unchanged, and both agree on a co.uk-style host."""
    from shaha_spark.functions.url import (
        load_public_suffixes,
        registered_domain,
        registered_domain_sql,
    )

    p = tmp_path / "psl.dat"
    p.write_text("co.uk\nexample-suffix.zz\n")
    sfx = load_public_suffixes(str(p))
    df = spark.createDataFrame(
        [("http://a.b.shop.co.uk/x",), ("http://deep.site.example-suffix.zz/",)],
        "url string",
    )
    got = [r.d for r in df.select(
        registered_domain(F.col("url"), sfx).alias("d")).collect()]
    want = [
        r[0]
        for r in duckdb.connect().execute(
            "SELECT " + registered_domain_sql("url", sfx)
            + " FROM (VALUES ('http://a.b.shop.co.uk/x'),"
            " ('http://deep.site.example-suffix.zz/')) AS v(url)"
        ).fetchall()
    ]
    assert got == want == ["shop.co.uk", "site.example-suffix.zz"]


# ------------------------------------------------ split_balance audit


def test_split_balance_pins_giant_component_skew(spark):
    """VERDICT r11 #3: a giant near-dup component routed into one
    split distorts the proportions — split_balance must surface the
    skew and the component size, per split, and agree with its DuckDB
    twin (incl. the per-domain variant)."""
    from shaha_spark.operators.sampling import (
        cluster_split,
        split_balance,
        split_balance_sql,
    )

    docs = spark.createDataFrame(
        [(i, f"d{i % 3}") for i in range(100)], "doc_id bigint, domain string"
    )
    # star graph: one 60-doc component (diameter 2), 40 isolated docs
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 60)], "id_a bigint, id_b bigint"
    )
    weights = {"train": 0.5, "eval": 0.5}
    sp = cluster_split(docs, edges, weights, salt="sb")
    bal = {r.split: r.asDict() for r in split_balance(
        sp, weights, cluster_col="cluster_rep").collect()}
    giant = max(bal.values(), key=lambda r: r["max_cluster_docs"])
    small = min(bal.values(), key=lambda r: r["max_cluster_docs"])
    assert giant["max_cluster_docs"] == 60  # the component moved whole
    assert small["max_cluster_docs"] == 1
    assert abs(giant["skew"]) >= 0.1  # the distortion is surfaced
    assert round(
        abs(giant["observed_frac"] - giant["target_frac"]), 9
    ) == abs(giant["skew"])
    assert sum(r["n_docs"] for r in bal.values()) == 100

    got = sorted(tuple(r) for r in split_balance(
        sp, weights, domain_col="domain", cluster_col="cluster_rep"
    ).collect())
    vals = ", ".join(
        f"({r.doc_id}, '{r.domain}', {r.cluster_rep}, '{r.split}')"
        for r in sp.collect()
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(
        split_balance_sql(
            f"SELECT * FROM (VALUES {vals}) AS v(doc_id, domain, cluster_rep, split)",
            weights, domain_col="domain", cluster_col="cluster_rep",
        )
    ).fetchall())
    assert got == want


def test_split_balance_defaults_null_columns(spark):
    """No weights → target/skew NULL; no cluster_col → the max-cluster
    diagnostic is NULL, never a fabricated 1."""
    from shaha_spark.operators.sampling import hash_split, split_balance

    df = hash_split(
        spark.range(50).withColumnRenamed("id", "doc_id"),
        {"train": 0.8, "eval": 0.2},
        "doc_id",
    )
    rows = split_balance(df).collect()
    assert rows and all(
        r.target_frac is None and r.skew is None and r.max_cluster_docs is None
        for r in rows
    )


# ------------------------------------------- round-12 concept ops


def test_cross_split_contamination_invariant(spark):
    """Pre phase surfaces the planted cross-split window; post phase
    (train filtered by the flag operator) is all-zero — and a clean
    state is a zero ROW, never a missing one."""
    from shaha_spark.operators.terms import (
        cross_split_contamination,
        exact_substring_decontaminate,
    )

    shared = "X" * 16 + "Y" * 16  # one exact 32-char window
    docs = spark.createDataFrame(
        [
            (1, "train doc with the window " + shared, "train"),
            (2, "another train doc, clean entirely padpadpadpadpad", "train"),
            (3, "eval doc also carrying " + shared + " verbatim", "eval"),
            (4, "clean eval doc padpadpadpadpadpadpadpadpadpadpad", "eval"),
            (5, "clean test doc padpadpadpadpadpadpadpadpadpadpad", "test"),
        ],
        "doc_id bigint, text string, split string",
    )
    pre = {r.split: r for r in cross_split_contamination(docs).collect()}
    assert set(pre) == {"eval", "test"}
    assert pre["eval"].n_pairs == 1 and pre["eval"].n_train_docs_hit == 1
    assert pre["test"].n_pairs == 0  # zero row present, not absent

    train = docs.where(F.col("split") == "train")
    held = docs.where(F.col("split") != "train")
    flags = exact_substring_decontaminate(train, held)
    clean = train.join(
        flags.where(~F.col("contaminated")).select("doc_id"), "doc_id"
    ).unionByName(held)
    post = {r.split: r for r in cross_split_contamination(clean).collect()}
    assert all(r.n_pairs == 0 and r.n_shared_windows == 0
               for r in post.values())


def test_bpe_fertility_known_answer(spark):
    """Fertility arithmetic on a corpus whose single learned merge is
    forced: 'ab' merges, so 'abab' is 2 pieces (fertility 2), 'cd'
    stays 2 chars/2 pieces, and the empty doc keeps a zero row with
    NULL ratios."""
    from shaha_spark.operators.terms import bpe_fertility, bpe_train

    docs = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "cd cd"), (3, "")],
        "doc_id bigint, text string",
    )
    merges = bpe_train(docs, num_merges=1)
    assert [(m[1], m[2]) for m in merges] == [("a", "b")]
    got = {r.doc_id: r for r in bpe_fertility(docs, merges).collect()}
    # doc 1: tokens abab, abab, ab -> pieces [ab,ab],[ab,ab],[ab] = 5
    assert (got[1].n_tokens, got[1].n_pieces, got[1].n_chars) == (3, 5, 10)
    assert got[1].fertility == round(5 / 3, 9)
    assert got[1].chars_per_piece == 2.0 and not got[1].low_compression
    # doc 2: cd, cd -> 2 pieces each (no merge applies) = 4 pieces
    assert (got[2].n_tokens, got[2].n_pieces, got[2].n_chars) == (2, 4, 4)
    assert got[2].chars_per_piece == 1.0 and got[2].low_compression
    # doc 3: spine row, zeros + NULL ratios
    assert (got[3].n_tokens, got[3].n_pieces) == (0, 0)
    assert got[3].fertility is None and got[3].low_compression is None


def test_quality_bundle_composes_signal_operators(spark, sf_dir):
    """The bundle's values ARE the per-signal operators' values —
    byte-for-byte — and every document keeps exactly one row."""
    from shaha_spark.operators.textops import (
        gopher_rules,
        lang_id,
        quality_score,
        quality_signal_bundle,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    out = quality_signal_bundle(docs).localCheckpoint(eager=True)
    assert out.count() == docs.count()
    got_q = {r.doc_id: (r.quality, r.n_tokens) for r in out.collect()}
    want_q = {r.doc_id: (r.quality, r.n_tokens)
              for r in quality_score(docs).collect()}
    assert got_q == want_q
    got_l = {r.doc_id: r.lang_pred for r in out.collect()}
    want_l = {r.doc_id: r.lang_pred for r in lang_id(docs).collect()}
    assert got_l == want_l
    got_g = {r.doc_id: r.gopher_keep for r in out.collect()}
    want_g = {r.doc_id: r.keep for r in gopher_rules(docs).collect()}
    assert got_g == want_g


# --------------------------------- round-12 widening: charclass scan


def test_charclass_scan_detects_artifacts(spark):
    """Crafted artifacts: mojibake signatures, U+FFFD, control bytes,
    and the low-letter-fraction rule each trip ``suspect``; clean text
    does not; both engines agree row-for-row."""
    from shaha_spark.operators.textops import charclass_scan, charclass_scan_sql

    rows = [
        (1, "plain clean words here"),
        (2, "curly quote gone wrong â€™ mid sentence"),
        (3, "decoder gave up �� twice"),
        (4, "bell\x07inside"),
        (5, "12345 67890 000"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r.asDict() for r in charclass_scan(df).collect()}
    assert got[1]["suspect"] is False and got[1]["n_mojibake"] == 0
    assert got[2]["n_mojibake"] == 1 and got[2]["suspect"] is True
    assert got[3]["n_ufffd"] == 2 and got[3]["suspect"] is True
    assert got[4]["n_ctrl"] == 1 and got[4]["suspect"] is True
    # digits-only: alpha_frac < 0.5 trips the letter-fraction rule
    assert got[5]["alpha_frac"] == 0.0 and got[5]["suspect"] is True
    # empty doc: zero counts, zero fractions, suspect by convention
    assert got[6]["n_chars"] == 0 and got[6]["alpha_frac"] == 0.0
    assert got[6]["suspect"] is True

    con = duckdb.connect()
    vals = ", ".join(
        "(%d, '%s')" % (i, t.replace("'", "''")) for i, t in rows
    )
    oracle = con.execute(
        charclass_scan_sql(
            f"SELECT * FROM (VALUES {vals}) AS t(doc_id, text)"
        )
    ).fetchall()
    cols = [d[0] for d in con.description]
    for row in oracle:
        d = dict(zip(cols, row))
        mine = got[d["doc_id"]]
        for c in cols:
            assert mine[c] == pytest.approx(d[c]), (d["doc_id"], c)


# ----------------------------------- round-12 widening: vocab growth


def test_vocab_growth_curve_properties(spark):
    """The curve's invariants: one row per bucket, cumulative totals
    equal the corpus totals, cumulative series are monotone, and both
    engines agree exactly."""
    from shaha_spark.operators.terms import vocab_growth, vocab_growth_sql

    rows = [
        (i, " ".join("w%d" % (j % (3 + i % 5)) for j in range(4 + i)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = sorted(
        (r.asDict() for r in vocab_growth(df, n_buckets=8, salt="t").collect()),
        key=lambda d: d["bucket"],
    )
    assert [d["bucket"] for d in out] == list(range(8))
    total_tokens = sum(len(t.split()) for _, t in rows)
    vocab = {w for _, t in rows for w in t.split()}
    assert out[-1]["cum_tokens"] == total_tokens
    assert out[-1]["cum_types"] == len(vocab)
    for a, b in zip(out, out[1:]):
        assert b["cum_tokens"] >= a["cum_tokens"]
        assert b["cum_types"] >= a["cum_types"]
        assert a["cum_tokens"] == 0 or a["ttr"] > 0.0

    con = duckdb.connect()
    vals = ", ".join("(%d, '%s')" % (i, t) for i, t in rows)
    oracle = sorted(
        con.execute(
            vocab_growth_sql(
                f"SELECT * FROM (VALUES {vals}) AS t(doc_id, text)",
                n_buckets=8,
                salt="t",
            )
        ).fetchall()
    )
    cols = [d[0] for d in con.description]
    for row in oracle:
        d = dict(zip(cols, row))
        mine = out[d["bucket"]]
        for c in cols:
            assert mine[c] == pytest.approx(d[c]), (d["bucket"], c)


# ---------------------------- round-12 widening: source dup matrix


def test_near_dup_source_matrix_canonical_and_fractions(spark):
    """Canonical unordered source pairs, exact counts, fractions
    summing to 1, and the edges-derive-from-df contract (a pair with a
    missing endpoint drops)."""
    from shaha_spark.operators.dedup import near_dup_source_matrix

    docs = spark.createDataFrame(
        [(1, "mirror-a"), (2, "mirror-b"), (3, "mirror-b"),
         (4, "spam"), (5, "spam")],
        "doc_id bigint, source string",
    )
    edges = spark.createDataFrame(
        # (2,1) arrives reversed relative to source order: least/
        # greatest must still canonicalize to (mirror-a, mirror-b)
        [(2, 1), (1, 3), (4, 5), (99, 1)],
        "id_a bigint, id_b bigint",
    )
    got = {
        (r.source_a, r.source_b): r.asDict()
        for r in near_dup_source_matrix(docs, edges).collect()
    }
    assert set(got) == {("mirror-a", "mirror-b"), ("spam", "spam")}
    ab = got[("mirror-a", "mirror-b")]
    assert ab["n_pairs"] == 2 and ab["cross_source"] is True
    ss = got[("spam", "spam")]
    assert ss["n_pairs"] == 1 and ss["cross_source"] is False
    # edge (99, 1) dropped: 99 is not in docs
    assert sum(d["n_pairs"] for d in got.values()) == 3
    assert sum(d["pair_frac"] for d in got.values()) == pytest.approx(1.0)
    assert ab["pair_frac"] == pytest.approx(2 / 3)


# ------------------------------------ round-12 widening: Zipf slope


def test_zipf_slope_recovers_known_exponent(spark):
    """A corpus built with counts ∝ 1/rank must fit slope ≈ −1 with
    high r²; top_k caps the fitted population; top_k < 2 raises."""
    import math

    import numpy as np

    from shaha_spark.operators.terms import zipf_slope

    # term t_r appears round(1200 / r) times, r = 1..20
    words = []
    counts = {}
    for r in range(1, 21):
        c = round(1200 / r)
        counts[f"t{r:02d}"] = c
        words.extend([f"t{r:02d}"] * c)
    docs = [(i, " ".join(words[i::7])) for i in range(7)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    row = zipf_slope(df, top_k=20).collect()[0]
    assert row.n == 20
    # expected fit on the same rounded-ln projection
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    lx = [round(math.log(r), 8) for r in range(1, 21)]
    ly = [round(math.log(c), 8) for _, c in ordered]
    exp_slope = np.polyfit(lx, ly, 1)[0]
    assert row.slope == pytest.approx(exp_slope, abs=1e-6)
    assert row.slope == pytest.approx(-1.0, abs=0.05)
    assert row.r2 > 0.999

    assert zipf_slope(df, top_k=5).collect()[0].n == 5
    with pytest.raises(ValueError, match="top_k"):
        zipf_slope(df, top_k=1)


# ----------------------------- round-12 widening: prototypicality


def test_prototypicality_flags_centroid_mass(spark):
    """A vector lying ON its centroid scores proto_cos 1.0 and flags;
    an orthogonal vector does not; the rounded cosine compares at the
    threshold so both engines branch identically."""
    from shaha_spark.operators.kmeans import prototypicality

    cents = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "centroid_id int, centroid array<double>",
    )
    emb = spark.createDataFrame(
        [
            (10, [2.0, 0.0, 0.0]),   # == centroid 1 direction
            (11, [0.0, 0.0, 5.0]),   # orthogonal to both
            (12, [1.0, 1.0, 0.0]),   # cos √2/2 ≈ 0.707 to both; tie → 1
        ],
        "vec_id bigint, embedding array<double>",
    )
    got = {
        r.vec_id: r.asDict()
        for r in prototypicality(emb, cents, threshold=0.9).collect()
    }
    assert got[10]["centroid_id"] == 1 and got[10]["proto_cos"] == 1.0
    assert got[10]["prototypical"] is True
    assert got[11]["proto_cos"] == 0.0 and got[11]["prototypical"] is False
    assert got[12]["centroid_id"] == 1
    assert got[12]["proto_cos"] == pytest.approx(0.707107)
    assert got[12]["prototypical"] is False
    # >= at the boundary: threshold exactly the rounded cosine flags
    got2 = {
        r.vec_id: r.prototypical
        for r in prototypicality(emb, cents, threshold=0.707107).collect()
    }
    assert got2[12] is True


# --------------------------- round-12 widening: cluster profile


def test_cluster_profile_reports_empty_clusters(spark):
    """Known two-cluster geometry: exact means and fractions; a
    centroid with no members is a reported row with NULL cohesion,
    not an absent one."""
    from shaha_spark.operators.kmeans import cluster_profile

    cents = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [-1.0, -1.0])],
        "centroid_id int, centroid array<double>",
    )
    emb = spark.createDataFrame(
        [
            (10, [1.0, 0.0]),     # on centroid 1: cos 1.0
            (11, [1.0, 1.0]),     # cos √2/2 to 1 and 2; tie → 1
            (12, [0.0, 2.0]),     # on centroid 2: cos 1.0
        ],
        "vec_id bigint, embedding array<double>",
    )
    got = {
        r.centroid_id: r.asDict()
        for r in cluster_profile(emb, cents, threshold=0.9).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1]["n_members"] == 2
    assert got[1]["mean_cos"] == pytest.approx((1.0 + 0.707107) / 2)
    assert got[1]["proto_frac"] == pytest.approx(0.5)
    assert got[2]["n_members"] == 1 and got[2]["proto_frac"] == 1.0
    # nothing points at centroid 3: reported, NULL cohesion
    assert got[3]["n_members"] == 0
    assert got[3]["mean_cos"] is None and got[3]["proto_frac"] is None
