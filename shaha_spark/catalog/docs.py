"""Training-data curation queries over ``documents`` and its words.

Text normalization and quality, language ID, exact and near-duplicate
removal, decontamination, sampling and splits, tokenization (BPE,
n-gram models), search, classification and snapshot queries over
hash databases built from the corpus.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import Window, functions as F

from shaha_spark.caching import registers
from shaha_spark.catalog import query
from shaha_spark.catalog._tables import (
    _DWORDS_CTE,
    _SHINGLES_CTE,
    _TOKS_CTE,
    _WORDS_CTE,
    _dwords,
    _ensure_pkg,
    _hex,
    _t,
    _words,
)
from shaha_spark.functions.text import tokens
from shaha_spark.functions.url import (
    normalize_url_sql,
    registered_domain,
    registered_domain_sql,
)
from shaha_spark.operators.chunking import (
    chunk_documents,
    chunk_documents_sql,
    pack_sequences,
    pack_sequences_sql,
)
from shaha_spark.operators.classifier import (
    calibration_bins,
    classification_report,
    hashed_features,
    isotonic_fit,
    isotonic_fit_sql,
    logreg_score,
    roc_auc,
)
from shaha_spark.operators.components import (
    connected_components,
    keep_best_per_component,
    minhash_dedup_cc,
)
from shaha_spark.operators.constants import (
    FINGERPRINT_K,
    LANG_STOPWORDS,
    LSH_BANDS,
    LSH_ROWS_PER_BAND,
    MERSENNE_P,
    MINHASH_PERMS,
    QUALITY_STOPWORDS,
)
from shaha_spark.operators.dedup import (
    dedup_duplicate_lines,
    exact_dedup,
    incremental_minhash_dedup,
    levenshtein_pairs,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_eval,
    minhash_signatures,
    minhash_similarity,
    near_dup_source_matrix,
    near_dup_source_matrix_sql,
    ngram_jaccard,
    simhash,
    simhash_near_dup_pairs,
    trigram_fuzzy_pairs,
    url_dedup,
    url_policy_scan,
    url_policy_scan_sql,
)
from shaha_spark.operators.graph import pagerank_fixed, pagerank_fixed_sql
from shaha_spark.operators.multimodal import (
    decode_metadata,
    dedup_media,
    media_from_documents,
    sample_frames,
)
from shaha_spark.operators.profile import (
    group_quantile_filter,
    mutual_info,
    mutual_info_sql,
    psi,
    psi_sql,
    split_cast_double_sql as _split_cast_sql,
    split_cast_double_sql,
)
from shaha_spark.operators.sampling import (
    _bucket,
    balanced_sample,
    balanced_sample_sql,
    bucket_sql,
    cluster_split,
    domain_importance,
    h28_sql,
    hash_sample,
    hash_split,
    importance_resample,
    importance_weights,
    source_cap,
    source_cap_sql,
    split_balance,
    split_balance_sql,
    stratified_hash_sample,
    temperature_rates,
    temperature_resample,
    token_budget_select,
    token_budget_select_sql,
    weighted_hash_sample,
    weighted_reservoir,
    weighted_reservoir_sql,
)
from shaha_spark.operators.search import (
    phrase_search,
    phrase_search_sql,
    postings_stats,
    postings_stats_sql,
)
from shaha_spark.operators.similarity import rank_fusion
from shaha_spark.operators.sketch import (
    bloom_membership,
    bloom_membership_sql,
    cms_frequencies,
    cms_frequencies_sql,
)
from shaha_spark.operators.terms import (
    bigram_logprob,
    bm25_scores,
    bpe_encode,
    bpe_fertility,
    bpe_pair_counts,
    bpe_train_local,
    contamination_report,
    contamination_report_sql,
    cross_split_contamination,
    cross_split_contamination_sql,
    decontaminate,
    dup_gram_stats,
    exact_substring_decontaminate,
    exact_substring_decontaminate_screened,
    exact_substring_decontaminate_sql,
    ngram_repetition,
    oov_rate,
    ppl_pacing_buckets,
    remove_dup_gram_spans,
    term_stats,
    tf_cosine_pairs,
    top_keywords,
    top_vocab,
    trigram_backoff_logprob,
    unigram_logprob,
    vocab_growth,
    vocab_growth_sql,
    zipf_slope,
    zipf_slope_sql,
)
from shaha_spark.operators.textops import (
    char_entropy,
    charclass_scan,
    charclass_scan_sql,
    fingerprint,
    gopher_rules,
    lang_id,
    license_scan,
    license_scan_sql,
    luhn_scan,
    luhn_scan_sql,
    normalize_text,
    quality_score,
    quality_signal_bundle,
    redact_patterns,
    token_count,
    winnow_fingerprints,
    winnow_fingerprints_sql,
)
from shaha_spark.pipeline import snapshot as snap
from shaha_spark.pipeline.build import build
from shaha_spark.pipeline.curate import curate_corpus


BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

DOCS_WEIGHTED_RESERVOIR_SQL = weighted_reservoir_sql(
    "documents",
    5,
    "n_chars",
    "doc_id",
    strata_col="source",
    salt="wres8",
    select="source, doc_id, n_chars, res_key",
)


@query("docs_weighted_reservoir", oracle=DOCS_WEIGHTED_RESERVOIR_SQL)
def q_docs_weighted_reservoir(spark, sf_dir):
    """Fixed-size weighted reservoir per source: exactly 5 documents
    per stratum with inclusion odds ∝ n_chars (operators/sampling.py
    weighted_reservoir — Efraimidis–Spirakis A-ES keyed on the
    cross-engine md5 hash, rounded-ln recipe, two-phase skew-proof
    top-k). Complements sample_weighted, whose Bernoulli draw has
    variable size; a reservoir guarantees the sample SIZE."""
    return weighted_reservoir(
        _t(spark, sf_dir, "documents"),
        k=5,
        weight_col="n_chars",
        key_col="doc_id",
        strata_col="source",
        salt="wres8",
    ).select("source", "doc_id", "n_chars", "res_key")


DOCS_MUTUAL_INFO_SQL = mutual_info_sql("documents", "lang", "source")


@query("docs_mutual_info", oracle=DOCS_MUTUAL_INFO_SQL)
def q_docs_mutual_info(spark, sf_dir):
    """Mutual information (nats) between document language and source
    (operators/profile.py mutual_info) — the dependence measure next to
    chi_square's significance test. Exact integer counts, broadcast
    marginals, rounded-ln cells summed in DECIMAL, one split-cast
    division; same single-fact-scan shape as chi_square."""
    return mutual_info(_t(spark, sf_dir, "documents"), "lang", "source")


LOGREG_DIM = 64

_FEAT_CTE = f"""words AS (
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

_SCORED_CTE = f"""{_FEAT_CTE},
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

DOCS_ISOTONIC_SQL = isotonic_fit_sql(
    "scored", "lab", "p", bins=16, prelude_ctes=_SCORED_CTE
)


@query("docs_isotonic", oracle=DOCS_ISOTONIC_SQL)
def q_docs_isotonic(spark, sf_dir):
    """Isotonic (PAV) calibration of the demo classifier against the
    lang=='en' label (operators/classifier.py isotonic_fit): per
    equal-width score bin, the monotone-non-decreasing weighted-least-
    squares fit of the positive rate, via the minimax closed form —
    max_{j≤i} min_{k≥i} avg(j..k) — over exact integer prefix sums.
    One data-proportional hash agg; the O(bins³) candidate triples are
    broadcast-sized (bins=16 here), constant in the data size."""
    return isotonic_fit(
        _scored_with_label(spark, sf_dir), "label", bins=16
    )


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
  SELECT doc_id, list_transform(s, x -> {h28_sql('x')}) AS h FROM sh
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


DOCS_PAGERANK_SQL = pagerank_fixed_sql(
    _pairs_cte() + ",\npr_edges AS (SELECT id_a, id_b FROM pairs)",
    iterations=3,
)


@query("docs_pagerank", oracle=DOCS_PAGERANK_SQL)
def q_docs_pagerank(spark, sf_dir):
    """Fixed-point PageRank over the LSH near-dup candidate graph —
    document centrality for cluster-representative selection
    (operators.graph.pagerank_fixed; integer-exact, so the iterative
    result value-hashes against the chained-CTE oracle)."""
    sigs = minhash_signatures(_t(spark, sf_dir, "documents"))
    return pagerank_fixed(lsh_candidate_pairs(sigs), iterations=3)


_STOP_EN = "[" + ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS) + "]"

_QF_T = "(CAST(n - 1 AS DOUBLE) * 0.25)"

_QF_LO = f"max(CASE WHEN rn = CAST(floor({_QF_T}) AS BIGINT) THEN quality END) OVER (PARTITION BY source)"

_QF_HI = f"max(CASE WHEN rn = CAST(ceil({_QF_T}) AS BIGINT) THEN quality END) OVER (PARTITION BY source)"

_QF_THR = f"{_QF_LO} + ({_QF_HI} - {_QF_LO}) * ({_QF_T} - floor({_QF_T}))"

DOCS_QUALITY_FILTER_SQL = f"""WITH base AS (
  SELECT doc_id, text, source, list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), t -> t <> '') AS t FROM documents
),
comp AS (
  SELECT doc_id, source,
    0.4 * least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)
      + 0.3 * least(CASE WHEN len(t) > 0 THEN CAST(list_sum(list_transform(t, w -> length(w))) AS DOUBLE) / len(t) ELSE 0.0 END / 8.0, 1.0)
      + 0.3 * least(CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, w -> list_contains({_STOP_EN}, w))) AS DOUBLE) / len(t) ELSE 0.0 END / 0.2, 1.0) AS quality
  FROM base
),
ranked AS (
  SELECT doc_id, source, quality,
    row_number() OVER (PARTITION BY source ORDER BY quality) - 1 AS rn,
    count(*) OVER (PARTITION BY source) AS n
  FROM comp
),
thr AS (
  SELECT doc_id, source, quality, {_QF_THR} AS q_threshold FROM ranked
)
SELECT doc_id, source, quality, q_threshold FROM thr WHERE quality >= q_threshold"""


@query("docs_quality_filter", oracle=DOCS_QUALITY_FILTER_SQL)
def q_docs_quality_filter(spark, sf_dir):
    """Curation stage: keep documents at or above their source's p25
    quality — per-stratum quantile filtering in one lineage
    (operators.profile.group_quantile_filter over quality_score)."""
    docs = _t(spark, sf_dir, "documents")
    q = quality_score(docs).select("doc_id", "quality").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return group_quantile_filter(q, "source", "quality", 0.25).select(
        "doc_id", "source", "quality", "q_threshold"
    )


TEXT_NORMALIZE_SQL = """SELECT doc_id,
  trim(regexp_replace(regexp_replace(lower(text || '  X!? ' || source), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text
FROM documents"""


@query("text_normalize", oracle=TEXT_NORMALIZE_SQL)
def q_text_normalize(spark, sf_dir):
    """Canonical cleanup (lowercase / charset strip / whitespace
    collapse) — the normalization stage ahead of tokenizers and dedup
    keys (operators.textops.normalize_text)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.concat(F.col("text"), F.lit("  X!? "), F.col("source"))
    )
    return normalize_text(docs)


WORDS_EXCEPT_ALL_SQL = f"""WITH {_WORDS_CTE},
even AS (SELECT word FROM words WHERE doc_id % 2 = 0),
odd AS (SELECT word FROM words WHERE doc_id % 2 = 1)
SELECT word FROM even EXCEPT ALL SELECT word FROM odd"""


@query("words_except_all", oracle=WORDS_EXCEPT_ALL_SQL)
def q_words_except_all(spark, sf_dir):
    """Multiset difference (EXCEPT ALL): word occurrences in even docs
    minus, per-copy, occurrences in odd docs — bag semantics the plain
    EXCEPT cannot express."""
    words = _words(spark, sf_dir)
    even = words.filter(F.col("doc_id") % 2 == 0).select("word")
    odd = words.filter(F.col("doc_id") % 2 == 1).select("word")
    return even.exceptAll(odd)


#: weighted-sampling normalizer: documents cap out near this length
WEIGHTED_MAX_CHARS = 200.0

SAMPLE_WEIGHTED_SQL = f"""SELECT doc_id, n_chars FROM documents
WHERE CAST({bucket_sql('doc_id', 'wr2')} AS DOUBLE) * {WEIGHTED_MAX_CHARS!r}
  < CAST(n_chars AS DOUBLE) * 10000.0"""


@query("sample_weighted", oracle=SAMPLE_WEIGHTED_SQL)
def q_sample_weighted(spark, sf_dir):
    """Length-proportional document sampling (importance sampling for
    training mixes): keep probability = n_chars / 200, decided by the
    same cross-engine hash as the uniform sampler."""
    docs = _t(spark, sf_dir, "documents")
    return weighted_hash_sample(
        docs, "n_chars", WEIGHTED_MAX_CHARS, "doc_id", salt="wr2"
    ).select("doc_id", "n_chars")


_K_PERMS = len(MINHASH_PERMS)

_MATCH_TERMS = " + ".join(
    f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
    for i in range(_K_PERMS)
)

DEDUP_INCREMENTAL_SQL = f"""WITH {_sigs_cte()},
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
    CAST({_MATCH_TERMS} AS DOUBLE) / {_K_PERMS} AS est_jaccard
  FROM all_pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
),
losers AS (SELECT DISTINCT id_b AS doc_id FROM sims WHERE est_jaccard >= 0.7)
SELECT d.doc_id FROM documents d LEFT JOIN losers l USING (doc_id)
WHERE d.doc_id % 2 = 1 AND l.doc_id IS NULL"""


@query("dedup_incremental", oracle=DEDUP_INCREMENTAL_SQL)
def q_dedup_incremental(spark, sf_dir):
    """Incremental near-dup ingest: odd-id docs arrive as the new batch
    and are deduped against the persisted signatures of the even-id
    corpus (operators.dedup.incremental_minhash_dedup) — surviving
    new-doc ids."""
    docs = _t(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    new_batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_minhash_dedup(
        new_batch, minhash_signatures(existing), threshold=0.7
    )


#: CMS probe words for the sketch query (fixed literals so the
#: Spark and oracle sides are generated from the same list)
CMS_PROBE_WORDS = ["the", "a", "and", "data", "of", "zzz-absent"]

_CMS_INNER = cms_frequencies_sql(
    "(SELECT w FROM (SELECT unnest(regexp_split_to_array(text, '[ \\t\\n\\r]+')) AS w "
    "FROM documents) WHERE w <> '') wq",
    "w",
    CMS_PROBE_WORDS,
)

SKETCH_CMS_WORDS_SQL = _CMS_INNER


@query("sketch_cms_words", oracle=SKETCH_CMS_WORDS_SQL)
def q_sketch_cms(spark, sf_dir):
    """Count-Min frequency estimates for a fixed probe-word list over
    the document token stream (operators.sketch.cms_frequencies)."""
    words = _t(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("w")
    )
    return cms_frequencies(words, "w", CMS_PROBE_WORDS)


_BLOOM_INNER = bloom_membership_sql(
    "SELECT text FROM documents WHERE doc_id % 3 = 0",
    "SELECT doc_id, text FROM documents",
    "text",
    "doc_id",
)

DEDUP_BLOOM_SCREEN_SQL = (
    f"SELECT doc_id, maybe_in_corpus FROM ({_BLOOM_INNER}) bs"
)


@query("dedup_bloom_screen", oracle=DEDUP_BLOOM_SCREEN_SQL)
def q_dedup_bloom_screen(spark, sf_dir):
    """Bloom-filter dedup admission: which documents are possibly
    already in the corpus (doc_id % 3 == 0 slice)? No false negatives;
    the bitmap is KB-sized regardless of corpus size
    (operators.sketch.bloom_membership)."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0).select("text")
    probes = docs.select(F.col("doc_id"), F.col("text"))
    return bloom_membership(corpus, probes, "text", "doc_id").select(
        "doc_id", "maybe_in_corpus"
    )


DOCS_BALANCED_SAMPLE_SQL = balanced_sample_sql(
    "(SELECT doc_id, lang FROM documents) d", "lang", 60, "doc_id"
)


@query("docs_balanced_sample", oracle=DOCS_BALANCED_SAMPLE_SQL)
def q_docs_balanced_sample(spark, sf_dir):
    """Class-balanced corpus downsample: at most 60 documents per
    language by deterministic hash rank
    (operators.sampling.balanced_sample)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return balanced_sample(docs, "lang", 60, "doc_id")


DOCS_CHUNKED_SQL = chunk_documents_sql("documents", chunk=32, overlap=8)


@query("docs_chunked", oracle=DOCS_CHUNKED_SQL)
def q_docs_chunked(spark, sf_dir):
    """Sliding 32-token windows with 8-token overlap over every
    document (operators.chunking.chunk_documents)."""
    return chunk_documents(_t(spark, sf_dir, "documents"), chunk=32, overlap=8)


DOCS_PACKED_SQL = pack_sequences_sql("documents", capacity=256)


@query("docs_packed", oracle=DOCS_PACKED_SQL)
def q_docs_packed(spark, sf_dir):
    """Deterministic concat-packing of documents into 256-token
    training bins via a distributed running token count
    (operators.chunking.pack_sequences)."""
    return pack_sequences(_t(spark, sf_dir, "documents"), capacity=256)


#: decontamination n-gram width (the standard exact-overlap guard)
DECONTAM_NGRAM = 8

TEXT_TERM_STATS_SQL = f"""WITH {_WORDS_CTE},
tf AS (SELECT doc_id, word AS term, count(*) AS tf FROM words GROUP BY 1, 2),
tfd AS (SELECT doc_id, term, tf, count(*) OVER (PARTITION BY term) AS df FROM tf),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tfd.doc_id, tfd.term, tfd.tf, tfd.df, n.n_docs,
  CAST(tfd.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(tfd.df AS DOUBLE)) AS weight
FROM tfd CROSS JOIN n"""


@query("text_term_stats", oracle=TEXT_TERM_STATS_SQL)
def q_term_stats(spark, sf_dir):
    """tf / df / ratio-idf weight per (doc, term) — vocabulary-curation
    statistics (operators.terms.term_stats)."""
    return term_stats(_t(spark, sf_dir, "documents"))


def _grams_sql(g: int) -> str:
    """The list of a doc's word g-grams (space-joined), over toks.t."""
    gram_parts = ", ".join(f"t[i+{j}]" for j in range(g))
    return (
        f"CASE WHEN len(t) >= {g} THEN list_transform(range(1, len(t) - {g - 2}), "
        f"i -> concat_ws(' ', {gram_parts})) ELSE CAST([] AS VARCHAR[]) END"
    )


_GRAMS_EXPR = _grams_sql(DECONTAM_NGRAM)

DOCS_DECONTAMINATE_SQL = f"""WITH {_TOKS_CTE},
split AS (
  SELECT doc_id, t, {bucket_sql('doc_id', 'r2')} AS bucket FROM toks
),
train_grams AS (
  SELECT DISTINCT doc_id, unnest({_GRAMS_EXPR}) AS gram
  FROM split WHERE bucket >= 1000
),
eval_grams AS (
  SELECT DISTINCT unnest({_GRAMS_EXPR}) AS gram
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


@query("docs_decontaminate", oracle=DOCS_DECONTAMINATE_SQL)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: train docs (r2-salted hash split)
    sharing any 8-gram with the eval split, via a distinct-gram join
    (operators.terms.decontaminate)."""
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

# exact-substring decontamination (r10): the same r2-salted split,
# char-level stride-1 windows instead of word n-grams — twin built
# by the operator module so both engines share one recipe
_SUB_BASE = exact_substring_decontaminate_sql(
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

DOCS_SUBSTR_DECONTAMINATE_SQL = f"""SELECT doc_id, n_shared_spans,
  CAST(contaminated AS INTEGER) AS contaminated
FROM ({_SUB_BASE})"""


@query("docs_substr_decontaminate", oracle=DOCS_SUBSTR_DECONTAMINATE_SQL)
def q_docs_substr_decontaminate(spark, sf_dir):
    """Exact-substring decontamination (round 10;
    operators.terms.exact_substring_decontaminate): train docs sharing
    any exact 32-char substring with the eval split — the
    suffix-array-class check (Lee et al. 2021) that catches verbatim
    passages word n-grams split differently. Same r2-salted split as
    docs_decontaminate, so the two entries are directly comparable
    (word-level vs char-level contamination sets)."""
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


# the screened scale path must be value-identical to the stride-1
# operator — same oracle, verbatim (the equivalence proof)
DOCS_SUBSTR_DECONTAMINATE_SCREENED_SQL = DOCS_SUBSTR_DECONTAMINATE_SQL


@query(
    "docs_substr_decontaminate_screened", oracle=DOCS_SUBSTR_DECONTAMINATE_SCREENED_SQL
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


_PAN_FIXTURE_SQL = """SELECT doc_id,
  text || (CASE WHEN doc_id % 5 < 2 THEN ' ' ||
    (CASE WHEN doc_id % 3 = 0 THEN '4532015112830366'
          WHEN doc_id % 3 = 1 THEN '4532 0151 1283 0367'
          ELSE '4111-1111-1111-1111' END)
    ELSE '' END) AS text
FROM documents"""

# Luhn PAN detection (r10): twin built by the operator module over
# the same injected-run fixture
DOCS_PAN_SCAN_SQL = luhn_scan_sql(_PAN_FIXTURE_SQL)


@query("docs_pan_scan", oracle=DOCS_PAN_SCAN_SQL)
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

# URL canonical dedup (r10): same synthetic-URL arithmetic as the
# Spark fixture; canonicalizer + registered-domain twins from
# functions/url.py
DOCS_URL_DEDUP_SQL = f"""WITH urls AS (
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


@query("docs_url_dedup", oracle=DOCS_URL_DEDUP_SQL)
def q_docs_url_dedup(spark, sf_dir):
    """URL-level dedup on the canonical URL with registered-domain
    (eTLD+1) attribution (round 10;
    operators.dedup.url_dedup + functions/url.py): crawl variants of
    the same page — casing, www., default port, trailing slash,
    tracking params, param order — collapse to one survivor per
    canonical URL; `.shop.co.uk` hosts exercise the multi-label
    public-suffix path of registered_domain."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_col().alias("url")
    )
    return url_dedup(docs, "url", "doc_id")


TEXT_VOCAB_SQL = """WITH toks AS (
  SELECT unnest(regexp_split_to_array(text, '[ \\t\\n\\r]+')) AS term FROM documents
)
SELECT term, CAST(count(*) AS BIGINT) AS n_occurrences
FROM toks WHERE term <> ''
GROUP BY term
ORDER BY n_occurrences DESC, term ASC
LIMIT 10"""


@query("text_vocab", oracle=TEXT_VOCAB_SQL)
def q_text_vocab(spark, sf_dir):
    """Top-10 corpus vocabulary (count desc, term asc — deterministic
    at the cut)."""
    return top_vocab(_t(spark, sf_dir, "documents"), 10)


TEXT_OOV_SQL = """WITH tk AS (
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


@query("text_oov", oracle=TEXT_OOV_SQL)
def q_text_oov(spark, sf_dir):
    """Per-doc out-of-vocabulary rate against the broadcast top-10
    vocab — tokenizer-coverage QA for training corpora."""
    docs = _t(spark, sf_dir, "documents")
    return oov_rate(docs, top_vocab(docs, 10))


DOCS_REPETITION_SQL = """WITH toks AS (
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


@query("docs_repetition", oracle=DOCS_REPETITION_SQL)
def q_docs_repetition(spark, sf_dir):
    """Gopher-style repeated-3-gram ratio per document."""
    return ngram_repetition(_t(spark, sf_dir, "documents"), 3)


DOCS_COSINE_PAIRS_SQL = """WITH tk AS (
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


@query("docs_cosine_pairs", oracle=DOCS_COSINE_PAIRS_SQL)
def q_docs_cosine_pairs(spark, sf_dir):
    """Sparse tf-idf cosine near-dup pairs via the inverted-index
    postings bucket join (integer-quantized idf keeps every sum exact,
    so the cosine is bit-deterministic)."""
    return tf_cosine_pairs(_t(spark, sf_dir, "documents"), threshold=0.9)


WORDS_LEV_PAIRS_SQL = f"""WITH {_DWORDS_CTE}
SELECT a.word AS word_a, b.word AS word_b,
  CAST(levenshtein(a.word, b.word) AS INTEGER) AS dist
FROM dwords a JOIN dwords b ON a.word < b.word
WHERE levenshtein(a.word, b.word) <= 2"""


@query("words_lev_pairs", oracle=WORDS_LEV_PAIRS_SQL)
def q_words_lev_pairs(spark, sf_dir):
    """Vocabulary typo/variant pairs within edit distance 2 —
    length-banded blocked join, never O(n²)."""
    return levenshtein_pairs(_dwords(spark, sf_dir), "word", max_dist=2)


DEDUP_MINHASH_EVAL_SQL = f"""WITH {_pairs_cte()},
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


@query("dedup_minhash_eval", oracle=DEDUP_MINHASH_EVAL_SQL)
def q_dedup_minhash_eval(spark, sf_dir):
    """LSH candidate quality vs exact-Jaccard ground truth: one row of
    candidate/truth/hit counts with precision and recall."""
    return minhash_eval(_t(spark, sf_dir, "documents"), jaccard_threshold=0.5)


SPLIT_WEIGHTS = {"eval": 0.05, "test": 0.05, "train": 0.9}

SAMPLE_DOCUMENTS_SQL = (
    "SELECT doc_id, source FROM documents "
    f"WHERE {bucket_sql('doc_id', 'r2')} < 1000"
)


@query("sample_documents", oracle=SAMPLE_DOCUMENTS_SQL)
def q_sample_documents(spark, sf_dir):
    """Deterministic 10% document sample (hash-membership, not RNG —
    reproducible across engines, partitionings, and re-runs)."""
    return hash_sample(
        _t(spark, sf_dir, "documents"), 0.1, "doc_id", salt="r2"
    ).select("doc_id", "source")


# bucket ranges in sorted split-name order: eval [0,500), test
# [500,1000), train [1000,10000) — mirrors sampling.hash_split
SPLIT_DOCUMENTS_SQL = f"""WITH b AS (
  SELECT {bucket_sql('doc_id', 'r2')} AS bucket FROM documents
)
SELECT CASE WHEN bucket < 500 THEN 'eval'
            WHEN bucket < 1000 THEN 'test'
            ELSE 'train' END AS split,
       count(*) AS n_docs
FROM b GROUP BY 1"""


@query("split_documents", oracle=SPLIT_DOCUMENTS_SQL)
def q_split_documents(spark, sf_dir):
    """Disjoint exhaustive train/eval/test assignment from the same
    membership hash; per-split counts as the compact verifiable output."""
    split = hash_split(
        _t(spark, sf_dir, "documents"), SPLIT_WEIGHTS, "doc_id", salt="r2"
    )
    return split.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


WORDS_INTERSECT_SQL = f"""WITH {_WORDS_CTE}
SELECT word FROM words WHERE doc_id % 2 = 0
INTERSECT
SELECT word FROM words WHERE doc_id % 2 = 1"""


@query("words_intersect", oracle=WORDS_INTERSECT_SQL)
def q_words_intersect(spark, sf_dir):
    # set op (§2.8): words appearing in BOTH even- and odd-id documents
    words = _words(spark, sf_dir)
    even = words.filter(F.col("doc_id") % 2 == 0).select("word")
    odd = words.filter(F.col("doc_id") % 2 == 1).select("word")
    return even.intersect(odd)


WORDS_EXCEPT_SQL = f"""WITH {_WORDS_CTE}
SELECT word FROM words
EXCEPT
SELECT word FROM words WHERE doc_id = 0"""


@query("words_except", oracle=WORDS_EXCEPT_SQL)
def q_words_except(spark, sf_dir):
    # set op (§2.8): corpus vocabulary EXCEPT the words of document 0.
    # (Asymmetric by construction — any even/odd doc split covers the
    # full vocabulary on both sides and EXCEPTs to the empty set, which
    # would verify nothing.)
    words = _words(spark, sf_dir)
    all_words = words.select("word")
    doc0 = words.filter(F.col("doc_id") == 0).select("word")
    return all_words.subtract(doc0)  # EXCEPT DISTINCT, matching SQL EXCEPT


DEDUP_EXACT_SQL = (
    "SELECT min(doc_id) AS doc_id, md5(text) AS content_md5 FROM documents GROUP BY md5(text)"
)


@query("dedup_exact", oracle=DEDUP_EXACT_SQL)
def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_t(spark, sf_dir, "documents")).select("doc_id", "content_md5")


_MH_NAMES = ", ".join(f"mh_{i}" for i in range(len(MINHASH_PERMS)))

DEDUP_MINHASH_SIGS_SQL = f"WITH {_sigs_cte()} SELECT doc_id, {_MH_NAMES} FROM sigs"


@query("dedup_minhash_sigs", oracle=DEDUP_MINHASH_SIGS_SQL)
def q_minhash_sigs(spark, sf_dir):
    return minhash_signatures(_t(spark, sf_dir, "documents"))


DEDUP_MINHASH_PAIRS_SQL = f"WITH {_pairs_cte()} SELECT id_a, id_b FROM pairs"


@query("dedup_minhash_pairs", oracle=DEDUP_MINHASH_PAIRS_SQL)
def q_minhash_pairs(spark, sf_dir):
    return lsh_candidate_pairs(minhash_signatures(_t(spark, sf_dir, "documents")))


DEDUP_NGRAM_JACCARD_SQL = f"""WITH {_pairs_cte()},
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


@query("dedup_ngram_jaccard", oracle=DEDUP_NGRAM_JACCARD_SQL)
def q_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    return ngram_jaccard(docs, pairs).filter(F.col("jaccard") >= 0.5)


def _h32_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"


def _simhash_terms() -> str:
    terms = []
    for j in range(32):
        terms.append(
            f"CASE WHEN 2 * SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE 0 END) - COUNT(*) > 0 "
            f"THEN CAST(1 AS BIGINT) << {j} ELSE 0 END"
        )
    return " + ".join(terms)


DEDUP_SIMHASH_SQL = f"""WITH {_TOKS_CTE},
tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
h AS (SELECT doc_id, {_h32_sql('w')} AS hv FROM tok),
agg AS (SELECT doc_id, CAST({_simhash_terms()} AS BIGINT) AS sh FROM h GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(a.sh, 0) AS BIGINT) AS simhash
FROM documents d LEFT JOIN agg a USING (doc_id)"""


@query("dedup_simhash", oracle=DEDUP_SIMHASH_SQL)
def q_simhash(spark, sf_dir):
    return simhash(_t(spark, sf_dir, "documents"))


DEDUP_SIMHASH_PAIRS_SQL = f"""WITH {_TOKS_CTE},
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


@query("dedup_simhash_pairs", oracle=DEDUP_SIMHASH_PAIRS_SQL)
def q_simhash_pairs(spark, sf_dir):
    fps = simhash(_t(spark, sf_dir, "documents"))
    return simhash_near_dup_pairs(fps, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


DEDUP_MINHASH_SURVIVORS_SQL = f"""WITH {_pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({_MATCH_TERMS} AS DOUBLE) / {_K_PERMS} AS est_jaccard
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
),
losers AS (SELECT DISTINCT id_b AS doc_id FROM sims WHERE est_jaccard >= 0.7)
SELECT d.doc_id FROM documents d LEFT JOIN losers l USING (doc_id) WHERE l.doc_id IS NULL"""


@query("dedup_minhash_survivors", oracle=DEDUP_MINHASH_SURVIVORS_SQL)
def q_minhash_survivors(spark, sf_dir):
    return minhash_dedup(_t(spark, sf_dir, "documents"), threshold=0.7)


# transitive (connected-components) variant: the oracle states the
# fixpoint directly — comp(v) = min id reachable from v — as a
# recursive CTE, independent of the Spark loop's iteration count
DEDUP_MINHASH_CC_SQL = f"""WITH RECURSIVE {_pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({_MATCH_TERMS} AS DOUBLE) / {_K_PERMS} AS est_jaccard
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


@query("dedup_minhash_cc", oracle=DEDUP_MINHASH_CC_SQL)
def q_dedup_minhash_cc(spark, sf_dir):
    return minhash_dedup_cc(_t(spark, sf_dir, "documents"), threshold=0.7)


TEXT_TOKEN_COUNT_SQL = f"""SELECT doc_id,
  CAST(len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), t -> t <> '')) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS BIGINT) AS n_pieces
FROM documents"""


@query("text_token_count", oracle=TEXT_TOKEN_COUNT_SQL)
def q_text_token_count(spark, sf_dir):
    return token_count(_t(spark, sf_dir, "documents"))


TEXT_QUALITY_SQL = f"""WITH base AS (
  SELECT doc_id, text, list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), t -> t <> '') AS t FROM documents
),
comp AS (
  SELECT doc_id,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(t) AS BIGINT) AS n_tokens,
    CASE WHEN len(t) > 0 THEN CAST(list_sum(list_transform(t, w -> length(w))) AS DOUBLE) / len(t) ELSE 0.0 END AS mean_token_len,
    CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, w -> list_contains({_STOP_EN}, w))) AS DOUBLE) / len(t) ELSE 0.0 END AS stopword_ratio
  FROM base
)
SELECT doc_id, n_chars, n_tokens, mean_token_len, stopword_ratio,
  0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
      + 0.3 * least(mean_token_len / 8.0, 1.0)
      + 0.3 * least(stopword_ratio / 0.2, 1.0) AS quality
FROM comp"""


@query("text_quality", oracle=TEXT_QUALITY_SQL)
def q_text_quality(spark, sf_dir):
    return quality_score(_t(spark, sf_dir, "documents"))


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


_SCORE_COLS, _PRED = _langid_scores()

TEXT_LANGID_SQL = f"""WITH {_TOKS_CTE},
scored AS (
  SELECT doc_id,
    {_SCORE_COLS}
  FROM toks
)
SELECT doc_id, score_de, score_en, score_es, score_fr,
  {_PRED} AS lang_pred
FROM scored"""


@query("text_langid", oracle=TEXT_LANGID_SQL)
def q_text_langid(spark, sf_dir):
    return lang_id(_t(spark, sf_dir, "documents"))


TEXT_FINGERPRINT_SQL = f"""WITH {_TOKS_CTE},
pos AS (
  SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t) + 1)) AS p FROM toks
),
terms AS (
  SELECT doc_id, ((p * {FINGERPRINT_K}) % {MERSENNE_P}) * {h28_sql('w')} % {MERSENNE_P} AS term FROM pos
),
agg AS (SELECT doc_id, SUM(term) % {MERSENNE_P} AS fp FROM terms GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(a.fp, 0) AS BIGINT) AS fingerprint
FROM documents d LEFT JOIN agg a USING (doc_id)"""


@query("text_fingerprint", oracle=TEXT_FINGERPRINT_SQL)
def q_text_fingerprint(spark, sf_dir):
    return fingerprint(_t(spark, sf_dir, "documents"))


MULTIMODAL_META_SQL = f"""SELECT doc_id AS media_id,
  CAST(strlen(text) AS BIGINT) AS n_bytes,
  (['jpeg', 'png', 'webp'])[(strlen(text) % 3) + 1] AS format,
  CAST(64 + strlen(text) % 512 AS INTEGER) AS width,
  CAST(64 + (strlen(text) * 31) % 512 AS INTEGER) AS height
FROM documents"""


@query("multimodal_meta", oracle=MULTIMODAL_META_SQL)
def q_multimodal_meta(spark, sf_dir):
    _ensure_pkg(spark)
    return decode_metadata(media_from_documents(_t(spark, sf_dir, "documents")))


MULTIMODAL_FRAME_COUNT_SQL = """SELECT doc_id AS media_id,
  CAST(least(4, greatest(1, strlen(text) // 32)) AS BIGINT) AS n_frames
FROM documents"""


@query("multimodal_frame_count", oracle=MULTIMODAL_FRAME_COUNT_SQL)
def q_multimodal_frame_count(spark, sf_dir):
    _ensure_pkg(spark)
    frames = sample_frames(media_from_documents(_t(spark, sf_dir, "documents")))
    return frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames"))


DOCS_UNIGRAM_LOGPROB_SQL = f"""WITH {_WORDS_CTE},
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


@query("docs_unigram_logprob", oracle=DOCS_UNIGRAM_LOGPROB_SQL)
def q_docs_unigram_logprob(spark, sf_dir):
    """Per-document average unigram log-likelihood under the corpus LM
    (cheap fluency/quality score; determinism via per-TERM rounded ln
    + decimal-exact per-doc sums)."""
    return unigram_logprob(_t(spark, sf_dir, "documents"))


#: per-language target mixture for docs_mix_resample — chosen to keep
#: all of the smallest stratum while thinning the dominant one; the
#: SQL twin is generated from this same dict.
MIX_RATES: dict[str, float] = {"en": 0.5, "de": 1.0, "es": 0.75, "fr": 0.25, "zh": 0.1}

_STOPS_IN = "(" + ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS) + ")"

DOCS_GOPHER_FILTER_SQL = f"""WITH {_WORDS_CTE},
agg AS (
  SELECT doc_id, count(*) AS n_tokens, SUM(len(word)) AS sum_len,
    SUM(CASE WHEN regexp_matches(word, '[a-zA-Z]') THEN 1 ELSE 0 END) AS n_alpha,
    SUM(CASE WHEN regexp_matches(word, '[^a-zA-Z0-9]') THEN 1 ELSE 0 END) AS n_sym,
    SUM(CASE WHEN word IN {_STOPS_IN} THEN 1 ELSE 0 END) AS n_stop
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


@query("docs_gopher_filter", oracle=DOCS_GOPHER_FILTER_SQL)
def q_docs_gopher_filter(spark, sf_dir):
    """Gopher-style rule-based quality filter: per-doc metrics, one
    flag per rule, conjunctive keep decision
    (operators.textops.gopher_rules; Rae et al. 2021 §A.1.1)."""
    return gopher_rules(_t(spark, sf_dir, "documents"))


_MIX_CASES = " ".join(
    f"WHEN lang = '{v}' THEN {int(r * 10_000)}"
    for v, r in sorted(MIX_RATES.items())
)

DOCS_MIX_RESAMPLE_SQL = f"""SELECT doc_id, lang, source FROM documents
WHERE {bucket_sql('doc_id', 'mix')} < CASE {_MIX_CASES} ELSE 0 END"""


@query("docs_mix_resample", oracle=DOCS_MIX_RESAMPLE_SQL)
def q_docs_mix_resample(spark, sf_dir):
    """Domain-mixture construction: per-language deterministic
    hash-sampling to target rates — downsample the dominant language,
    keep rare ones (operators.sampling.stratified_hash_sample)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_hash_sample(docs, "lang", MIX_RATES, "doc_id", salt="mix")


_GRAMS5 = _grams_sql(5)

DOCS_DUP_GRAMS_SQL = f"""WITH {_TOKS_CTE},
grams AS (SELECT DISTINCT doc_id, unnest({_GRAMS5}) AS gram FROM toks),
gd AS (SELECT doc_id, count(*) OVER (PARTITION BY gram) AS gdf FROM grams)
SELECT doc_id, count(*) AS n_grams,
  CAST(SUM(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
  CAST(SUM(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_fraction
FROM gd GROUP BY doc_id"""


@query("docs_dup_grams", oracle=DOCS_DUP_GRAMS_SQL)
def q_docs_dup_grams(spark, sf_dir):
    """Per-document corpus-duplicate 5-gram fraction — span-level
    boilerplate detection complementing whole-doc MinHash
    (operators.terms.dup_gram_stats)."""
    return dup_gram_stats(_t(spark, sf_dir, "documents"), n=5)


DOCS_BIGRAM_LOGPROB_SQL = f"""WITH {_TOKS_CTE},
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


@query("docs_bigram_logprob", oracle=DOCS_BIGRAM_LOGPROB_SQL)
def q_docs_bigram_logprob(spark, sf_dir):
    """Per-document average bigram conditional log-likelihood under the
    corpus's own bigram LM — order-sensitive fluency scoring
    (operators.terms.bigram_logprob)."""
    return bigram_logprob(_t(spark, sf_dir, "documents"))


DOCS_BPE_PAIRS_SQL = f"""WITH {_WORDS_CTE},
vocab AS (SELECT word AS term, count(*) AS freq FROM words GROUP BY 1),
pr AS (SELECT substr(term, i, 2) AS pair, freq
       FROM (SELECT term, freq, unnest(range(1, len(term))) AS i FROM vocab
             WHERE len(term) >= 2))
SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
FROM pr GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20"""


@query("docs_bpe_pairs", oracle=DOCS_BPE_PAIRS_SQL)
def q_docs_bpe_pairs(spark, sf_dir):
    """Top-20 adjacent character-pair frequencies over the vocabulary —
    the count table for one BPE merge step, tokenizer-training support
    (operators.terms.bpe_pair_counts)."""
    return bpe_pair_counts(_t(spark, sf_dir, "documents"), k=20)


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


#: fixed deterministic demo weights for the scoring registration:
#: w_i = ((i*37) % 21 - 10) / 10  in [-1.0, 1.0]
LOGREG_WEIGHTS = [((i * 37) % 21 - 10) / 10.0 for i in range(LOGREG_DIM)]

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

DOCS_LINE_DEDUP_SQL = f"""WITH {_LINES_CTE}
SELECT doc_id, text FROM ld"""


@query("docs_line_dedup", oracle=DOCS_LINE_DEDUP_SQL)
def q_docs_line_dedup(spark, sf_dir):
    """Corpus-duplicate line removal (operators.dedup.dedup_duplicate_lines).
    Testdata texts are single-line, which exercises the degenerate-but-
    valid case: exact-duplicate texts across >=2 docs scrub entirely."""
    return dedup_duplicate_lines(_t(spark, sf_dir, "documents"), min_docs=2)


DOCS_DUP_SPAN_REMOVED_SQL = """WITH toks0 AS (
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


@query("docs_dup_span_removed", oracle=DOCS_DUP_SPAN_REMOVED_SQL)
def q_docs_dup_span_removed(spark, sf_dir):
    """Exact-substring span removal at 5-gram granularity
    (operators.terms.remove_dup_gram_spans)."""
    return remove_dup_gram_spans(_t(spark, sf_dir, "documents"), n=5)


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

DOCS_TEMPERATURE_RATES_SQL = f"""WITH {_TEMP_RATES_CTE}
SELECT stratum, n_docs, rate FROM rates"""


@query("docs_temperature_rates", oracle=DOCS_TEMPERATURE_RATES_SQL)
def q_docs_temperature_rates(spark, sf_dir):
    """Per-language temperature-mixture sampling rates, alpha=0.7
    (operators.sampling.temperature_rates)."""
    return temperature_rates(_t(spark, sf_dir, "documents"), "lang", 0.7)


DOCS_TEMPERATURE_RESAMPLE_SQL = f"""WITH {_TEMP_RATES_CTE},
thr AS (
  SELECT stratum, CAST(floor(rate * 10000) AS BIGINT) AS thr FROM rates
)
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d LEFT JOIN thr t ON d.lang IS NOT DISTINCT FROM t.stratum
WHERE {bucket_sql('doc_id', '')} < coalesce(t.thr, 0)"""


@query("docs_temperature_resample", oracle=DOCS_TEMPERATURE_RESAMPLE_SQL)
def q_docs_temperature_resample(spark, sf_dir):
    """Deterministic resample to the alpha=0.7 temperature mixture
    (operators.sampling.temperature_resample)."""
    return temperature_resample(
        _t(spark, sf_dir, "documents"), "lang", "doc_id", alpha=0.7
    )


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


DOCS_DSIR_WEIGHTS_SQL = (
    _dsir_weights_sql() + "\nSELECT doc_id, n_grams, logweight FROM w"
)


@query("docs_dsir_weights", oracle=DOCS_DSIR_WEIGHTS_SQL)
def q_docs_dsir_weights(spark, sf_dir):
    """DSIR importance log-weights of every doc against the English
    slice as target (operators.sampling.importance_weights)."""
    docs = _t(spark, sf_dir, "documents")
    return importance_weights(docs, docs.filter(F.col("lang") == "en"))


DOCS_DSIR_TOPK_SQL = (
    _dsir_weights_sql()
    + "\nSELECT doc_id, n_grams, logweight FROM w"
    + "\nORDER BY logweight DESC, doc_id ASC LIMIT 25"
)


@query("docs_dsir_topk", oracle=DOCS_DSIR_TOPK_SQL)
def q_docs_dsir_topk(spark, sf_dir):
    """Deterministic top-25 DSIR selection
    (operators.sampling.importance_resample)."""
    docs = _t(spark, sf_dir, "documents")
    return importance_resample(docs, docs.filter(F.col("lang") == "en"), k=25)


DOCS_TOP_KEYWORDS_SQL = """WITH words AS (
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


@query("docs_top_keywords", oracle=DOCS_TOP_KEYWORDS_SQL)
def q_docs_top_keywords(spark, sf_dir):
    """Top-3 ratio-idf keywords per document
    (operators.terms.top_keywords)."""
    return top_keywords(_t(spark, sf_dir, "documents"), k=3)


DOCS_REDACT_SQL = """SELECT doc_id,
  regexp_replace(
    regexp_replace(text, '[0-9]+', '<num>', 'g'),
    '[A-Z][A-Z]+', '<shout>', 'g') AS redacted,
  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
  CAST(len(regexp_extract_all(
    regexp_replace(text, '[0-9]+', '<num>', 'g'),
    '[A-Z][A-Z]+')) AS BIGINT) AS n_shout
FROM documents"""


@query("docs_redact", oracle=DOCS_REDACT_SQL)
def q_docs_redact(spark, sf_dir):
    """Two-class redaction (digit runs, shouted words) with per-class
    match counts (operators.textops.redact_patterns)."""
    return redact_patterns(
        _t(spark, sf_dir, "documents"),
        "text",
        {"num": "[0-9]+", "shout": "[A-Z][A-Z]+"},
    )


DEDUP_KEEP_BEST_SQL = f"""WITH RECURSIVE {_pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({_MATCH_TERMS} AS DOUBLE) / {_K_PERMS} AS est_jaccard
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
               w -> list_contains({_STOP_EN}, w))) AS DOUBLE)
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


@query("dedup_keep_best", oracle=DEDUP_KEEP_BEST_SQL)
def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware near-dup survivor selection: highest quality_score
    per connected component wins
    (operators.components.keep_best_per_component)."""
    docs = _t(spark, sf_dir, "documents")
    return keep_best_per_component(
        docs, quality_score(docs), score_col="quality", threshold=0.7
    )


DOCS_HASHED_FEATURES_SQL = f"""WITH {_FEAT_CTE}
SELECT doc_id, idx, val FROM fv"""


@query("docs_hashed_features", oracle=DOCS_HASHED_FEATURES_SQL)
def q_docs_hashed_features(spark, sf_dir):
    """Hashed bag-of-words tf features, exploded to (doc, idx, val)
    rows (operators.classifier.hashed_features)."""
    feats = hashed_features(_t(spark, sf_dir, "documents"), dim=LOGREG_DIM)
    return feats.select(
        "doc_id", F.explode("feats").alias("p")
    ).select("doc_id", F.col("p.idx").alias("idx"), F.col("p.val").alias("val"))


# w_i = ((i*37) % 21 - 10) / 10.0 — exactly LOGREG_WEIGHTS. The
# ordered sum replays Spark's sequential idx-ordered fold.
DOCS_LOGREG_SCORE_SQL = f"""WITH {_FEAT_CTE},
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


@query("docs_logreg_score", oracle=DOCS_LOGREG_SCORE_SQL)
def q_docs_logreg_score(spark, sf_dir):
    """Classifier scoring under the fixed demo weight vector
    (operators.classifier.logreg_score); probability rounded to 6
    decimals — the margin is a sequential idx-ordered fold on both
    engines, so the rounding is belt-and-braces."""
    feats = hashed_features(_t(spark, sf_dir, "documents"), dim=LOGREG_DIM)
    scored = logreg_score(feats, LOGREG_WEIGHTS, 0.0)
    return scored.select(
        "doc_id", F.round("quality_prob", 6).alias("quality_prob")
    )


# BPE roundtrip oracle (r5): decode(encode(term)) == term for every
# token occurrence — predictable from the token stream alone.
DOCS_BPE_ENCODE_SQL = """SELECT doc_id, term, term AS decoded
FROM (
  SELECT doc_id,
         unnest(list_filter(
           regexp_split_to_array(text, '[ \\t\\n\\r]+'), t -> t <> ''
         )) AS term
  FROM documents
)"""


@query("docs_bpe_encode", oracle=DOCS_BPE_ENCODE_SQL)
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
    docs = _t(spark, sf_dir, "documents")
    enc = bpe_encode(docs, bpe_train_local(docs, num_merges=8))
    return enc.select(
        "doc_id", "term", F.concat_ws("", "pieces").alias("decoded")
    )


DOCS_TRIGRAM_BACKOFF_SQL = f"""WITH toks AS (
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


@query("docs_trigram_backoff", oracle=DOCS_TRIGRAM_BACKOFF_SQL)
def q_docs_trigram_backoff(spark, sf_dir):
    """Stupid-Backoff trigram LM scoring with a held-out LM half
    (operators.terms.trigram_backoff_logprob): the LM trains on the
    hash-split half of the corpus and scores the other half, so all
    three backoff tiers genuinely fire."""
    docs = _t(spark, sf_dir, "documents")
    bkt = _bucket(F.col("doc_id"), "lm")
    return trigram_backoff_logprob(
        docs.where(bkt >= 5000), docs.where(bkt < 5000)
    )


DOCS_CHAR_ENTROPY_SQL = """WITH pos AS (
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


@query("docs_char_entropy", oracle=DOCS_CHAR_ENTROPY_SQL)
def q_docs_char_entropy(spark, sf_dir):
    """Per-document character Shannon entropy — the gibberish/binary
    junk screen (operators.textops.char_entropy)."""
    return char_entropy(_t(spark, sf_dir, "documents"))


DOCS_CURATED_SQL = f"""WITH {_LINES_CTE},
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
    SUM(CASE WHEN word IN {_STOPS_IN} THEN 1 ELSE 0 END) AS n_stop
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


@query("docs_curated", oracle=DOCS_CURATED_SQL)
def q_docs_curated(spark, sf_dir):
    """The composed curation chain (pipeline.curate.curate_corpus):
    line dedup -> Gopher gate -> exact dedup (redaction and mixture off
    so the oracle stays a pure stage-twin chain)."""
    return curate_corpus(_t(spark, sf_dir, "documents"))


DOCS_SOURCE_CAP_SQL = source_cap_sql("documents", "source", "doc_id", 10)


@query("docs_source_cap", oracle=DOCS_SOURCE_CAP_SQL)
def q_docs_source_cap(spark, sf_dir):
    """Per-source document cap at 10 docs/source, deterministic by
    content-hash order (operators.sampling.source_cap)."""
    return source_cap(_t(spark, sf_dir, "documents"), "source", "doc_id", cap=10)


DOCS_PPL_BUCKETS_SQL = f"""WITH {_WORDS_CTE},
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


@query("docs_ppl_buckets", oracle=DOCS_PPL_BUCKETS_SQL)
def q_docs_ppl_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail pacing buckets per language by
    unigram log-likelihood (operators.terms.ppl_pacing_buckets)."""
    return ppl_pacing_buckets(_t(spark, sf_dir, "documents"), buckets=3)


def _scored_with_label(spark, sf_dir):
    """Demo-weight logreg probabilities joined with the lang=='en'
    label — the shared input of the ML-eval registrations."""
    docs = _t(spark, sf_dir, "documents")
    feats = hashed_features(docs, dim=LOGREG_DIM)
    scored = logreg_score(feats, LOGREG_WEIGHTS, 0.0).select(
        "doc_id", F.round("quality_prob", 6).alias("quality_prob")
    )
    return scored.join(
        docs.select("doc_id", (F.col("lang") == "en").alias("label")),
        "doc_id",
    )


DOCS_CLF_REPORT_SQL = f"""WITH {_SCORED_CTE},
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


@query("docs_clf_report", oracle=DOCS_CLF_REPORT_SQL)
def q_docs_clf_report(spark, sf_dir):
    """Confusion matrix + precision/recall/F1/accuracy of the demo
    classifier against the lang=='en' label at threshold 0.5 — one
    aggregation pass (operators.classifier.classification_report)."""
    return classification_report(
        _scored_with_label(spark, sf_dir), "label", threshold=0.5
    )


DOCS_CALIBRATION_SQL = f"""WITH {_SCORED_CTE},
binned AS (
  SELECT p, lab, LEAST(9, CAST(FLOOR(p * 10.0) AS INTEGER)) AS bin FROM scored
)
SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
  round({split_cast_double_sql("SUM(CAST(round(p, 6) AS DECIMAL(16,6)))", 6)} / COUNT(*), 9) AS mean_prob,
  round(SUM(CASE WHEN lab THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 9) AS pos_rate
FROM binned GROUP BY bin"""


@query("docs_calibration", oracle=DOCS_CALIBRATION_SQL)
def q_docs_calibration(spark, sf_dir):
    """Reliability-diagram table: equal-width probability bins, mean
    predicted probability vs observed positive rate
    (operators.classifier.calibration_bins)."""
    return calibration_bins(_scored_with_label(spark, sf_dir), "label")


DOCS_OVERVIEW_SQL = """WITH dups AS (
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


@query("docs_overview", oracle=DOCS_OVERVIEW_SQL)
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


DOCS_HAPAX_RATIO_SQL = f"""WITH {_WORDS_CTE},
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


@query("docs_hapax_ratio", oracle=DOCS_HAPAX_RATIO_SQL)
def q_docs_hapax_ratio(spark, sf_dir):
    """Per-document hapax share: the fraction of a doc's tokens that
    are corpus hapax legomena (tf = 1) — high shares flag noise/OCR
    junk, zero shares flag boilerplate; the doc-level companion of
    words_freq_of_freqs. Hapax set joins broadcast (it is
    vocabulary-sized)."""
    words = _words(spark, sf_dir)
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


DOCS_FRESHNESS_SQL = """WITH per AS (
  SELECT source, COUNT(*) AS n_docs, MAX(doc_id) AS newest_id
  FROM documents GROUP BY source
),
mx AS (SELECT MAX(newest_id) AS gmax FROM per)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(newest_id AS BIGINT) AS newest_id,
  CAST(gmax - newest_id AS BIGINT) AS lag
FROM per CROSS JOIN mx"""


@query("docs_freshness", oracle=DOCS_FRESHNESS_SQL)
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


WORDS_FREQ_OF_FREQS_SQL = f"""WITH {_WORDS_CTE},
tf AS (SELECT word, COUNT(*) AS c FROM words GROUP BY word)
SELECT CAST(c AS BIGINT) AS c, CAST(COUNT(*) AS BIGINT) AS n_words
FROM tf GROUP BY c"""


@query("words_freq_of_freqs", oracle=WORDS_FREQ_OF_FREQS_SQL)
def q_words_freq_of_freqs(spark, sf_dir):
    """Frequency-of-frequencies over the vocabulary (how many words
    occur exactly c times) — the Good-Turing smoothing input and the
    standard vocabulary-health profile. Two hash-aggs, nothing else."""
    words = _words(spark, sf_dir)
    tf = words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    return tf.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words")
    ).select(F.col("c").cast("bigint").alias("c"), "n_words")


WORDS_COLLOCATIONS_SQL = f"""WITH {_WORDS_CTE},
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


@query("words_collocations", oracle=WORDS_COLLOCATIONS_SQL)
def q_words_collocations(spark, sf_dir):
    """Top-25 collocations by PMI over adjacent word bigrams (min
    count 5): ln(N·c(ab)/(c(a)·c(b))) with the rounded-ln recipe —
    the phrase-extraction staple (char-pair BPE counts live in
    docs_bpe_pairs; this is the WORD-level statistical test)."""
    words = _words(spark, sf_dir)
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

    return registers(
        scored.orderBy(
            F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
        ).limit(25),
        uni,
    )


# mirrors bm25_scores shape for shape: one rounded ln per query
# term, every contribution a correctly-rounded double chain with
# identical literals, decimal-exact per-doc sums
DOCS_BM25_SQL = f"""WITH {_WORDS_CTE},
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

DOCS_RANK_FUSION_SQL = f"""WITH bm AS (
{DOCS_BM25_SQL}
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


@query("docs_rank_fusion", oracle=DOCS_RANK_FUSION_SQL)
def q_docs_rank_fusion(spark, sf_dir):
    """Reciprocal Rank Fusion of the BM25 keyword ranking with a
    second ranking signal (document length standing in for the
    popularity/recency list a production hybrid fuses) — top-20 by
    RRF score (operators.similarity.rank_fusion)."""
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


# same recursive-CTE fixpoint as the dedup_minhash_cc oracle, with
# the histogram tail instead of the survivor anti-join; isolated
# docs are singleton clusters (size 1) by definition
DEDUP_CLUSTER_SIZES_SQL = f"""WITH RECURSIVE {_pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({_MATCH_TERMS} AS DOUBLE) / {_K_PERMS} AS est_jaccard
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


@query("dedup_cluster_sizes", oracle=DEDUP_CLUSTER_SIZES_SQL)
def q_dedup_cluster_sizes(spark, sf_dir):
    """Near-dup cluster-size histogram — the corpus-health readout of
    the transitive MinHash dedup (how much of the corpus sits in
    2-clusters vs mega-clusters): connected components of the
    est-Jaccard ≥ 0.7 graph, sizes, then (size → n_clusters)."""
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


WORDS_TRIGRAM_FUZZY_SQL = f"""WITH {_DWORDS_CTE},
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


@query("words_trigram_fuzzy", oracle=WORDS_TRIGRAM_FUZZY_SQL)
def q_words_trigram_fuzzy(spark, sf_dir):
    """Trigram-posting-blocked fuzzy pairs over the vocabulary
    (operators.dedup.trigram_fuzzy_pairs) — the scalable blocking
    complement to the exhaustive length-band levenshtein_pairs."""
    return trigram_fuzzy_pairs(_dwords(spark, sf_dir), "word", max_dist=2)


DOCS_PSI_DRIFT_SQL = psi_sql(
    "(SELECT * FROM documents WHERE lang = 'en')",
    "(SELECT * FROM documents WHERE lang <> 'en')",
    "n_chars",
)


@query("docs_psi_drift", oracle=DOCS_PSI_DRIFT_SQL)
def q_docs_psi_drift(spark, sf_dir):
    """Distribution-drift monitor: PSI of document length between the
    English slice and the rest of the corpus
    (operators.profile.psi)."""
    docs = _t(spark, sf_dir, "documents")
    return psi(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
        "n_chars",
    )


DOCS_AUC_SQL = f"""WITH {_SCORED_CTE},
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


@query("docs_auc", oracle=DOCS_AUC_SQL)
def q_docs_auc(spark, sf_dir):
    """Exact ROC-AUC of the demo classifier against the lang=='en'
    label — rank-sum over DISTINCT-SCORE buckets so the only global
    window is bucket-table-sized (operators.classifier.roc_auc)."""
    return roc_auc(_scored_with_label(spark, sf_dir), "label")


SNAPSHOT_ROW_DIFF_SQL = f"""WITH {_WORDS_CTE},
odd AS (SELECT DISTINCT word FROM words WHERE doc_id % 2 = 1)
SELECT 'v2-' || word AS preimage, 'sha256' AS algorithm, 'insert' AS change
FROM odd"""


@query("snapshot_row_diff", oracle=SNAPSHOT_ROW_DIFF_SQL)
def q_snapshot_row_diff(spark, sf_dir):
    """Row-level change data feed between two snapshots: the appended
    odd-doc vocabulary must surface as exactly the insert set
    (pipeline/snapshot.snapshot_row_diff over the same build → snap →
    append → snap round trip as snapshot_time_travel)."""

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


@query("docs_bm25", oracle=DOCS_BM25_SQL)
def q_docs_bm25(spark, sf_dir):
    """Okapi BM25 keyword relevance ('scan join window' query) over
    the corpus (operators.terms.bm25_scores) — rounded-ln idf,
    decimal-exact contribution sums."""
    return bm25_scores(
        _t(spark, sf_dir, "documents"), ["scan", "join", "window"]
    )


MULTIMODAL_DEDUP_SQL = """WITH media AS (
  SELECT doc_id AS media_id, encode(text) AS payload FROM documents
)
SELECT MIN(media_id) AS keep_id, COUNT(*) AS n_members,
       CAST(octet_length(ANY_VALUE(payload)) AS BIGINT) AS payload_bytes
FROM media GROUP BY payload"""


@query("multimodal_dedup", oracle=MULTIMODAL_DEDUP_SQL)
def q_multimodal_dedup(spark, sf_dir):
    """Exact binary dedup of media payloads by sha256-digest grouping
    (operators.multimodal.dedup_media); the oracle groups on payload
    equality directly — identical classes, digest-free output."""
    return dedup_media(media_from_documents(_t(spark, sf_dir, "documents")))


SNAPSHOT_TIME_TRAVEL_SQL = f"""WITH {_WORDS_CTE},
even AS (SELECT DISTINCT word FROM words WHERE doc_id % 2 = 0)
SELECT sha256(word) AS hash_hex, word AS preimage, 'sha256' AS algorithm
FROM even"""


@query("snapshot_time_travel", oracle=SNAPSHOT_TIME_TRAVEL_SQL)
def q_snapshot_time_travel(spark, sf_dir):
    """Pipeline round trip through the snapshot layer: build the
    even-doc vocabulary, snapshot v1, append the odd-doc vocabulary,
    then TIME-TRAVEL back to v1 — the result must be exactly the
    even-doc build (pipeline/snapshot.py read_snapshot; the append's
    swap retires v1's files by rename)."""

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


DOCS_POSTINGS_STATS_SQL = postings_stats_sql("documents", top=20)


@query("docs_postings_stats", oracle=DOCS_POSTINGS_STATS_SQL)
def q_docs_postings_stats(spark, sf_dir):
    """Positional inverted index statistics: top-20 terms by document
    frequency (operators/search.py postings_stats)."""
    return postings_stats(_t(spark, sf_dir, "documents"), top=20)


DOCS_PHRASE_SEARCH_SQL = phrase_search_sql("documents", "order fast")


@query("docs_phrase_search", oracle=DOCS_PHRASE_SEARCH_SQL)
def q_docs_phrase_search(spark, sf_dir):
    """Exact phrase matching via positional-postings joins — no text
    rescan (operators/search.py phrase_search). Phrase chosen for
    non-trivial hit count in the synthetic corpus."""
    return phrase_search(_t(spark, sf_dir, "documents"), "order fast")


DOCS_WINNOWING_SQL = winnow_fingerprints_sql("documents", k=3, w=4)


@query("docs_winnowing", oracle=DOCS_WINNOWING_SQL)
def q_docs_winnowing(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al.): windowed-min shingle
    hashes, the position-robust dedup fingerprint
    (operators/textops.py winnow_fingerprints)."""
    return winnow_fingerprints(_t(spark, sf_dir, "documents"), k=3, w=4)


DOCS_TOKEN_BUDGET_SQL = token_budget_select_sql("documents", budget=5000)


@query("docs_token_budget", oracle=DOCS_TOKEN_BUDGET_SQL)
def q_docs_token_budget(spark, sf_dir):
    """Budget-constrained selection: highest-score documents while the
    running token total fits a 5000-token training budget — the
    value-bucketed distributed prefix sum
    (operators/sampling.py token_budget_select)."""
    return token_budget_select(_t(spark, sf_dir, "documents"), budget=5000)


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

DOCS_CONTAMINATION_REPORT_SQL = contamination_report_sql(
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


@query("docs_contamination_report", oracle=DOCS_CONTAMINATION_REPORT_SQL)
def q_docs_contamination_report(spark, sf_dir):
    """Per-eval-doc contamination provenance (round 11;
    operators.terms.contamination_report): which train docs share
    an exact >=32-char substring with WHICH eval doc, and how many
    distinct windows — the audit artifact behind the flag-only
    docs_substr_decontaminate (same r2-salted split, so its
    contaminated set is exactly this report's distinct train ids)."""
    split = hash_split(
        _t(spark, sf_dir, "documents"), SPLIT_WEIGHTS, "doc_id", salt="r2"
    )
    return contamination_report(
        split.filter(F.col("split") == "train"),
        split.filter(F.col("split") == "eval"),
        min_len=SUBSTR_DECONTAM_LEN,
    )


# domain-level DSIR: the verified lambda-table CTEs + decimal-exact
# two-level aggregation, domains from the verified synthetic-URL
# registered-domain twin
DOCS_DOMAIN_IMPORTANCE_SQL = (
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


@query("docs_domain_importance", oracle=DOCS_DOMAIN_IMPORTANCE_SQL)
def q_docs_domain_importance(spark, sf_dir):
    """Domain-level DSIR mixture weights (round 11;
    operators.sampling.domain_importance): the per-doc importance
    log-weights of docs_dsir_weights aggregated decimal-exactly to the
    registered domain of each doc's (synthetic) URL — the per-SOURCE
    sampling knob production mixtures actually turn. The oracle
    composes the verified DSIR lambda-table recipe with the verified
    registered-domain twin."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "domain", registered_domain(_synth_url_col())
    )
    return domain_importance(
        docs, docs.filter(F.col("lang") == "en"), domain_col="domain"
    )


DOCS_LICENSE_SCAN_SQL = f"""SELECT doc_id, license,
  CAST(open_license AS INTEGER) AS open_license
FROM ({license_scan_sql(_LICENSE_FIXTURE_SQL)})"""


@query("docs_license_scan", oracle=DOCS_LICENSE_SCAN_SQL)
def q_docs_license_scan(spark, sf_dir):
    """In-text licence-signal detection (round 11;
    operators.textops.license_scan): first-match-wins over the
    most-restrictive-first pattern table, deterministic licence
    markers injected per doc_id % 6 (the testdata carries none)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _license_fixture_col().alias("text")
    )
    return license_scan(docs).select(
        "doc_id",
        "license",
        F.col("open_license").cast("int").alias("open_license"),
    )


# leakage-safe cluster split (r11): the SAME recursive-CTE fixpoint
# supplies each doc's component representative; the split is the
# hash_split bucket CASE applied to the REPRESENTATIVE (salt "cs"),
# identical thresholds to split_documents (eval<500, test<1000)
DOCS_CLUSTER_SPLIT_SQL = f"""WITH RECURSIVE {_pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({_MATCH_TERMS} AS DOUBLE) / {_K_PERMS} AS est_jaccard
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


@query("docs_cluster_split", oracle=DOCS_CLUSTER_SPLIT_SQL)
def q_docs_cluster_split(spark, sf_dir):
    """Leakage-safe split (round 11, operators.sampling.cluster_split):
    near-dup CLUSTERS (connected components of the est-Jaccard ≥ 0.7
    MinHash graph — the dedup_minhash_cc graph) are assigned to
    train/eval/test as units, so no duplicate pair straddles a split
    boundary; isolated docs split exactly as plain hash_split on their
    own id. The oracle re-states the fixpoint as the recursive-CTE
    min-reachable-id and applies the same bucket CASE to the
    representative."""
    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    edges = minhash_similarity(
        sigs, lsh_candidate_pairs(sigs)
    ).where(F.col("est_jaccard") >= 0.7).select("id_a", "id_b")
    out = cluster_split(
        docs.select("doc_id"), edges, SPLIT_WEIGHTS, salt="cs"
    )
    return out.select("doc_id", "cluster_rep", "split")


# split-composition audit (r12): aggregate the
# verified cluster-split assignment — the SAME recursive-CTE chain,
# nested as the twin's src — into per-split counts, observed vs
# target fractions, skew, and max component size per split
DOCS_SPLIT_BALANCE_SQL = split_balance_sql(
    DOCS_CLUSTER_SPLIT_SQL, SPLIT_WEIGHTS, cluster_col="cluster_rep"
)


@query("docs_split_balance", oracle=DOCS_SPLIT_BALANCE_SQL)
def q_docs_split_balance(spark, sf_dir):
    """Split-composition audit (round 12;
    operators.sampling.split_balance): cluster-level split assignment
    preserves leakage-safety by moving whole near-dup components
    between splits, which distorts split proportions when components
    are large — this reports, per split, the observed vs target
    fraction, the skew, and the largest single cluster routed in. The
    oracle nests the verified docs_cluster_split CTE chain as its
    source and applies the same grouping + single rounded division."""
    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    edges = minhash_similarity(
        sigs, lsh_candidate_pairs(sigs)
    ).where(F.col("est_jaccard") >= 0.7).select("id_a", "id_b")
    sp = cluster_split(docs.select("doc_id"), edges, SPLIT_WEIGHTS, salt="cs")
    return split_balance(sp, SPLIT_WEIGHTS, cluster_col="cluster_rep")


# (a) cross-split contamination invariant: the verified
# cluster-split assignment (nested CTE chain) audited pre/post the
# verified exact-substring decontamination — post must be all-zero
_XS_PRE_DOCS = (
    "SELECT d.doc_id, d.text, a.split FROM documents d JOIN ("
    + DOCS_CLUSTER_SPLIT_SQL
    + ") a USING (doc_id)"
)

_XS_TRAIN = f"SELECT doc_id, text FROM ({_XS_PRE_DOCS}) WHERE split = 'train'"

_XS_HELD = f"SELECT doc_id, text FROM ({_XS_PRE_DOCS}) WHERE split <> 'train'"

_XS_POST_DOCS = f"""SELECT pd.doc_id, pd.text, pd.split
FROM ({_XS_PRE_DOCS}) pd
LEFT JOIN ({exact_substring_decontaminate_sql(_XS_TRAIN, _XS_HELD, SUBSTR_DECONTAM_LEN)}) fl
  USING (doc_id)
WHERE pd.split <> 'train' OR coalesce(fl.contaminated, FALSE) = FALSE"""

DOCS_CROSS_SPLIT_CONTAMINATION_SQL = f"""SELECT 'pre_decontaminate' AS phase, * FROM (
{cross_split_contamination_sql(_XS_PRE_DOCS, min_len=SUBSTR_DECONTAM_LEN, cte_prefix="xs1")})
UNION ALL
SELECT 'post_decontaminate' AS phase, * FROM (
{cross_split_contamination_sql(_XS_POST_DOCS, min_len=SUBSTR_DECONTAM_LEN, cte_prefix="xs2")})"""


@query("docs_cross_split_contamination", oracle=DOCS_CROSS_SPLIT_CONTAMINATION_SQL)
def q_docs_cross_split_contamination(spark, sf_dir):
    """Cross-split contamination invariant (round 12;
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
    # the decontamination flag set (optimization r12):
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


# (b) BPE tokenizer fertility: the FULL 8-step training chain in
# SQL — per-step pair counts over the evolving vocabulary
# segmentation, argmax with bpe_train's exact (cnt DESC, l, r)
# tiebreak, and the greedy left-to-right non-overlapping merge as
# a list_reduce fold over the space-delimited segmentation (a
# merged symbol absorbs its right neighbour WITHOUT the separator,
# mirroring _merge_pair_expr). Unlike docs_bpe_encode's
# roundtrip-only oracle, this twin predicts SEGMENTATION CONTENT
# (piece counts), closing that gap for the fertility signal.
DOCS_BPE_FERTILITY_SQL = _bpe_fertility_sql()


@query("docs_bpe_fertility", oracle=DOCS_BPE_FERTILITY_SQL)
def q_docs_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility / compression-ratio signal (round 12;
    operators.terms.bpe_fertility): pieces-per-token
    and chars-per-piece under the 8-merge BPE of docs_bpe_encode, with
    the RefinedWeb-style low-compression flag. The oracle runs the
    FULL training chain in SQL (8 chained pair-count/argmax/merge-fold
    CTEs — bpe_train's exact tiebreak and greedy merge), so unlike
    docs_bpe_encode's roundtrip-only oracle this one value-hashes the
    segmentation CONTENT. Training runs through bpe_train_local
    (optimization round 12, see docs_bpe_encode): one distributed job
    instead of 2·num_merges, bit-identical merge list."""
    docs = _t(spark, sf_dir, "documents")
    out = bpe_fertility(docs, bpe_train_local(docs, num_merges=8))
    return out.select(
        "doc_id", "n_tokens", "n_pieces", "n_chars", "fertility",
        "chars_per_piece",
        F.col("low_compression").cast("int").alias("low_compression"),
    )


# (c) per-doc quality-signal bundle: the verified text_quality /
# text_langid / gopher / licence / URL-policy twins joined on the
# doc id — the RedPajama-v2 "corpus ships with its annotations"
# artifact shape
_QB_URL = url_policy_scan_sql(
    f"SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents",
    "url",
    blocked_domains=("shop.co.uk",),
    blocked_patterns=("/p/3[0-9]",),
)

DOCS_QUALITY_BUNDLE_SQL = f"""WITH qb_q AS ({TEXT_QUALITY_SQL}),
qb_l AS ({TEXT_LANGID_SQL}),
qb_g AS ({DOCS_GOPHER_FILTER_SQL}),
qb_lic AS ({license_scan_sql("SELECT doc_id, text FROM documents")}),
qb_u AS ({_QB_URL})
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


@query("docs_quality_bundle", oracle=DOCS_QUALITY_BUNDLE_SQL)
def q_docs_quality_bundle(spark, sf_dir):
    """Per-doc quality-signal bundle (round 12;
    operators.textops.quality_signal_bundle): the RedPajama-v2
    artifact shape — one wide row per document joining the verified
    quality_score, lang_id, gopher_rules, license_scan, and
    url_policy_scan signals, so downstream consumers filter by their
    own thresholds. The oracle joins the same five verified twins on
    the doc id."""
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


DOCS_CHARCLASS_SQL = (
    "SELECT * REPLACE (CAST(suspect AS INTEGER) AS suspect) FROM ("
    + charclass_scan_sql("SELECT doc_id, text FROM documents")
    + ")"
)


@query("docs_charclass", oracle=DOCS_CHARCLASS_SQL)
def q_docs_charclass(spark, sf_dir):
    """Character-class + encoding-artifact scan (round 12;
    operators.textops.charclass_scan): per-doc counts of letter/digit/
    upper/whitespace/punct/control classes, U+FFFD replacement chars,
    and Windows-1252 mojibake signatures, with the class fractions and
    the C4/CCNet-style ``suspect`` verdict. One codegen'd projection —
    the text-cleanliness signal family."""
    out = charclass_scan(_t(spark, sf_dir, "documents"))
    return out.select(
        *[c for c in out.columns if c != "suspect"],
        F.col("suspect").cast("int").alias("suspect"),
    )


DOCS_VOCAB_GROWTH_SQL = vocab_growth_sql(
    "SELECT doc_id, text FROM documents", salt="vg"
)


@query("docs_vocab_growth", oracle=DOCS_VOCAB_GROWTH_SQL)
def q_docs_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary-growth curve (round 12;
    operators.terms.vocab_growth): cumulative distinct types vs
    cumulative tokens over 16 hash-ordered document buckets — the
    corpus-health profile (near-linear growth = unbounded noise
    vocabulary; too-flat = template duplication). The oracle replays
    the same h28 bucketing, tokenization, and B-row prefix sums."""
    return vocab_growth(_t(spark, sf_dir, "documents"), salt="vg")


# the matrix's edge list is the verified minhash-sims chain at the
# family's 0.7 threshold (same sims CTE as dedup_minhash_survivors)
_SM_EDGES = f"""WITH {_pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({_MATCH_TERMS} AS DOUBLE) / {_K_PERMS} AS est_jaccard
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
)
SELECT id_a, id_b FROM sims WHERE est_jaccard >= 0.7"""

DOCS_DUP_SOURCE_MATRIX_SQL = (
    "SELECT * REPLACE (CAST(cross_source AS INTEGER) AS cross_source) FROM ("
    + near_dup_source_matrix_sql(
        "SELECT doc_id, source FROM documents", _SM_EDGES
    )
    + ")"
)


@query("docs_dup_source_matrix", oracle=DOCS_DUP_SOURCE_MATRIX_SQL)
def q_docs_dup_source_matrix(spark, sf_dir):
    """Near-duplicate cross-source matrix (round 12;
    operators.dedup.near_dup_source_matrix): which sources duplicate
    each other — pair counts per unordered source pair over the
    verified MinHash est-Jaccard ≥ 0.7 edge list (the mirror-site
    audit). The oracle nests the same sims CTE chain as the minhash
    dedup family."""
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


DOCS_ZIPF_SLOPE_SQL = zipf_slope_sql("SELECT doc_id, text FROM documents")


@query("docs_zipf_slope", oracle=DOCS_ZIPF_SLOPE_SQL)
def q_docs_zipf_slope(spark, sf_dir):
    """Zipf rank-frequency fit (round 12; operators.terms.zipf_slope):
    least-squares slope of ln(count) vs ln(rank) over the corpus's top
    terms — the dual of the vocab-growth Heaps curve (natural language
    sits near −1; the synthetic corpus's flat −0.18 at r² 0.06 is
    exactly the template-heavy profile the signal exists to flag). The
    oracle reuses ols_fit_sql's exact-decimal moments on the same
    rounded-ln projection."""
    return zipf_slope(_t(spark, sf_dir, "documents"))


_POLICY_BASE = url_policy_scan_sql(
    f"SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents",
    "url",
    blocked_domains=("shop.co.uk",),
    blocked_patterns=("/p/3[0-9]",),
)

DOCS_URL_POLICY_SQL = f"""SELECT doc_id, registered_domain,
  block_reason, CAST(blocked AS INTEGER) AS blocked
FROM ({_POLICY_BASE})"""


@query("docs_url_policy", oracle=DOCS_URL_POLICY_SQL)
def q_docs_url_policy(spark, sf_dir):
    """URL policy screening with auditable reason codes (round 11;
    operators.dedup.url_policy_scan): registered-
    domain blocklist (shop.co.uk — the multi-label-suffix hosts of the
    synthetic crawl) plus a URL-shape pattern (/p/3[0-9] — the
    template-noise page class), domain rule first. One verdict row
    per doc; keep/drop composes downstream."""
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
