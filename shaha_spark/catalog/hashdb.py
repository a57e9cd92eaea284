"""The hash-database queries: the reference tool's own operations.

Wordlist scan, build (one to nine digest algorithms), point and prefix
lookup, append and stats, and the flagship :func:`entry`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from shaha_spark.catalog import query
from shaha_spark.catalog._tables import (
    _DWORDS_CTE,
    _MULTI_CTE,
    _WORDS_CTE,
    _dwords,
    _ensure_pkg,
    _hex,
    _words,
)
from shaha_spark.functions.digest_vectors import VECTOR_DIGESTS
from shaha_spark.functions.hashers import available_algorithms
from shaha_spark.pipeline.append import append_merge
from shaha_spark.pipeline.build import dedup_records, hash_fanout


# deterministic full-digest constant for the point-lookup query:
# sha256("the") — "the" is guaranteed by both engines to hash identically;
# if absent from the corpus both sides return the same empty set.
POINT_SHA256 = "b9776d7ddf459c9ad5b0e1d6ac61e27befb5e99fd62446677600d7cacef544d0"

WORDLIST_SCAN_SQL = f"WITH {_WORDS_CTE} SELECT word, source FROM words"


@query("wordlist_scan", oracle=WORDLIST_SCAN_SQL)
def q_wordlist_scan(spark, sf_dir):
    return _words(spark, sf_dir).select("word", "source")


WORD_DEDUP_SQL = f"WITH {_DWORDS_CTE} SELECT word FROM dwords"


@query("word_dedup", oracle=WORD_DEDUP_SQL)
def q_word_dedup(spark, sf_dir):
    return _dwords(spark, sf_dir)


BUILD_SHA256_SQL = (
    f"WITH {_DWORDS_CTE} SELECT sha256(word) AS hash_hex, word AS preimage, "
    "'sha256' AS algorithm FROM dwords"
)


@query("build_sha256", oracle=BUILD_SHA256_SQL)
def q_build_sha256(spark, sf_dir):
    return _dwords(spark, sf_dir).select(
        F.sha2("word", 256).alias("hash_hex"),
        F.col("word").alias("preimage"),
        F.lit("sha256").alias("algorithm"),
    )


def _multi_algo(spark, sf_dir):
    records = hash_fanout(_dwords(spark, sf_dir), ["md5", "sha256"])
    return dedup_records(records).select(
        _hex(), F.col("preimage"), F.col("algorithm")
    )


BUILD_MULTI_ALGO_SQL = f"WITH {_MULTI_CTE} SELECT * FROM multi"


@query("build_multi_algo", oracle=BUILD_MULTI_ALGO_SQL)
def q_build_multi_algo(spark, sf_dir):
    return _multi_algo(spark, sf_dir)


# hash256 = SHA256(SHA256(x)) — Bitcoin txid style
# (ref src/hasher/mod.rs:63-75)
BUILD_HASH256_SQL = (
    f"WITH {_DWORDS_CTE} SELECT "
    "lower(hex(sha256_bin(sha256_bin(encode(word))))) AS hash_hex, "
    "word AS preimage, 'hash256' AS algorithm FROM dwords"
)


@query("build_hash256", local_oracle=BUILD_HASH256_SQL)
def q_build_hash256(spark, sf_dir):
    return hash_fanout(_dwords(spark, sf_dir), ["hash256"]).select(
        _hex(), F.col("preimage"), F.col("algorithm")
    )


def _all_algos_sql() -> str:
    """Oracle for build_all_algos: md5/sha256 computed natively by
    DuckDB; the other seven asserted against the literal known-answer
    table (provenance: scripts/gen_digest_vectors.py)."""
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


BUILD_ALL_ALGOS_SQL = _all_algos_sql()


@query("build_all_algos", oracle=BUILD_ALL_ALGOS_SQL)
def q_build_all_algos(spark, sf_dir):
    """All nine digest algorithms over the corpus vocabulary (∪ the
    reference's canonical "hello"), restricted to the words covered by
    the known-answer table so the DuckDB side can assert literal
    expected digests for the algorithms DuckDB cannot compute natively
    (sha1/sha512/keccak256/ripemd160/blake3/hash160/hash256)."""
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


QUERY_POINT_LOOKUP_SQL = (
    f"WITH {_DWORDS_CTE} SELECT sha256(word) AS hash_hex, word AS preimage, "
    f"'sha256' AS algorithm FROM dwords WHERE sha256(word) = '{POINT_SHA256}'"
)


@query("query_point_lookup", oracle=QUERY_POINT_LOOKUP_SQL)
def q_point_lookup(spark, sf_dir):
    return q_build_sha256(spark, sf_dir).filter(
        F.col("hash_hex") == POINT_SHA256
    )


QUERY_PREFIX_SQL = (
    f"WITH {_DWORDS_CTE} SELECT sha256(word) AS hash_hex, word AS preimage "
    "FROM dwords WHERE sha256(word) LIKE 'b9%'"
)


@query("query_prefix", oracle=QUERY_PREFIX_SQL)
def q_prefix(spark, sf_dir):
    # "b9" matches sha256("the") = b977... — a prefix chosen to return
    # rows, mirroring the reference's prefix round-trip which queries a
    # prefix of a digest known to exist (ref tests/integration.rs:147-151).
    return q_build_sha256(spark, sf_dir).filter(
        F.col("hash_hex").startswith("b9")
    ).select("hash_hex", "preimage")


QUERY_ALGO_FILTER_SQL = (
    f"WITH {_MULTI_CTE} SELECT * FROM multi WHERE algorithm = 'md5'"
)


@query("query_algo_filter", oracle=QUERY_ALGO_FILTER_SQL)
def q_algo_filter(spark, sf_dir):
    return _multi_algo(spark, sf_dir).filter(F.col("algorithm") == "md5")


QUERY_TOPK_BY_HASH_SQL = (
    f"WITH {_MULTI_CTE} SELECT * FROM multi ORDER BY hash_hex LIMIT 100"
)


@query("query_topk_by_hash", oracle=QUERY_TOPK_BY_HASH_SQL)
def q_topk_by_hash(spark, sf_dir):
    return _multi_algo(spark, sf_dir).orderBy("hash_hex").limit(100)


APPEND_MERGE_SQL = f"""WITH {_WORDS_CTE},
flags AS (
  SELECT word, bool_or(doc_id % 2 = 0) AS has_even, bool_or(doc_id % 2 = 1) AS has_odd
  FROM words GROUP BY word
)
SELECT sha256(word) AS hash_hex, word AS preimage, 'sha256' AS algorithm,
  CASE WHEN has_even AND has_odd THEN 'even,odd'
       WHEN has_even THEN 'even' ELSE 'odd' END AS sources_str
FROM flags"""


@query("append_merge", oracle=APPEND_MERGE_SQL)
def q_append_merge(spark, sf_dir):
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


DB_STATS_SQL = f"""WITH {_MULTI_CTE}
SELECT count(*) AS total_records,
       count(DISTINCT preimage) AS n_preimages,
       string_agg(DISTINCT algorithm, ',' ORDER BY algorithm) AS algorithms_str
FROM multi"""


@query("db_stats", oracle=DB_STATS_SQL)
def q_db_stats(spark, sf_dir):
    return _multi_algo(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("total_records"),
        F.count_distinct(F.col("preimage")).alias("n_preimages"),
        F.array_join(F.sort_array(F.collect_set("algorithm")), ",").alias(
            "algorithms_str"
        ),
    )


BUILD_SUMMARY_SQL = f"""WITH {_WORDS_CTE}
SELECT count(*) AS total_words,
       count(DISTINCT word) AS unique_words,
       count(*) - count(DISTINCT word) AS duplicates,
       count(DISTINCT word) * 2 AS records_to_generate
FROM words"""


@query("build_summary", oracle=BUILD_SUMMARY_SQL)
def q_build_summary(spark, sf_dir):
    words = _words(spark, sf_dir)
    return words.agg(
        F.count(F.lit(1)).alias("total_words"),
        F.count_distinct(F.col("word")).alias("unique_words"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("word"))).alias("duplicates"),
        (F.count_distinct(F.col("word")) * 2).alias("records_to_generate"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the multi-algorithm
    hash-database build projection (the engine's core pipeline)."""
    return q_build_multi_algo(spark, "/root/testdata/sf0.001")
