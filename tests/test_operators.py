"""Training-data operator tests over the sf0.001 synthetic tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shaha_spark.operators import dedup, multimodal, similarity, textops


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_exact_dedup(spark, docs):
    survivors = dedup.exact_dedup(docs)
    n_docs = docs.count()
    n_distinct = docs.select("text").distinct().count()
    assert survivors.count() == n_distinct <= n_docs
    # survivors' ids are the min id per text group
    joined = survivors.join(docs, "doc_id").select("doc_id", "text")
    mins = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    assert joined.join(mins, ["doc_id", "text"]).count() == n_distinct


def test_minhash_signatures_shape(spark, docs):
    sigs = dedup.minhash_signatures(docs)
    assert sigs.columns == ["doc_id"] + [f"mh_{i}" for i in range(16)]
    assert sigs.count() == docs.count()
    row = sigs.head()
    assert all(0 <= row[f"mh_{i}"] < 2_147_483_647 for i in range(16))


def test_minhash_identical_docs_identical_sigs(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "a completely different sentence entirely here now")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: [r[f"mh_{i}"] for i in range(16)] for r in dedup.minhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    pairs = dedup.lsh_candidate_pairs(dedup.minhash_signatures(df)).collect()
    assert (1, 2) in [(p.id_a, p.id_b) for p in pairs]


def test_minhash_dedup_drops_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "unrelated words only here nothing shared at all")],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in dedup.minhash_dedup(df, threshold=0.7).collect()}
    assert kept == {1, 3}


def test_simhash_and_near_dup(spark):
    df = spark.createDataFrame(
        [(1, "spark sql engine fast query plan"),
         (2, "spark sql engine fast query plans"),  # one token differs
         (3, "totally different content about cooking recipes")],
        "doc_id long, text string",
    )
    fps = dedup.simhash(df)
    assert fps.count() == 3
    vals = {r.doc_id: r.simhash for r in fps.collect()}
    assert all(0 <= v < 2**32 for v in vals.values())
    # identical docs → hamming 0
    df2 = spark.createDataFrame([(1, "a b c"), (2, "a b c")], "doc_id long, text string")
    pairs = dedup.simhash_near_dup_pairs(dedup.simhash(df2), max_hamming=0).collect()
    assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_ngram_jaccard(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "a b c x y")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    sims = {(r.id_a, r.id_b): r.jaccard for r in dedup.ngram_jaccard(df, pairs).collect()}
    assert sims[(1, 2)] == 1.0
    # shingles(5 tokens, n=3) = 3 shingles; doc3 shares only "a b c" → 1/5
    assert sims[(1, 3)] == pytest.approx(0.2)


def test_embedding_near_dup_pairs(spark, embs):
    pairs = dedup.embedding_near_dup_pairs(embs, threshold=0.9)
    for row in pairs.take(5):
        assert row.id_a < row.id_b
        assert row.cosine >= 0.9


def test_brute_force_topk(spark, embs):
    queries = embs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = similarity.brute_force_topk(embs, queries, k=5)
    rows = res.collect()
    assert len(rows) == 15  # 3 queries × 5
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        # self similarity = 1.0 at rank 1
        assert rs[0].vec_id == q and rs[0].cosine == pytest.approx(1.0)
        assert all(rs[i].cosine >= rs[i + 1].cosine for i in range(len(rs) - 1))


def test_ivf_topk_recall_vs_brute(spark, embs):
    queries = embs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = similarity.label_centroids(embs)
    exact = similarity.brute_force_topk(embs, queries, k=5)
    approx = similarity.ivf_topk(embs, queries, cents, k=5, nprobe=3)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # self-match must always survive (query's own bucket is its nearest centroid)
    assert all((q, q) in a for q in range(5))


def test_token_count(spark, docs):
    res = textops.token_count(docs)
    row = res.join(docs, "doc_id").select("n_tokens", "n_pieces", "text").head()
    assert row.n_tokens == len([t for t in row.text.split(" ") if t])
    assert row.n_pieces >= row.n_tokens  # pieces split digits/symbols too


def test_quality_score_bounds(spark, docs):
    res = textops.quality_score(docs)
    assert res.where((F.col("quality") < 0) | (F.col("quality") > 1)).count() == 0
    assert res.where(F.col("stopword_ratio") > 1).count() == 0


def test_lang_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat is on the mat with a hat"),
         (2, "der hund ist nicht auf der matte und"),
         (3, "le chat est dans la maison avec le chien"),
         (4, "xyzzy qwerty plugh")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang_pred for r in textops.lang_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma"), (4, "")],
        "doc_id long, text string",
    )
    fp = {r.doc_id: r.fingerprint for r in textops.fingerprint(df).collect()}
    assert fp[1] == fp[3]
    assert fp[1] != fp[2]  # permutation changes the fingerprint
    assert fp[4] == 0


def test_multimodal_decode_and_frames(spark, docs):
    media = multimodal.media_from_documents(docs)
    meta = multimodal.decode_metadata(media)
    n = docs.count()
    assert meta.count() == n
    row = meta.join(media, "media_id").head()
    assert row.n_bytes == len(bytes(row.payload))
    assert row.format in ("jpeg", "png", "webp")
    assert 64 <= row.width < 64 + 512

    frames = multimodal.sample_frames(media.limit(10))
    fr = frames.collect()
    assert all(len(bytes(f.frame_bytes)) <= 32 for f in fr)
    assert {f.media_id for f in fr} == {r.media_id for r in media.limit(10).collect()}

    feats = multimodal.extract_features(media.limit(10), dim=16)
    frow = feats.head()
    assert len(frow.feature) == 16
    assert sum(frow.feature) == pytest.approx(1.0, abs=1e-3)


def _tiny_png(width: int, height: int) -> bytes:
    """A fully valid 1-bit-depth grayscale PNG built with the stdlib:
    signature + IHDR + IDAT (zlib of an empty-ish scanline set) + IEND,
    each chunk with a correct CRC."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x00" * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _tiny_gif(width: int, height: int) -> bytes:
    import struct

    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00" + b"\x3b"


def _tiny_jpeg(width: int, height: int) -> bytes:
    import struct

    soi = b"\xff\xd8"
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", height, width) + b"\x01\x11\x00"
    return soi + app0 + sof0 + b"\xff\xd9"


def test_multimodal_real_decode_png_gif_jpeg(spark):
    """real_decode=True parses actual container headers through the same
    mapInPandas plumbing (VERDICT r1 #10: demonstrate the stub boundary
    with a real codec path, not just an assertion)."""
    payloads = [
        (1, _tiny_png(13, 7)),
        (2, _tiny_gif(320, 200)),
        (3, _tiny_jpeg(640, 480)),
    ]
    media = spark.createDataFrame(
        [(i, p, "image") for i, p in payloads],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {
        r.media_id: r
        for r in multimodal.decode_metadata(media, real_decode=True).collect()
    }
    assert (rows[1].format, rows[1].width, rows[1].height) == ("png", 13, 7)
    assert (rows[2].format, rows[2].width, rows[2].height) == ("gif", 320, 200)
    assert (rows[3].format, rows[3].width, rows[3].height) == ("jpeg", 640, 480)
    assert rows[1].n_bytes == len(payloads[0][1])

    # driver-side sanity against the same bytes, no Spark in the loop
    assert multimodal.real_decode_header(_tiny_png(1, 1))[1:] == ("png", 1, 1)


def test_multimodal_real_decode_unknown_format_raises(spark, docs):
    # document text bytes are not a known container — the exact point a
    # Pillow/libvips call would go raises
    media = multimodal.media_from_documents(docs.limit(1))
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.decode_metadata(media, real_decode=True).collect()


def test_kmeans_recovers_separable_clusters(spark):
    """Two well-separated direction clusters: 2 Lloyd iterations from
    lowest-id seeds must assign every vector to its own cluster's
    centroid, with counts 3/3 and near-axis means."""
    from shaha_spark.operators.kmeans import assign_nearest, kmeans_fit

    rows = [
        (0, [1.0, 0.05, 0.0]), (1, [0.0, 0.1, 1.0]),  # seeds: one per cluster
        (2, [1.0, -0.05, 0.1]), (3, [0.9, 0.0, -0.1]),
        (4, [0.1, -0.1, 1.0]), (5, [-0.1, 0.05, 0.9]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    cents = kmeans_fit(df, k=2, iters=2)
    got = {r.centroid_id: (r.n_members, list(r.centroid)) for r in cents.collect()}
    assert set(got) == {1, 2}
    assert got[1][0] == 3 and got[2][0] == 3
    # centroid 1 is x-dominant, centroid 2 z-dominant
    assert got[1][1][0] > 0.9 and abs(got[1][1][2]) < 0.1
    assert got[2][1][2] > 0.9 and abs(got[2][1][0]) < 0.1

    assigned = {r.vec_id: r.centroid_id for r in assign_nearest(df, cents).collect()}
    assert assigned == {0: 1, 2: 1, 3: 1, 1: 2, 4: 2, 5: 2}


def test_ivf_topk_with_kmeans_centroids(spark, embs):
    """kmeans_fit centroids slot directly into ivf_topk as the
    production centroid source (label_centroids is the cheap stand-in)."""
    from shaha_spark.operators.kmeans import kmeans_fit

    queries = embs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = kmeans_fit(embs, k=6, iters=2)
    res = similarity.ivf_topk(embs, queries, cents, k=5, nprobe=2)
    rows = res.collect()
    assert len(rows) == 15
    got = {(r.query_id, r.vec_id) for r in rows}
    assert all((q, q) in got for q in range(3))  # self-match survives


def test_connected_components_chain(spark):
    from shaha_spark.operators.components import connected_components

    # two components: {1,2,3,7} via chain 1-2, 2-3, 3-7; {5,6}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (5, 6)], "id_a long, id_b long"
    )
    comps = {r.id: r.comp for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 6: 5}


def test_minhash_dedup_cc_collapses_stars(spark):
    """Star 1~3, 2~3 with 1!~2 (hub = highest id): greedy drops only the
    hub (doc 2 never appears as an edge's id_b), keeping {1, 2}; the
    component pass keeps only the component minimum {1}. Both keep the
    unrelated doc. est_jaccards for this fixture (deterministic):
    (1,3)=0.9375, (2,3)=0.875, (1,2)=0.8125 — threshold 0.85 keeps
    exactly the two star edges."""
    from shaha_spark.operators.components import minhash_dedup_cc
    from shaha_spark.operators.dedup import minhash_dedup

    core = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi")
    df = spark.createDataFrame(
        [(1, core + " one two three"), (2, core + " seven eight nine"), (3, core),
         (9, "unrelated words entirely different from the others here")],
        "doc_id long, text string",
    )
    greedy = {r.doc_id for r in minhash_dedup(df, threshold=0.85).collect()}
    cc = {r.doc_id for r in minhash_dedup_cc(df, threshold=0.85).collect()}
    assert greedy == {1, 2, 9}   # hub dropped; doc 2 survives greedily
    assert cc == {1, 9}          # whole component collapses to its min id


def test_multimodal_real_audio_decode_wav(spark, tmp_path):
    """Real WAV files (written by the stdlib wave module) decode through
    the Arrow mapInPandas audio tier; non-audio payloads raise at the
    codec line."""
    import io
    import wave

    def make_wav(rate: int, channels: int, frames: int) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(b"\x00\x00" * channels * frames)
        return buf.getvalue()

    payloads = [(1, make_wav(16000, 1, 1600)), (2, make_wav(44100, 2, 441))]
    media = spark.createDataFrame(
        [(i, p, "audio") for i, p in payloads], multimodal.MEDIA_SCHEMA
    )
    rows = {r.media_id: r for r in multimodal.decode_audio_metadata(media).collect()}
    assert (rows[1].format, rows[1].sample_rate, rows[1].channels, rows[1].n_frames) == ("wav", 16000, 1, 1600)
    assert (rows[2].format, rows[2].sample_rate, rows[2].channels, rows[2].n_frames) == ("wav", 44100, 2, 441)
    assert rows[1].n_bytes == len(payloads[0][1])

    bad = spark.createDataFrame([(3, b"not audio at all", "audio")], multimodal.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.decode_audio_metadata(bad).collect()


def test_multimodal_real_video_decode_mp4(spark):
    """Handcrafted-but-valid MP4 box structure (ftyp + moov/mvhd, both
    version 0 and version 1 mvhd) decodes through the video tier."""
    import struct

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    def mp4(timescale: int, duration: int, version: int) -> bytes:
        ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        if version == 1:
            mvhd = box(b"mvhd", b"\x01\x00\x00\x00" + struct.pack(
                ">QQIQ", 0, 0, timescale, duration) + b"\x00" * 80)
        else:
            mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + struct.pack(
                ">IIII", 0, 0, timescale, duration) + b"\x00" * 80)
        return ftyp + box(b"moov", mvhd)

    payloads = [(1, mp4(600, 1500, 0)), (2, mp4(90000, 90000 * 7, 1))]
    media = spark.createDataFrame(
        [(i, p, "video") for i, p in payloads], multimodal.MEDIA_SCHEMA
    )
    rows = {r.media_id: r for r in multimodal.decode_video_metadata(media).collect()}
    assert (rows[1].format, rows[1].timescale, rows[1].duration_ms) == ("mp4", 600, 2500)
    assert (rows[2].format, rows[2].timescale, rows[2].duration_ms) == ("mp4", 90000, 7000)

    bad = spark.createDataFrame([(3, b"definitely not video", "video")], multimodal.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|codec|demuxer"):
        multimodal.decode_video_metadata(bad).collect()


def test_hash_sampling_properties(spark, docs):
    """Determinism, nesting (5% ⊂ 10% with the same salt), stratified
    thresholds, and disjoint/exhaustive splits."""
    from shaha_spark.operators import sampling

    s10 = {r.doc_id for r in sampling.hash_sample(docs, 0.10, "doc_id").select("doc_id").collect()}
    s10b = {r.doc_id for r in sampling.hash_sample(docs, 0.10, "doc_id").select("doc_id").collect()}
    s05 = {r.doc_id for r in sampling.hash_sample(docs, 0.05, "doc_id").select("doc_id").collect()}
    assert s10 == s10b            # deterministic across runs
    assert s05 <= s10             # nested fractions are subsets
    n = docs.count()
    assert 0 < len(s10) < n       # neither empty nor everything

    # different salt → a different (still deterministic) sample
    salted = {r.doc_id for r in sampling.hash_sample(docs, 0.10, "doc_id", salt="x").select("doc_id").collect()}
    assert salted != s10

    strat = sampling.stratified_hash_sample(
        docs, "source", {"web": 1.0}, "doc_id", default_fraction=0.0
    )
    got_sources = {r.source for r in strat.select("source").distinct().collect()}
    assert got_sources <= {"web"}  # only the fully-kept stratum survives

    split = sampling.hash_split(docs, {"train": 0.8, "eval": 0.2}, "doc_id")
    counts = {r.split: r.n for r in split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == n            # exhaustive
    assert set(counts) == {"train", "eval"}     # and only these
    assert counts["train"] > counts["eval"]

    import pytest as _pytest
    with _pytest.raises(ValueError):
        sampling.hash_sample(docs, 1.5, "doc_id")
    with _pytest.raises(ValueError):
        sampling.hash_split(docs, {"a": 0.5, "b": 0.2}, "doc_id")


def test_incremental_minhash_dedup(spark):
    from shaha_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    existing = spark.createDataFrame(
        [(0, base), (2, "completely different corpus content with many unique words here")],
        "doc_id bigint, text string",
    )
    new_batch = spark.createDataFrame(
        [
            (1, base + " ok"),              # near-copy of existing doc 0 -> dropped
            (3, "unrelated fresh document about spark partitions and shuffles"),
            (5, "unrelated fresh document about spark partitions and shuffle"),  # near-copy of 3 -> dropped (3 < 5)
        ],
        "doc_id bigint, text string",
    )
    survivors = {
        r["doc_id"]
        for r in incremental_minhash_dedup(
            new_batch, minhash_signatures(existing), threshold=0.5
        ).collect()
    }
    assert survivors == {3}


def test_pagerank_fixed_properties(spark):
    from shaha_spark.operators.graph import PR_SCALE, pagerank_fixed

    # star graph: hub 1 connected to 2,3,4 — hub must outrank leaves,
    # and leaves must tie exactly (integer arithmetic, no float drift)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a bigint, id_b bigint"
    )
    ranks = {r["node"]: r["rank_fp"] for r in pagerank_fixed(edges, 3).collect()}
    assert ranks[1] > ranks[2]
    assert ranks[2] == ranks[3] == ranks[4]
    # total mass stays near PR_SCALE (integer floor loss only)
    assert 0.9 * PR_SCALE < sum(ranks.values()) <= PR_SCALE


def test_pagerank_partitioning_invariant(spark):
    from shaha_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures
    from shaha_spark.operators.graph import pagerank_fixed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    a = sorted(map(tuple, pagerank_fixed(pairs.repartition(1), 2).collect()))
    b = sorted(map(tuple, pagerank_fixed(pairs.repartition(16), 2).collect()))
    assert a == b  # bit-identical: fixed-point integer arithmetic


# -------------------------------------------- edit distance / redact

def test_levenshtein_pairs_matches_bruteforce(spark):
    words = ["cat", "bat", "cart", "dog", "dig", "elephant", "kitten", "sitting"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    from shaha_spark.operators.dedup import levenshtein_pairs

    got = {(r["word_a"], r["word_b"]): r["dist"] for r in levenshtein_pairs(df, "word", 2).collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = {
        (a, b): lev(a, b)
        for a in words
        for b in words
        if a < b and lev(a, b) <= 2
    }
    assert got == want
    # the length band really blocks: no pair with |len diff| > 2 was considered
    assert all(abs(len(a) - len(b)) <= 2 for a, b in got)


def test_levenshtein_pairs_dedups_input(spark):
    df = spark.createDataFrame([("aa",), ("aa",), ("ab",)], "word string")
    from shaha_spark.operators.dedup import levenshtein_pairs

    rows = levenshtein_pairs(df, "word", 1).collect()
    assert [(r["word_a"], r["word_b"], r["dist"]) for r in rows] == [("aa", "ab", 1)]


def test_redact_numbers(spark):
    df = spark.createDataFrame(
        [(1, "call 555 then 1234"), (2, "no digits"), (3, "7")],
        "doc_id bigint, text string",
    )
    from shaha_spark.operators.textops import redact_numbers

    got = {r["doc_id"]: (r["redacted"], r["n_digits"]) for r in redact_numbers(df, "text").collect()}
    assert got[1] == ("call <num> then <num>", 7)
    assert got[2] == ("no digits", 0)
    assert got[3] == ("<num>", 1)


# --------------------------------------------- outliers / lsh eval

def test_zscore_outliers_flags_the_planted_point(spark):
    rows = [(i, "a", 10.0) for i in range(20)] + [(99, "a", 1000.0)]
    # degenerate groups: constant (zero variance) and singleton
    rows += [(200, "const", 5.0), (201, "const", 5.0), (300, "single", 7.0)]
    df = spark.createDataFrame(rows, "event_id bigint, event_type string, value double")
    from shaha_spark.operators.profile import zscore_outliers

    got = zscore_outliers(df, "value", ["event_type"], "event_id", z=3.0).collect()
    # only the planted outlier; degenerate groups never divide 0/0
    assert [(r["event_id"], r["event_type"]) for r in got] == [(99, "a")]
    assert got[0]["zscore"] > 3


def test_minhash_eval_perfect_and_empty(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words in this one entirely"),
        ],
        "doc_id bigint, text string",
    )
    from shaha_spark.operators.dedup import minhash_eval

    r = minhash_eval(docs, 0.5).collect()[0]
    assert (r["n_candidates"], r["n_true"], r["n_hit"]) == (1, 1, 1)
    assert (r["lsh_precision"], r["lsh_recall"]) == (1.0, 1.0)

    # threshold above 1.0: truth is empty; precision 0, recall defined 1.0
    r2 = minhash_eval(docs, 1.01).collect()[0]
    assert (r2["n_candidates"], r2["n_true"], r2["n_hit"]) == (1, 0, 0)
    assert (r2["lsh_precision"], r2["lsh_recall"]) == (0.0, 1.0)


def test_minhash_eval_no_shingles_all_empty(spark):
    # every doc shorter than the shingle width: no candidates, no truth
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "c d"), (3, "e f")],
        "doc_id bigint, text string",
    )
    from shaha_spark.operators.dedup import minhash_eval

    r = minhash_eval(docs, 0.5).collect()[0]
    assert (r["n_candidates"], r["n_true"], r["n_hit"]) == (0, 0, 0)
    assert (r["lsh_precision"], r["lsh_recall"]) == (1.0, 1.0)


def test_equi_depth_histogram_counts(spark):
    from shaha_spark.operators.profile import equi_depth_histogram

    # 10 rows in one group over 3 buckets -> 4/3/3 (first takes remainder)
    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(10)],
        "event_id bigint, event_type string, value double",
    )
    got = sorted(
        (r["bucket"], r["lo"], r["hi"], r["n"])
        for r in equi_depth_histogram(df, "event_type", "value", "event_id", 3).collect()
    )
    assert got == [(1, 0.0, 3.0, 4), (2, 4.0, 6.0, 3), (3, 7.0, 9.0, 3)]


def test_salted_broadcast_join_matches_plain_join(spark):
    from shaha_spark.operators.skew import salted_broadcast_join

    # heavy skew: key 1 holds 90% of the fact rows
    fact = spark.createDataFrame(
        [(1, i) for i in range(90)] + [(k, 0) for k in range(2, 12)],
        "k bigint, v bigint",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(1, 15)], "dk bigint, name string"
    )
    got = sorted(
        (r["k"], r["v"], r["name"])
        for r in salted_broadcast_join(fact, dim, "k", "dk").collect()
    )
    plain = sorted(
        (r["k"], r["v"], r["name"])
        for r in fact.join(dim, fact.k == dim.dk).collect()
    )
    assert got == plain and len(got) == 100


def test_balanced_sample_caps_and_is_deterministic(spark):
    from shaha_spark.operators.sampling import balanced_sample

    df = spark.createDataFrame(
        [(i, "big" if i < 400 else "small") for i in range(420)],
        "doc_id bigint, lang string",
    )
    a = sorted(tuple(r) for r in balanced_sample(df, "lang", 25, "doc_id").collect())
    b = sorted(tuple(r) for r in balanced_sample(df.repartition(16), "lang", 25, "doc_id").collect())
    assert a == b
    from collections import Counter
    counts = Counter(lang for _, lang in a)
    assert counts == {"big": 25, "small": 20}


def test_winsorize_clips_to_group_bounds(spark):
    from shaha_spark.operators.profile import winsorize

    rows = [(i, "g", float(i)) for i in range(101)]  # 0..100
    df = spark.createDataFrame(rows, "event_id bigint, event_type string, value double")
    got = {r["event_id"]: r for r in
           winsorize(df, "event_type", "value", "event_id", 0.05, 0.95).collect()}
    assert got[0]["value_clipped"] == 5.0 and got[100]["value_clipped"] == 95.0
    assert got[50]["value_clipped"] == 50.0
    assert got[0]["clip_lo"] == 5.0 and got[0]["clip_hi"] == 95.0


def test_gopher_rules_flags_and_keep(spark):
    docs = spark.createDataFrame(
        [
            # 25 tokens incl. 'the a' twice → every rule passes
            (1, "the a " * 2 + "word " * 21),
            (2, "short doc the a"),                  # fails count (4 < 20)
            (3, " ".join(["the", "a"] + ["x"] * 30)),  # mean len 1.4 < 3 → fails
            (4, ""),                                  # empty: all zero metrics
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in textops.gopher_rules(docs).collect()}
    assert got[1]["keep"] == 1 and got[1]["pass_count"] == 1
    assert got[2]["keep"] == 0 and got[2]["pass_count"] == 0
    assert got[2]["pass_stopwords"] == 1
    assert got[3]["keep"] == 0 and got[3]["pass_mean_len"] == 0
    assert got[4]["n_tokens"] == 0 and got[4]["keep"] == 0


def test_gopher_rules_symbol_and_alpha_ratios(spark):
    docs = spark.createDataFrame(
        [(1, "the a " + "#### $$$$ " * 10 + "w " * 15)],
        "doc_id bigint, text string",
    )
    row = textops.gopher_rules(docs).collect()[0]
    # 37 tokens: 20 pure-symbol (#### / $$$$), 17 alphabetic
    assert row["n_tokens"] == 37
    assert row["pass_symbols"] == 0 and row["pass_alpha"] == 0
    assert row["keep"] == 0


def test_gopher_rules_multiline_doc_not_penalized(spark):
    """Tokenization splits on ANY whitespace run: a clean document
    written as multiple lines must score identically to its one-line
    form — with a literal-space split every '\\n' boundary would glue
    two words into one symbol-bearing token and the multi-line form
    would be silently dropped."""
    one_line = "the a " * 2 + "word " * 21
    multi_line = one_line.strip().replace("word word ", "word\nword\n\t", 5)
    docs = spark.createDataFrame(
        [(1, one_line), (2, multi_line)], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in textops.gopher_rules(docs).collect()}
    assert got[1] == {**got[2], "doc_id": 1}
    assert got[2]["keep"] == 1 and got[2]["symbol_ratio"] == 0.0


def test_minhash_mass_duplicates_bounded_by_exact_dedup_prepass(spark):
    """The documented hot-bucket mitigation (SCALE.md, dedup.py): a
    mass-identical family produces C(n,2) LSH candidates — the
    candidate set IS quadratic because the duplicates are real — but
    the recommended composition (exact_dedup first) collapses the
    family to one survivor, bounding candidates by genuine near-dups.
    """
    import pyspark.sql.functions as F

    clones = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(100)]
    distinct = [
        (1000 + i, f"unique{i} tokens nothing shares these spans {i} at all {i}")
        for i in range(20)
    ]
    docs = spark.createDataFrame(clones + distinct, "doc_id bigint, text string")

    naive = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs)).count()
    assert naive >= 100 * 99 // 2  # the clone family alone is quadratic

    survivors = dedup.exact_dedup(docs)  # 1 id per content digest
    kept = docs.join(survivors.select("doc_id"), "doc_id")
    assert kept.count() == 21
    composed = dedup.lsh_candidate_pairs(dedup.minhash_signatures(kept)).count()
    assert composed < 25  # only genuine near-dups (if any) remain


def test_keep_best_per_component_prefers_quality_over_id(spark):
    from shaha_spark.operators.components import keep_best_per_component

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),                    # near-dup family {1,2,3}
            (2, base + " lambda"),
            (3, base),
            (9, "totally different content with nothing shared here at all"),
        ],
        "doc_id bigint, text string",
    )
    score = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.2), (9, 0.5)],
        "doc_id bigint, quality double",
    )
    kept = {
        r["doc_id"]
        for r in keep_best_per_component(docs, score, threshold=0.5).collect()
    }
    # highest-quality member (2) survives, NOT the minimum id (1);
    # the isolated doc (9) always survives
    assert kept == {2, 9}


def test_keep_best_per_component_tie_breaks_lowest_id(spark):
    from shaha_spark.operators.components import keep_best_per_component

    base = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(5, base), (3, base), (8, base)], "doc_id bigint, text string"
    )
    score = spark.createDataFrame(
        [(5, 0.7), (3, 0.7), (8, 0.7)], "doc_id bigint, quality double"
    )
    kept = {
        r["doc_id"]
        for r in keep_best_per_component(docs, score, threshold=0.5).collect()
    }
    assert kept == {3}


def test_redact_patterns_multiclass_ordered(spark):
    from shaha_spark.operators.textops import redact_patterns

    docs = spark.createDataFrame(
        [
            (1, "mail a.user@example.com or call 555-867-5309 room 42"),
            (2, "no pii here"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in redact_patterns(docs, "text").collect()}
    assert got[1]["redacted"] == "mail <email> or call <phone> room <number>"
    # email digits were consumed by the email class, phone by the phone
    # class — the number class only sees '42'
    assert (got[1]["n_email"], got[1]["n_phone"], got[1]["n_number"]) == (1, 1, 1)
    assert got[2]["redacted"] == "no pii here"
    assert (got[2]["n_email"], got[2]["n_phone"], got[2]["n_number"]) == (0, 0, 0)


def test_tpch_q1_rollup_levels_consistent(spark):
    """The three ROLLUP levels must be internally consistent: leaf rows
    sum to their returnflag subtotal, subtotals to the grand total, and
    gid carries Spark's grouping_id bitmask (0 leaf, 1 subtotal, 3
    total)."""
    from shaha_spark.catalog import queries

    rows = queries()["tpch_q1_rollup"](spark, "/root/testdata/sf0.001").collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    assert set(by_gid) == {0, 1, 3}
    assert len(by_gid[3]) == 1
    total = by_gid[3][0]
    assert total.l_returnflag is None and total.l_linestatus is None
    assert total.count_order == sum(r.count_order for r in by_gid[0])
    for sub in by_gid[1]:
        leaves = [r for r in by_gid[0] if r.l_returnflag == sub.l_returnflag]
        assert sub.count_order == sum(r.count_order for r in leaves)
        # the subtotal is the cast of the exact decimal sum, while
        # summing the leaf DOUBLES re-rounds per leaf — equal to
        # float tolerance, not bit-equal (why the oracle compares the
        # rollup rows directly instead of re-deriving levels)
        leaf_qty = sum(r.sum_qty for r in leaves)
        assert abs(sub.sum_qty - leaf_qty) <= 1e-9 * max(abs(leaf_qty), 1.0)
    assert total.sum_charge > 0


def test_tpch_q1_rollup_plans_single_scan_expand(spark):
    """ROLLUP must plan ONE scan + Expand, not three aggregations."""
    from shaha_spark.catalog import queries

    plan = queries()["tpch_q1_rollup"](
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    assert plan.count("FileScan") <= 1
