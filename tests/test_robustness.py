"""Robustness batch: query-path fuzz vs brute force, file: URIs,
partitioned append, multi-file glob inputs."""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from shaha_spark.pipeline.build import build, read_hashdb
from shaha_spark.query import query


@pytest.fixture(scope="module")
def fuzz_db(spark, tmp_path_factory):
    rng = random.Random(99)
    words = list({f"word{rng.randrange(10_000)}" for _ in range(500)})
    path = str(tmp_path_factory.mktemp("fuzz") / "db")
    df = spark.createDataFrame([(w,) for w in words], "word string")
    build(spark, df, ["sha256", "md5"], path, source_name="fuzz")
    digests = []
    for w in words:
        digests.append((hashlib.sha256(w.encode()).digest(), w, "sha256"))
        digests.append((hashlib.md5(w.encode()).digest(), w, "md5"))
    return path, digests


def test_query_prefix_fuzz_vs_brute_force(spark, fuzz_db):
    """Random prefixes of every length class — including full digests,
    prefixes taken from real digests, and random bytes — must return
    exactly the brute-force answer through the pushdown path."""
    path, digests = fuzz_db
    rng = random.Random(7)
    cases = []
    for _ in range(12):
        h, _, _ = digests[rng.randrange(len(digests))]
        ln = rng.choice([1, 2, 3, 4, 8, 15])
        cases.append(h[:ln])
    cases += [h for h, _, _ in rng.sample(digests, 4)]  # full digests
    cases += [bytes(rng.randrange(256) for _ in range(rng.choice([1, 2, 4])))
              for _ in range(8)]
    cases += [b"\xff", b"\x00"]

    for prefix in cases:
        got = {
            (r.hash, r.preimage, r.algorithm)
            for r in query(spark, path, prefix.hex()).collect()
        }
        if len(prefix) in (16, 32):  # full-length ⇒ point-lookup equality
            want = {t for t in digests if t[0] == prefix}
        else:
            want = {t for t in digests if t[0].startswith(prefix)}
        assert got == want, f"prefix {prefix.hex()}"


def test_build_and_query_via_file_uri(spark, tmp_path):
    # exercise the Hadoop-FS path with an explicit scheme (s3a:// proxy)
    path = "file://" + str(tmp_path / "uri_db")
    words = spark.createDataFrame([("alpha",), ("beta",)], "word string")
    res = build(spark, words, ["sha256"], path, source_name="uri")
    assert res["total_records"] == 2
    digest = hashlib.sha256(b"alpha").hexdigest()
    assert query(spark, path, digest).count() == 1
    from shaha_spark.pipeline.stats import info

    meta = info(spark, path)
    assert meta["from_metadata"] is True and meta["total_records"] == 2


def test_partitioned_append(spark, tmp_path):
    path = str(tmp_path / "pdb")
    w1 = spark.createDataFrame([("one",), ("two",)], "word string")
    build(spark, w1, ["sha256", "md5"], path, source_name="w1",
          partition_by_algorithm=True)
    w2 = spark.createDataFrame([("two",), ("three",)], "word string")
    res = build(spark, w2, ["sha256", "md5"], path, source_name="w2",
                append=True, partition_by_algorithm=True)
    assert res["total_records"] == 6
    digest = hashlib.md5(b"two").hexdigest()
    rows = query(spark, path, digest, algorithm="md5").collect()
    assert len(rows) == 1
    assert set(rows[0].sources) == {"w1", "w2"}


def test_multi_file_glob_input(spark, tmp_path):
    (tmp_path / "lists").mkdir()
    (tmp_path / "lists" / "a.txt").write_text("red\ngreen\n")
    (tmp_path / "lists" / "b.txt").write_text("green\nblue\n")
    from shaha_spark.sources.file import file_source

    res = file_source(spark, str(tmp_path / "lists" / "*.txt"))
    words = sorted(r.word for r in res.words.collect())
    assert words == ["blue", "green", "green", "red"]
    path = str(tmp_path / "globdb")
    build(spark, res.words, ["sha256"], path, source_name="glob")
    assert read_hashdb(spark, path).count() == 3


def test_kmeans_more_clusters_than_vectors(spark):
    # k > n: only n seeds exist; iterations must not fail or invent clusters
    from shaha_spark.operators.kmeans import kmeans_fit

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    cents = kmeans_fit(df, k=5, iters=2)
    rows = cents.collect()
    assert len(rows) == 2
    assert {r.centroid_id for r in rows} == {1, 2}
    assert sum(r.n_members for r in rows) == 2


def test_real_decode_truncated_headers_raise(spark):
    from shaha_spark.operators.multimodal import real_decode_header
    import pytest as _pytest

    for payload in (b"", b"\x89PNG\r\n\x1a\n", b"\x89PNG\r\n\x1a\nXXXXIHDR",
                    b"GIF89a", b"\xff\xd8\xff"):
        with _pytest.raises(NotImplementedError):
            real_decode_header(payload)


def test_real_decode_jpeg_fill_bytes_and_eoi():
    """Spec-valid JPEGs may pad any marker with 0xFF fill bytes; the
    walk must skip them instead of misreading the second 0xFF as a
    length-bearing marker. A stream ending in EOI with no SOF raises
    the contract error, not struct.error."""
    import struct

    import pytest as _pytest

    from shaha_spark.operators.multimodal import real_decode_header

    # SOI, fill-padded APP0 (len 4), fill-padded SOF0 (h=7, w=9)
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xff\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"
        + b"\xff\xff\xc0" + struct.pack(">H", 8) + b"\x08"
        + struct.pack(">HH", 7, 9) + b"\x01"
    )
    assert real_decode_header(jpeg) == (len(jpeg), "jpeg", 9, 7)
    # EOI right after SOI: clean NotImplementedError
    with _pytest.raises(NotImplementedError):
        real_decode_header(b"\xff\xd8\xff\xd9")


def test_real_decode_audio_video_truncated_raise_contract_error():
    """Payloads truncated inside the fmt chunk / largesize field /
    mvhd body must raise NotImplementedError (the codec-boundary
    contract), never escape as struct.error and kill the task."""
    import struct

    import pytest as _pytest

    from shaha_spark.operators.multimodal import (
        real_decode_audio,
        real_decode_video,
    )

    # RIFF/WAVE truncated inside the fmt chunk: channels/rate present,
    # bits-per-sample cut off (the exact window where the old i+16
    # guard passed but the i+22 read crashed)
    wav = (
        b"RIFF" + struct.pack("<I", 100) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIH", 1, 2, 44100, 0)  # 10 of 16 body bytes
    )
    with _pytest.raises(NotImplementedError):
        real_decode_audio(wav)
    # zero bits-per-sample must not divide by zero on the data chunk
    wav_zero_bits = (
        b"RIFF" + struct.pack("<I", 100) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 2, 44100, 0, 0, 0)
        + b"data" + struct.pack("<I", 8) + b"\x00" * 8
    )
    n, fmt, rate, ch, frames = real_decode_audio(wav_zero_bits)
    assert (fmt, rate, ch, frames) == ("wav", 44100, 2, 0)

    # MP4 ending 8 bytes into a largesize box header
    mp4 = (
        struct.pack(">I", 16) + b"ftyp" + b"isom\x00\x00\x00\x00"
        + struct.pack(">I", 1) + b"moov"
    )
    with _pytest.raises(NotImplementedError):
        real_decode_video(mp4)
    # moov whose declared size lies past payload end, truncated mvhd
    mp4b = (
        struct.pack(">I", 16) + b"ftyp" + b"isom\x00\x00\x00\x00"
        + struct.pack(">I", 4096) + b"moov"
        + struct.pack(">I", 4000) + b"mvhd" + b"\x01\x00\x00\x00"
    )
    with _pytest.raises(NotImplementedError):
        real_decode_video(mp4b)


def test_referential_check_empty_child_and_null_keys(spark):
    """Single-pass orphan counting must keep the two-pass contract:
    an EMPTY child reports 0 orphans (SUM over no rows is NULL without
    the coalesce), and NULL child keys count as orphans (a null never
    equals a parent key in either the old anti-join or the left join)."""
    from shaha_spark.operators.checks import referential_check

    parent = spark.createDataFrame([(1,), (2,)], "pk bigint")
    child = spark.createDataFrame(
        [(1,), (None,), (3,)], "fk bigint"
    )
    empty_child = spark.createDataFrame([], "fk bigint")
    report = {
        r.relation: (r.n_child_rows, r.n_orphans, r.passed)
        for r in referential_check(
            [
                ("child->parent", child, "fk", parent, "pk"),
                ("empty->parent", empty_child, "fk", parent, "pk"),
            ]
        ).collect()
    }
    assert report["child->parent"] == (3, 2, False)  # null + 3 are orphans
    assert report["empty->parent"] == (0, 0, True)


def _three_relations(spark, first_child):
    parent = spark.createDataFrame([(1,), (2,)], "pk bigint")
    child = spark.createDataFrame([(1,), (3,)], "fk bigint")
    other = spark.createDataFrame([(2,), (2,), (5,)], "fk bigint")
    a = first_child(child)
    return [
        ("a->p", a, "fk", parent, "pk"),
        ("b->p", other, "fk", parent, "pk"),
        ("a->p2", a, "fk", parent.where("pk = 3"), "pk"),
    ]


def test_referential_check_rows_come_grouped_by_child(spark):
    """The documented order: grouped by child in first-appearance
    order, input order within a group — so an interleaved relation
    list comes back regrouped."""
    from shaha_spark.operators.checks import referential_check

    rows = referential_check(_three_relations(spark, lambda df: df)).collect()
    assert [tuple(r) for r in rows] == [
        ("a->p", 2, 1, False),
        ("a->p2", 2, 2, False),
        ("b->p", 3, 1, False),
    ]


class _NoJvmHandle:
    """A DataFrame without the classic ``_jdf`` handle, as under Spark
    Connect; everything else delegates to a real DataFrame."""

    def __init__(self, df):
        self._df = df

    def __getattr__(self, name):
        if name == "_jdf":
            raise AttributeError(name)
        return getattr(self._df, name)


def test_referential_check_without_the_jvm_handle(spark):
    """Children without ``_jdf`` group by object identity instead of
    raising: the same report, in the same order."""
    from shaha_spark.operators.checks import referential_check

    rows = referential_check(_three_relations(spark, _NoJvmHandle)).collect()
    assert [tuple(r) for r in rows] == [
        ("a->p", 2, 1, False),
        ("a->p2", 2, 2, False),
        ("b->p", 3, 1, False),
    ]
