"""Append-merge scenario tests (J1), mirroring ref tests/integration.rs:237-325:
three-way outcome — merged record (both sources), untouched record
(existing only), new record (new source only)."""

from __future__ import annotations

import hashlib
import sys

import pytest

from shaha_spark.pipeline import build as _  # noqa: F401

build_mod = sys.modules["shaha_spark.pipeline.build"]

from shaha_spark.pipeline.append import append_merge  # noqa: E402
from shaha_spark.pipeline.stats import info  # noqa: E402
from shaha_spark.query import query  # noqa: E402


def test_append_mode_merges_sources(spark, tmp_path):
    path = str(tmp_path / "db")

    # Step 1: initial database from "wordlist1" (hello, world)
    w1 = spark.createDataFrame([("hello",), ("world",)], "word string")
    build_mod.build(spark, w1, ["sha256"], path, source_name="wordlist1", source_hash="h1")

    # Step 2: append "wordlist2" (hello overlaps, test is new)
    w2 = spark.createDataFrame([("hello",), ("test",)], "word string")
    res = build_mod.build(
        spark, w2, ["sha256"], path,
        source_name="wordlist2", source_hash="h2", append=True,
    )
    assert res["total_records"] == 3

    def lookup(word):
        digest = hashlib.sha256(word.encode()).hexdigest()
        rows = query(spark, path, digest, algorithm="sha256").collect()
        assert len(rows) == 1
        return rows[0]

    merged = lookup("hello")
    assert merged.preimage == "hello"
    assert merged.sources == ["wordlist2", "wordlist1"] or merged.sources == [
        "wordlist1",
        "wordlist2",
    ]
    untouched = lookup("world")
    assert untouched.sources == ["wordlist1"]
    new = lookup("test")
    assert new.sources == ["wordlist2"]

    meta = info(spark, path)
    assert meta["total_records"] == 3
    assert meta["sources"] == ["wordlist1", "wordlist2"]
    assert meta["algorithms"] == ["sha256"]


def test_append_merge_existing_preimage_wins(spark):
    # Colliding (hash, algorithm) keys keep the existing preimage and
    # existing source order (ref build.rs:188-196).
    from shaha_spark.schema import HASH_DB_SCHEMA

    existing = spark.createDataFrame(
        [(b"\x01", "old-preimage", "sha256", ["a", "b"])], HASH_DB_SCHEMA
    )
    new = spark.createDataFrame(
        [(b"\x01", "new-preimage", "sha256", ["b", "c"])], HASH_DB_SCHEMA
    )
    rows = append_merge(existing, new).collect()
    assert len(rows) == 1
    assert rows[0].preimage == "old-preimage"
    assert rows[0].sources == ["a", "b", "c"]


def test_append_merge_disjoint_passthrough(spark):
    from shaha_spark.schema import HASH_DB_SCHEMA

    existing = spark.createDataFrame([(b"\x01", "p1", "sha256", ["s1"])], HASH_DB_SCHEMA)
    new = spark.createDataFrame([(b"\x02", "p2", "md5", ["s2"])], HASH_DB_SCHEMA)
    rows = {r.preimage: r for r in append_merge(existing, new).collect()}
    assert rows["p1"].sources == ["s1"]
    assert rows["p2"].sources == ["s2"]
    assert len(rows) == 2


def test_append_twice_same_source_idempotent_sources(spark, tmp_path):
    path = str(tmp_path / "db2")
    w = spark.createDataFrame([("alpha",)], "word string")
    build_mod.build(spark, w, ["md5"], path, source_name="list", source_hash="x1")
    # force re-add of same content under the same source name
    build_mod.build(
        spark, w, ["md5"], path, source_name="list", source_hash="x1",
        append=True, force=True,
    )
    rows = query(spark, path, "").collect()
    assert len(rows) == 1
    assert rows[0].sources == ["list"]  # array_union dedups


def test_append_recovers_metadata_when_sidecar_missing(spark, tmp_path):
    """A deleted sidecar (or a crash between swap and sidecar write) must
    not make the post-append sidecar misreport provenance: algorithms and
    sources of the existing data are recovered by scanning."""
    from shaha_spark import io_util
    from shaha_spark.schema import SIDECAR_NAME

    path = str(tmp_path / "db3")
    w1 = spark.createDataFrame([("hello",), ("world",)], "word string")
    build_mod.build(spark, w1, ["sha256", "md5"], path, source_name="first")
    io_util.delete(spark, f"{path}/{SIDECAR_NAME}")

    w2 = spark.createDataFrame([("test",)], "word string")
    res = build_mod.build(spark, w2, ["sha256"], path, source_name="second", append=True)
    assert res["total_records"] == 5
    assert res["algorithms"] == ["md5", "sha256"]
    assert res["sources"] == ["first", "second"]

    meta = info(spark, path)  # metadata fast path reads the NEW sidecar
    assert meta["from_metadata"] is True
    assert meta["algorithms"] == ["md5", "sha256"]
    assert meta["sources"] == ["first", "second"]


def test_concurrent_append_lock(spark, tmp_path):
    from shaha_spark import io_util

    path = str(tmp_path / "db4")
    w = spark.createDataFrame([("hello",)], "word string")
    build_mod.build(spark, w, ["sha256"], path, source_name="base")

    lock = path + ".__append_lock__"
    assert io_util.create_marker(spark, lock)
    w2 = spark.createDataFrame([("world",)], "word string")
    with pytest.raises(RuntimeError, match="append.*in progress"):
        build_mod.build(spark, w2, ["sha256"], path, source_name="other", append=True)
    io_util.delete(spark, lock)

    # lock is released after a successful append
    res = build_mod.build(spark, w2, ["sha256"], path, source_name="other", append=True)
    assert res["total_records"] == 2
    assert not io_util.exists(spark, lock)


def test_a_verb_started_during_an_append_finds_the_lock(spark, tmp_path, monkeypatch):
    """Every writer takes the database's lock, not only append. A forget
    started while an append sits between staging its files and writing
    its manifest raises, and the append lands every row. Without the
    lock, the forget's recovery drops the append's stage, the append
    commits a manifest whose files are gone, and every later verb
    raises on it."""
    import re

    from shaha_spark import io_util
    from shaha_spark.pipeline.compact import MANIFEST_SUFFIX
    from shaha_spark.pipeline.forget import forget_digests

    path = str(tmp_path / "db")
    w1 = spark.createDataFrame([(f"a{i:03d}",) for i in range(50)], "word string")
    build_mod.build(spark, w1, ["sha256"], path, source_name="w1", num_files=2)
    gone = hashlib.sha256(b"a007").digest()
    real = io_util.write_text_atomic
    nested = []

    def forget_first(spark_, p, content):
        if p.endswith(MANIFEST_SUFFIX) and not nested:
            nested.append(None)
            try:
                forget_digests(spark, path, [gone])
            except RuntimeError as err:
                nested[0] = err
        real(spark_, p, content)

    monkeypatch.setattr(io_util, "write_text_atomic", forget_first)
    w2 = spark.createDataFrame([(f"b{i:03d}",) for i in range(20)], "word string")
    res = build_mod.build(spark, w2, ["sha256"], path, source_name="w2", append=True)
    monkeypatch.undo()

    assert re.search("append.*in progress", str(nested[0]))
    assert res["total_records"] == 70
    assert build_mod.read_hashdb(spark, path).count() == 70
    assert forget_digests(spark, path, [gone])["live_rows_deleted"] == 1


def test_append_keeps_the_file_index(spark, tmp_path):
    """The append's swap writes the index of the files it publishes."""
    from _hashdb_index import assert_index_exact, assert_lookups_match_directory

    path = str(tmp_path / "db")
    w1 = spark.createDataFrame([(f"a{i:03d}",) for i in range(200)], "word string")
    build_mod.build(spark, w1, ["md5", "sha256"], path, source_name="w1", num_files=4)
    w2 = spark.createDataFrame([(f"a{i:03d}",) for i in range(150, 260)], "word string")
    build_mod.build(spark, w2, ["md5", "sha256"], path, source_name="w2", append=True)
    assert_index_exact(spark, path)
    assert_lookups_match_directory(spark, path)
