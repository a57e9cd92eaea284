"""Build → query round-trips through real Parquet.

Modeled on the reference's integration tests: write→query round trip
incl. 4-byte prefix (ref tests/integration.rs:124-151), algorithm
filter (:154-190), limit incl. over-limit (:371-406), negative lookup
(:328-368), stats (:193-234), empty input (:409-419).
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from shaha_spark.pipeline import build as _  # noqa: F401  (package init)
import sys
build_mod = sys.modules["shaha_spark.pipeline.build"]
from shaha_spark.pipeline.stats import info, scan_stats
from shaha_spark.query import prefix_predicate, prefix_successor, query

WORDS = ["password", "hello", "world", "hunter2", "correct horse battery staple"]


@pytest.fixture(scope="module")
def db_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("hashdb") / "db")
    words = spark.createDataFrame([(w,) for w in WORDS + ["password", ""]], "word string")
    summary = build_mod.build(
        spark,
        words,
        ["sha256", "md5"],
        path,
        source_name="test-words",
        source_hash="deadbeef",
    )
    assert summary["total_records"] == len(WORDS) * 2  # dedup + empty filter
    return path


def test_round_trip_point_lookup(spark, db_path):
    digest = hashlib.sha256(b"password").hexdigest()
    rows = query(spark, db_path, digest).collect()
    assert len(rows) == 1
    assert rows[0].preimage == "password"
    assert rows[0].algorithm == "sha256"
    assert rows[0].sources == ["test-words"]


def test_round_trip_prefix_lookup(spark, db_path):
    digest = hashlib.sha256(b"password").hexdigest()
    rows = query(spark, db_path, digest[:8]).collect()  # 4-byte prefix
    assert {r.preimage for r in rows} == {"password"}


def test_empty_prefix_matches_all(spark, db_path):
    # ref tests/integration.rs:395-396
    assert query(spark, db_path, "").count() == len(WORDS) * 2


def test_algorithm_filter(spark, db_path):
    rows = query(spark, db_path, "", algorithm="md5").collect()
    assert len(rows) == len(WORDS)
    assert all(r.algorithm == "md5" and len(r.hash) == 16 for r in rows)


def test_limit(spark, db_path):
    assert len(query(spark, db_path, "", limit=3).collect()) == 3
    # over-limit returns all (ref integration.rs:371-406)
    assert len(query(spark, db_path, "", limit=10_000).collect()) == len(WORDS) * 2


def test_negative_lookup(spark, db_path):
    assert query(spark, db_path, "00" * 32).count() == 0


def test_bad_hex_raises(spark, db_path):
    with pytest.raises(ValueError):
        query(spark, db_path, "zz")


def test_sorted_by_hash(spark, db_path):
    hashes = [r.hash for r in build_mod.read_hashdb(spark, db_path).collect()]
    # file order == partition order == global sort order
    assert hashes == sorted(hashes)


def test_info_sidecar_and_fallback(spark, db_path):
    meta = info(spark, db_path)
    assert meta["from_metadata"] is True
    assert meta["total_records"] == len(WORDS) * 2
    assert meta["algorithms"] == ["md5", "sha256"]
    assert meta["sources"] == ["test-words"]
    scan = scan_stats(spark, db_path)
    assert scan["total_records"] == meta["total_records"]
    assert scan["algorithms"] == meta["algorithms"]
    assert scan["sources"] == meta["sources"]


def test_idempotence_gate(spark, db_path):
    words = spark.createDataFrame([("password",)], "word string")
    res = build_mod.build(
        spark, words, ["sha256"], db_path,
        source_name="test-words", source_hash="deadbeef", append=True,
    )
    assert res["skipped"] is True


def test_dry_run(spark):
    # ref build.rs:253-327 + integration.rs:668-707 ("Unique words: 2" from 3 lines)
    words = spark.createDataFrame([("a",), ("b",), ("a",)], "word string")
    res = build_mod.build(spark, words, ["sha256", "md5"], "/tmp/unused", dry_run=True)
    assert res == {
        "dry_run": True,
        "total_words": 3,
        "unique_words": 2,
        "duplicates": 1,
        "records_to_generate": 4,
    }


def test_prefix_successor():
    assert prefix_successor(b"\xab\x12") == b"\xab\x13"
    assert prefix_successor(b"\xab\xff") == b"\xac"
    assert prefix_successor(b"\xff\xff") is None


def test_prefix_range_pushdown(spark, db_path):
    # The physical scan must carry pushed filters on `hash` for both
    # the range and equality forms (P2/P10).
    df = build_mod.read_hashdb(spark, db_path).filter(prefix_predicate(b"\xab\xcd"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(hash), GreaterThanOrEqual(hash" in plan, plan


def test_half_byte_prefix_unsupported():
    # odd-length hex = half-byte prefix; not expressible (ref query.rs:69)
    from shaha_spark.schema import hex_to_bytes

    with pytest.raises(ValueError):
        hex_to_bytes("abc")


def test_empty_wordlist_build(spark, tmp_path):
    # ref integration.rs:472-481: empty batch -> no data; our dataset-level
    # equivalent: a valid empty database that queries and reports cleanly
    path = str(tmp_path / "empty_db")
    words = spark.createDataFrame([("",), ("",)], "word string")  # all filtered
    res = build_mod.build(spark, words, ["sha256"], path, source_name="none")
    assert res["total_records"] == 0
    assert query(spark, path, "").count() == 0
    assert info(spark, path)["total_records"] == 0


def test_fused_dedup_rides_the_range_shuffle(spark):
    """sort_for_write(dedup=True) must add NO exchange beyond the range
    partition itself: RangePartitioning(hash) co-locates equal keys, so
    the (hash, algorithm) window dedup is partition-local. One exchange
    fewer than a separate dropDuplicates pass — the point of the fusion."""
    import re

    from shaha_spark.pipeline.build import hash_fanout, sort_for_write

    words = spark.createDataFrame(
        [(f"w{i}",) for i in range(50)], "word string"
    )
    rec = hash_fanout(words, ["sha256", "md5"])
    fused = sort_for_write(rec, num_files=4, dedup=True)
    plan = fused._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert exchanges == ["rangepartitioning"], exchanges
    # the rank filter plan-rewrites to WindowGroupLimit (no rank column
    # materialized per row)
    assert "WindowGroupLimit" in plan


def test_fused_dedup_equals_separate_dedup_and_is_collision_strict(spark):
    from pyspark.sql import functions as F

    from shaha_spark.pipeline.build import (
        dedup_records,
        hash_fanout,
        sort_for_write,
    )

    words = spark.createDataFrame(
        [(f"word{i % 40}",) for i in range(120)], "word string"
    ).dropDuplicates(["word"])
    rec = hash_fanout(words, ["sha256", "md5"])
    fused = sort_for_write(rec, num_files=3, dedup=True)
    separate = dedup_records(rec)
    key = lambda df: sorted(
        (bytes(r.hash).hex(), r.preimage, r.algorithm) for r in df.collect()
    )
    assert key(fused) == key(separate)

    # true first-wins on a genuine (hash, algorithm) collision: craft
    # two distinct preimages with an artificially identical digest by
    # unioning a duplicated record set
    dup = rec.union(rec.withColumn("preimage", F.concat(F.col("preimage"), F.lit("")) ))
    out = sort_for_write(dup, num_files=2, dedup=True)
    assert out.count() == rec.count()  # exactly one survivor per key


def test_build_result_unchanged_by_fusion(spark, tmp_path):
    """End-to-end build() parity: same rows, still globally hash-sorted."""
    import hashlib

    from pyspark.sql import functions as F

    from shaha_spark.pipeline.build import build, read_hashdb

    words = spark.createDataFrame(
        [(f"w{i:03d}",) for i in range(200)] + [("w000",)], "word string"
    )
    out = str(tmp_path / "fdb")
    res = build(spark, words, ["sha256", "md5"], out, num_files=4)
    assert res["total_records"] == 400  # dup word deduped, 200 x 2 algos
    df = read_hashdb(spark, out)
    got = {
        (bytes(r.hash).hex(), r.algorithm) for r in df.collect()
    }
    for i in range(200):
        w = f"w{i:03d}".encode()
        assert (hashlib.sha256(w).hexdigest(), "sha256") in got
        assert (hashlib.md5(w).hexdigest(), "md5") in got


def test_on_disk_density_guard(spark, tmp_path):
    """Adaptive bloom sizing (round 4): a small build must not carry
    megabyte fixed-size bloom filters. Regression guard for the
    61->32 B/record finding — a fixed 1M-ndv declaration would push
    this build past 300 B/record."""
    import glob
    import os

    from shaha_spark.pipeline.build import build

    words = spark.createDataFrame(
        [(f"w{i:04d}",) for i in range(5000)], "word string"
    )
    out = str(tmp_path / "dense")
    build(spark, words, ["sha256", "md5"], out, num_files=4)
    total = sum(
        os.path.getsize(f) for f in glob.glob(out + "/*.parquet")
    )
    bpr = total / 10_000
    assert bpr < 100, f"{bpr:.1f} B/record — bloom filters oversized again?"


def test_hashdb_files_use_the_writer_options(spark, tmp_path):
    """`hash` and `preimage` are ZSTD-compressed and never
    dictionary-encoded (build.WRITE_OPTIONS). Each record repeats 100
    times, because on unique values parquet-mr falls back to plain
    pages by itself; with repeats only the disabled dictionary keeps
    them plain."""
    import glob

    import pyarrow.parquet as pq

    from shaha_spark.pipeline.build import dedup_records, hash_fanout, write_hashdb

    words = spark.createDataFrame([(w,) for w in "abcd"], "word string")
    records = dedup_records(hash_fanout(words, ["sha256"])).withColumn(
        "sources", F.array(F.lit("src"))
    )
    path = str(tmp_path / "opts")
    write_hashdb(records.crossJoin(spark.range(100)).drop("id").repartition(2), path)
    files = glob.glob(f"{path}/*.parquet")
    assert files
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = md.schema.to_arrow_schema().names
        for name in ("hash", "preimage"):
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(names.index(name))
                assert col.compression == "ZSTD", (f, name, col.compression)
                assert not col.has_dictionary_page, (f, name, col.encodings)


# ------------------------------------------------- the sidecar's file index

from _hashdb_index import assert_index_exact, assert_lookups_match_directory  # noqa: E402


def _sixteen_file_db(spark, path, partition_by_algorithm=False):
    words = spark.createDataFrame([(f"w{i:04d}",) for i in range(400)], "word string")
    build_mod.build(
        spark, words, ["md5", "sha256"], path, source_name="s",
        num_files=16, partition_by_algorithm=partition_by_algorithm,
    )
    return path


@pytest.fixture(scope="module")
def db16(spark, tmp_path_factory):
    return _sixteen_file_db(spark, str(tmp_path_factory.mktemp("db16") / "db"))


@pytest.fixture(scope="module")
def db16_by_algorithm(spark, tmp_path_factory):
    return _sixteen_file_db(spark, str(tmp_path_factory.mktemp("db16a") / "db"), True)


@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "by-algorithm"])
def test_fresh_build_indexes_every_file(spark, db16, db16_by_algorithm, partitioned):
    db = db16_by_algorithm if partitioned else db16
    assert_index_exact(spark, db)
    assert_lookups_match_directory(spark, db)


def test_point_hit_reads_one_file(spark, db16):
    digest = hashlib.sha256(b"w0123").hexdigest()
    df = query(spark, db16, digest)
    assert len(df.inputFiles()) == 1
    assert [r.preimage for r in df.collect()] == ["w0123"]


def test_partitioned_point_hit_reads_one_file(spark, db16_by_algorithm):
    """On the ``algorithm=`` layout a sha256 hit skips the md5 files too,
    although a 16-byte ``[min, max]`` can bracket the 32-byte digest: no
    md5 digest starts with it."""
    for word in (b"w0123", b"w0007", b"w0399"):
        df = query(spark, db16_by_algorithm, hashlib.sha256(word).hexdigest())
        assert len(df.inputFiles()) == 1
        assert [r.preimage for r in df.collect()] == [word.decode()]


def test_digest_below_every_file_reads_nothing(spark, db16):
    df = query(spark, db16, "00" * 32)
    assert df.collect() == []
    assert df.schema == build_mod.read_hashdb(spark, db16).schema


def _drop_files_key(meta):
    return {k: v for k, v in meta.items() if k != "files"}


@pytest.mark.parametrize(
    "spoil", [_drop_files_key, "delete-file"], ids=["no-index", "file-deleted"],
)
def test_untrusted_index_reads_every_file(spark, tmp_path, db16, spoil):
    """Without an index the lookup reads the whole directory, and
    answers as a directory read does. An index naming a file that is
    gone makes the lookup raise: the index is the table, and a reader
    never answers from what is left of it."""
    import shutil

    db = str(tmp_path / "db")
    shutil.copytree(db16, db)
    digest = hashlib.sha256(b"w0123").digest()
    meta = build_mod.read_sidecar(spark, db)
    if spoil == "delete-file":
        holder = next(
            e["path"] for e in meta["files"]
            if bytes.fromhex(e["min"]) <= digest <= bytes.fromhex(e["max"])
        )
        os.remove(f"{db}/{holder}")
        with pytest.raises(Exception, match="PATH_NOT_FOUND"):
            query(spark, db, digest.hex()).collect()
        with pytest.raises(Exception, match="PATH_NOT_FOUND"):
            build_mod.read_hashdb(spark, db).count()
        return
    build_mod.put_sidecar(spark, db, spoil(meta))
    live = spark.read.parquet(db)
    df = query(spark, db, digest.hex())
    assert sorted(df.inputFiles()) == sorted(live.inputFiles())
    assert len(df.inputFiles()) == 16
    assert df.count() == live.where(F.col("hash") == digest).count() == 1


def test_a_file_disposed_of_under_a_read_fails_it(spark, tmp_path, db16):
    """A file the committed index names, deleted after ``query()`` or
    ``read_hashdb()`` built its read, fails the job: the session keeps
    ``spark.sql.files.ignoreMissingFiles`` false, so a reader racing a
    swap's disposal gets an error, never fewer rows."""
    import shutil

    assert spark.conf.get("spark.sql.files.ignoreMissingFiles") == "false"
    db = str(tmp_path / "db")
    shutil.copytree(db16, db)
    digest = hashlib.sha256(b"w0123").digest()
    lookup = query(spark, db, digest.hex())
    every = build_mod.read_hashdb(spark, db)
    for p in lookup.inputFiles():
        os.remove(p.removeprefix("file:"))
    for df in (lookup, every):
        with pytest.raises(Exception, match="FileNotFound|does not exist"):
            df.collect()


def test_sidecar_rewrite_never_shows_a_reader_a_torn_file(spark, tmp_path):
    """One thread rewrites the sidecar while another reads it: every
    read returns a complete sidecar (an in-place rewrite would let
    readers parse a truncated file; a delete-then-rename replace, find
    none)."""
    import threading

    db = str(tmp_path / "db")
    os.makedirs(db)
    meta = {"total_records": 1, "pad": "x" * 4000}
    build_mod.put_sidecar(spark, db, meta)
    stop = threading.Event()
    writes, errors = [], []

    def rewrite():
        try:
            while not stop.is_set():
                writes.append(len(writes))
                build_mod.put_sidecar(spark, db, {**meta, "n": len(writes)})
        except Exception as e:  # surfaced by the asserts below
            errors.append(e)

    writer = threading.Thread(target=rewrite)
    writer.start()
    try:
        reads = [build_mod.read_sidecar(spark, db) for _ in range(400)]
    finally:
        stop.set()
        writer.join(timeout=60)
    assert not writer.is_alive() and not errors
    assert len(writes) > 10
    assert all(r is not None and r["pad"] == meta["pad"] for r in reads)
