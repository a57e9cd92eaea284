"""Targeted deletion (pipeline/forget.py): erase preimages by
rewriting only range-matching files, all of them in one swap; untouched
files stay byte-identical, the sidecar count tracks, queries stop
answering, and the operation is idempotent.
"""

from __future__ import annotations

import pytest

import hashlib

from pyspark.sql import functions as F

from shaha_spark.pipeline.build import build, read_hashdb, read_sidecar
from shaha_spark.pipeline.forget import (
    forget_digests,
    forget_preimages,
    plan_forget,
)
from shaha_spark import io_util


def _db(spark, tmp_path, words=300, num_files=8, algos=("sha256", "md5")):
    wdf = spark.createDataFrame(
        [(f"word{i:04d}",) for i in range(words)], "word string"
    )
    out = str(tmp_path / "db")
    build(spark, wdf, list(algos), out, num_files=num_files)
    return out


def _files(spark, path):
    return {p: sz for p, sz in io_util.list_files(spark, path)}


def test_forget_preimages_removes_all_algos_and_only_them(spark, tmp_path):
    out = _db(spark, tmp_path)
    meta0 = read_sidecar(spark, out)
    gone = ["word0007", "word0123"]
    report = forget_preimages(spark, out, gone)
    # 2 preimages x 2 algorithms
    assert report["rows_deleted"] == 4
    db = read_hashdb(spark, out)
    assert db.where(F.col("preimage").isin(gone)).count() == 0
    assert db.count() == meta0["total_records"] - 4
    assert read_sidecar(spark, out)["total_records"] == meta0["total_records"] - 4


def test_forget_rewrites_only_range_matching_files(spark, tmp_path):
    out = _db(spark, tmp_path)
    before = _files(spark, out)
    digest = hashlib.sha256(b"word0042").digest()
    plan = plan_forget(spark, out, [digest])
    # the global hash sort puts one digest in very few files
    assert 1 <= plan["candidate_files"] <= 2 < plan["total_files"]
    report = forget_digests(spark, out, [digest])
    assert report["rows_deleted"] == 1
    after = _files(spark, out)
    # every non-candidate file is still the same physical file
    cand = {c["file"] for c in plan["candidates"]}
    for p, sz in before.items():
        if p not in cand:
            assert after.get(p) == sz, f"untouched file changed: {p}"
    assert sum(1 for p in before if p not in after) == report["files_rewritten"] + report["files_dropped"]


def test_forget_is_idempotent_and_preserves_sort(spark, tmp_path):
    out = _db(spark, tmp_path)
    forget_preimages(spark, out, ["word0001"])
    second = forget_preimages(spark, out, ["word0001"])
    assert second["rows_deleted"] == 0
    # per-file hash sort (the lookup invariant) survives the rewrite
    for p in _files(spark, out):
        hashes = [r.hash for r in spark.read.parquet(p).select("hash").collect()]
        assert hashes == sorted(hashes)


def test_forgotten_word_no_longer_answers_queries(spark, tmp_path):
    from shaha_spark.query import query

    out = _db(spark, tmp_path)
    digest = hashlib.sha256(b"word0099").hexdigest()
    assert query(spark, out, digest).count() == 1
    forget_preimages(spark, out, ["word0099"], algorithms=["sha256"])
    assert query(spark, out, digest).count() == 0
    # md5 record of the same word survives an algorithm-scoped forget
    md5_digest = hashlib.md5(b"word0099").hexdigest()
    assert query(spark, out, md5_digest).count() == 1


def test_forget_whole_file_drops_it(spark, tmp_path):
    # tiny db in 1 file per algorithm partition; forgetting every word
    # must delete files outright rather than writing empty parquet
    wdf = spark.createDataFrame([("a",), ("b",)], "word string")
    out = str(tmp_path / "db2")
    build(spark, wdf, ["sha256"], out, num_files=1)
    report = forget_preimages(spark, out, ["a", "b"])
    assert report["rows_deleted"] == 2
    assert report["files_dropped"] >= 1
    assert read_sidecar(spark, out)["files"] == []
    assert read_hashdb(spark, out).count() == 0
    from shaha_spark.query import query

    assert query(spark, out, hashlib.sha256(b"a").hexdigest()).collect() == []


@pytest.mark.slow  # heavy lifecycle tier -> `make test-slow` (VERDICT r12 #2)
def test_cli_forget_subcommand(spark, tmp_path):
    """One subprocess drives dry-run plan then the real erase."""
    import json as _json
    import subprocess
    import sys

    out = _db(spark, tmp_path, words=50, num_files=2, algos=("sha256",))
    env_cmd = [sys.executable, "-m", "shaha_spark", "forget", "-d", out]
    plan = subprocess.run(
        env_cmd + ["-w", "word0003", "--dry-run"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert plan.returncode == 0, plan.stderr[-2000:]
    parsed = _json.loads(plan.stdout[plan.stdout.index("{"):])
    assert parsed["n_digests"] == 1 and parsed["candidate_files"] >= 1

    run = subprocess.run(
        env_cmd + ["-w", "word0003"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run.returncode == 0, run.stderr[-2000:]
    report = _json.loads(run.stdout[run.stdout.index("{"):])
    assert report["rows_deleted"] == 1
    db = read_hashdb(spark, out)
    assert db.where(F.col("preimage") == "word0003").count() == 0


def test_cli_forget_of_digests_and_words_is_one_forget(
    spark, tmp_path, monkeypatch, capsys
):
    """``forget -x D -w W`` erases the union in one forget: a file both
    sets touch is rewritten once."""
    import json

    from shaha_spark import cli, session

    out = _db(spark, tmp_path, words=20, num_files=1, algos=("sha256",))
    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    digest = hashlib.sha256(b"word0003").hexdigest()
    assert cli.main(["forget", "-d", out, "-x", digest, "-w", "word0005"]) == 0
    report = json.loads(capsys.readouterr().out)
    assert report["rows_deleted"] == 2
    assert report["files_rewritten"] == 1
    assert read_hashdb(spark, out).count() == 18


def test_forget_then_compact_roundtrip(spark, tmp_path):
    """Maintenance ops compose: forget leaves shrunken files,
    compaction merges them, and lookups stay correct throughout."""
    from shaha_spark.pipeline.compact import compact_hashdb
    from shaha_spark.query import query

    out = _db(spark, tmp_path, words=200, num_files=8, algos=("sha256",))
    gone = [f"word{i:04d}" for i in range(0, 50)]
    rep = forget_preimages(spark, out, gone)
    assert rep["rows_deleted"] == 50
    compact_hashdb(spark, out, target_file_bytes=1 << 20)
    db = read_hashdb(spark, out)
    assert db.count() == 150
    assert db.where(F.col("preimage").isin(gone)).count() == 0
    h = hashlib.sha256(b"word0150").hexdigest()
    assert query(spark, out, h).select("preimage").head()[0] == "word0150"
    # sort invariant survives both rewrites
    for p in _files(spark, out):
        hashes = [r.hash for r in spark.read.parquet(p).select("hash").collect()]
        assert hashes == sorted(hashes)


def test_forget_decrements_live_count_only(spark, tmp_path):
    """ADVICE r3: rows scrubbed from retained history copies must not
    decrement the sidecar's live total_records. After snapshot +
    compaction, one erased live record also gets scrubbed from its
    retained copy — the sidecar must still drop by exactly 1 per
    algorithm, not 2+."""
    from shaha_spark.pipeline import snapshot as snap
    from shaha_spark.pipeline.build import read_sidecar
    from shaha_spark.pipeline.compact import compact_hashdb

    out = _db(spark, tmp_path, words=300, num_files=8, algos=("sha256",))
    snap.snapshot_create(spark, out)
    compact_hashdb(spark, out, target_file_bytes=1 << 30)
    before = read_sidecar(spark, out)["total_records"]
    report = forget_preimages(spark, out, ["word0077"])
    # history copies were scrubbed too, so raw deletions exceed live
    assert report["rows_deleted"] > report["live_rows_deleted"]
    assert report["live_rows_deleted"] == 1
    after = read_sidecar(spark, out)["total_records"]
    assert after == before - 1
    # and the sidecar now matches a physical count of the live data
    from shaha_spark.pipeline.build import read_hashdb

    assert read_hashdb(spark, out).count() == after


def test_preimage_digests_scan_fallback_without_sidecar(spark, tmp_path):
    """The digest expansion (shared by the real run AND the CLI
    dry-run) must fall back to scanning for the algorithm list when
    the sidecar is missing — a dry-run that reports a no-op while the
    real run would delete rows is the worst possible plan output."""
    import os

    from shaha_spark.pipeline.forget import preimage_digests

    out = _db(spark, tmp_path, words=20, num_files=2)
    for name in os.listdir(out):
        if name.startswith("_shaha_meta"):
            io_util.delete(spark, f"{out}/{name}")
    assert read_sidecar(spark, out) is None
    ds = preimage_digests(spark, out, ["word0003"])
    # both algorithms recovered from the scan: 2 digests for 1 word
    assert len(ds) == 2 and len({len(d) for d in ds}) == 2


def test_forget_publish_crash_rolls_forward(spark, tmp_path, monkeypatch):
    """A forget whose swap fails at its second publish rename, after
    the manifest committed it and the originals were deleted, is rolled
    forward by the next run: erased digests gone, no original left, no
    stage left, and the sidecar count matches the data — including the
    rows of the file published before the failure."""
    import os

    from shaha_spark.pipeline.forget import preimage_digests

    out = _db(spark, tmp_path, words=300, num_files=8)
    total0 = read_sidecar(spark, out)["total_records"]
    digests = preimage_digests(spark, out, ["word0007", "word0123", "word0250"])
    hits = [
        c["file"]
        for c in plan_forget(spark, out, digests)["candidates"]
        if spark.read.parquet(c["file"]).where(F.col("hash").isin(digests)).count()
    ]
    assert len(hits) >= 2

    real_rename = io_util.rename
    publishes = []

    def failing_rename(spark_, src, dst):
        # the publish step: a staged forget file renamed visible
        base = os.path.basename(src)
        if base.startswith("_incoming-forget-") and base.endswith(".parquet"):
            publishes.append(src)
            if len(publishes) == 2:
                return False
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(io_util, "rename", failing_rename)
    with pytest.raises(IOError, match="rolls the swap forward"):
        forget_digests(spark, out, digests)
    monkeypatch.setattr(io_util, "rename", real_rename)
    staged = [p for p in _files(spark, out) if "_incoming-forget-" in p]
    assert len(staged) == len(hits) - 1

    report = forget_digests(spark, out, digests)
    assert report["recovered"]["rolled_forward"] == 1
    live = _files(spark, out)
    assert not any("_incoming" in p for p in live)
    assert not set(hits) & set(live)
    db = read_hashdb(spark, out)
    assert db.where(F.col("hash").isin(digests)).count() == 0
    assert read_sidecar(spark, out)["total_records"] == total0 - len(digests)
    assert db.count() == total0 - len(digests)
    # rewritten files keep the build's (hash, algorithm) order
    for p in live:
        if "forget-" in p:
            rows = [
                (bytes(r.hash), r.algorithm)
                for r in spark.read.parquet(p).select("hash", "algorithm").collect()
            ]
            assert rows == sorted(rows)


@pytest.mark.parametrize("index", ["kept", "rebuilt"])
def test_forget_keeps_the_file_index(spark, tmp_path, index):
    """A forget's swap replaces the index entry of every file it
    rewrites, and a file whose every row is erased leaves the index. A
    sidecar without an index (an older writer) gets one from the
    listing."""
    from _hashdb_index import assert_index_exact, assert_lookups_match_directory
    from shaha_spark.pipeline.build import put_sidecar

    out = _db(spark, tmp_path, words=300, num_files=8)
    if index == "rebuilt":
        meta = read_sidecar(spark, out)
        put_sidecar(spark, out, {k: v for k, v in meta.items() if k != "files"})
    whole = sorted(_files(spark, out))[3]
    digests = [bytes(r.hash) for r in spark.read.parquet(whole).select("hash").collect()]
    digests += [hashlib.sha256(b"word0007").digest(), hashlib.md5(b"word0250").digest()]
    report = forget_digests(spark, out, digests)
    assert report["files_dropped"] == 1 and report["files_rewritten"] >= 1
    assert_index_exact(spark, out)
    assert_lookups_match_directory(spark, out)


def test_forget_of_several_files_commits_one_swap(spark, tmp_path, monkeypatch):
    """A forget whose targets sit in several live files writes one swap
    manifest; every file stays hash-sorted and the index stays exact."""
    from _hashdb_index import assert_index_exact, assert_lookups_match_directory
    from shaha_spark.pipeline.compact import MANIFEST_SUFFIX
    from shaha_spark.pipeline.forget import preimage_digests

    out = _db(spark, tmp_path, words=300, num_files=8)
    total0 = read_sidecar(spark, out)["total_records"]
    digests = preimage_digests(spark, out, ["word0007", "word0123", "word0250"])
    manifests = []
    real = io_util.write_text_atomic

    def counting(spark_, path, content):
        if path.endswith(MANIFEST_SUFFIX):
            manifests.append(path)
        real(spark_, path, content)

    monkeypatch.setattr(io_util, "write_text_atomic", counting)
    report = forget_digests(spark, out, digests)
    monkeypatch.undo()

    assert report["files_rewritten"] >= 2
    assert report["live_rows_deleted"] == len(digests)
    assert len(manifests) == 1
    assert read_sidecar(spark, out)["total_records"] == total0 - len(digests)
    for p in _files(spark, out):
        rows = [
            (bytes(r.hash), r.algorithm)
            for r in spark.read.parquet(p).select("hash", "algorithm").collect()
        ]
        assert rows == sorted(rows), p
    assert_index_exact(spark, out)
    assert_lookups_match_directory(spark, out)


def test_planning_reads_index_entries_not_footers(spark, tmp_path, monkeypatch):
    """``plan_forget`` and ``forget_digests`` on an indexed database
    with a snapshot and retained copies read no footer of a live or
    retained file: their ranges come from the sidecar's index and the
    snapshot's entries. (The swap still reads the footers of the files
    it stages, for their index entries.) The erasure reaches both."""
    import os

    from shaha_spark.pipeline import compact, forget
    from shaha_spark.pipeline import snapshot as snap

    out = _db(spark, tmp_path, words=300, num_files=8)
    snap.snapshot_create(spark, out)
    more = spark.createDataFrame([("extra",)], "word string")
    build(spark, more, ["sha256", "md5"], out, source_name="more", append=True)
    assert io_util.list_files(spark, out + "/_snapshots/retained")

    real = compact.hash_range

    def staged_only(path):
        if not os.path.basename(path).startswith("_incoming-"):
            raise AssertionError(f"footer read of {path}")
        return real(path)

    monkeypatch.setattr(compact, "hash_range", staged_only)
    monkeypatch.setattr(forget, "hash_range", staged_only)
    digest = hashlib.sha256(b"word0042").digest()
    plan = plan_forget(spark, out, [digest])
    files = [c["file"] for c in plan["candidates"]]
    assert any("/_snapshots/retained/" in f for f in files)
    assert any("/_snapshots/" not in f for f in files)
    assert plan["total_files"] == 8 + len(snap.live_files(spark, out))
    report = forget_digests(spark, out, [digest])
    monkeypatch.undo()

    assert report["rows_deleted"] == 2 and report["live_rows_deleted"] == 1
    assert read_hashdb(spark, out).where(F.col("hash") == digest).count() == 0
    old = snap.read_snapshot(spark, out, 1)
    assert old.count() == 599 and old.where(F.col("hash") == digest).count() == 0
