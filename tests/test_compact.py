"""Compaction: fragmentation detection, sort preservation, no-op path."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from shaha_spark.pipeline.build import build, read_hashdb, read_sidecar
from shaha_spark.pipeline.compact import compact_hashdb, plan_compaction


def _fragmented_db(spark, tmp_path, words=200):
    wdf = spark.createDataFrame(
        [(f"word{i:04d}",) for i in range(words)], "word string"
    )
    out = str(tmp_path / "db")
    build(
        spark,
        wdf,
        ["sha256"],
        out,
        num_files=16,  # deliberately fragmented
    )
    return out


def _assert_sorted_and_range_disjoint(spark, out):
    """Every live file is internally hash-sorted and the files of each
    directory are pairwise range-disjoint (the prefix-scan pruning
    invariant)."""
    import pyarrow.parquet as pq

    from shaha_spark.pipeline.snapshot import live_files

    ranges = []
    for p, _ in live_files(spark, out):
        lp = p[len("file:"):] if p.startswith("file:") else p
        t = pq.read_table(lp, columns=["hash"])
        h = [bytes(v) for v in t.column("hash").to_pylist()]
        assert h == sorted(h), p
        ranges.append((p.rpartition("/")[0], h[0], h[-1], p))
    ranges.sort()
    for (da, _, hi_a, pa), (db, lo_b, _, pb) in zip(ranges, ranges[1:]):
        assert da != db or hi_a <= lo_b, (pa, pb)


def test_compact_merges_files_and_preserves_content(spark, tmp_path):
    out = _fragmented_db(spark, tmp_path)
    before = read_hashdb(spark, out)
    before_rows = sorted(r["hash"] for r in before.select("hash").collect())
    meta_before = read_sidecar(spark, out)

    plan = plan_compaction(spark, out)
    assert plan["n_files"] == 16 and plan["needed"]

    result = compact_hashdb(spark, out)
    assert result["compacted"] and result["files_after"] == plan["target_files"] == 1

    after = read_hashdb(spark, out)
    after_rows = [r["hash"] for r in after.select("hash").collect()]
    assert sorted(after_rows) == before_rows
    # global hash sort preserved (the point-lookup/prefix-scan invariant)
    assert after_rows == sorted(after_rows)
    # logical sidecar metadata carried over
    meta_after = read_sidecar(spark, out)
    assert meta_after["total_records"] == meta_before["total_records"]
    assert meta_after["algorithms"] == meta_before["algorithms"]


def test_compact_noop_when_within_target(spark, tmp_path):
    out = _fragmented_db(spark, tmp_path)
    compact_hashdb(spark, out)
    second = compact_hashdb(spark, out)
    assert second["compacted"] is False  # already at target layout


def test_compacted_db_still_answers_queries(spark, tmp_path):
    from shaha_spark.query import query

    out = _fragmented_db(spark, tmp_path)
    import hashlib

    target = hashlib.sha256(b"word0042").hexdigest()
    assert query(spark, out, target).count() == 1
    compact_hashdb(spark, out)
    rows = query(spark, out, target).collect()
    assert len(rows) == 1 and rows[0]["preimage"] == "word0042"


@pytest.mark.slow  # heavy lifecycle tier -> `make test-slow` (VERDICT r12 #2)
def test_compact_cli_verb(spark, tmp_path):
    import json
    import subprocess
    import sys

    out = _fragmented_db(spark, tmp_path)
    env_cmd = [sys.executable, "-m", "shaha_spark", "compact", "-d", out,
               "--target-file-mb", "128"]
    proc = subprocess.run(
        env_cmd, capture_output=True, text=True, cwd="/root/repo", timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout)
    assert result["compacted"] is True and result["files_after"] == 1


def test_compact_preserves_partitioned_layout(spark, tmp_path):
    from shaha_spark.io_util import list_files

    wdf = spark.createDataFrame(
        [(f"word{i:04d}",) for i in range(100)], "word string"
    )
    out = str(tmp_path / "pdb")
    build(
        spark, wdf, ["sha256", "md5"], out,
        num_files=8, partition_by_algorithm=True,
    )
    assert any("/algorithm=" in p for p, _ in list_files(spark, out))
    result = compact_hashdb(spark, out, force=True)
    assert result["compacted"]
    # still hive-partitioned after the rewrite
    files = list_files(spark, out)
    assert files and all("/algorithm=" in p for p, _ in files)
    _assert_sorted_and_range_disjoint(spark, out)
    back = read_hashdb(spark, out)
    assert back.count() == 200
    assert {r["algorithm"] for r in back.select("algorithm").distinct().collect()} == {"md5", "sha256"}


def test_slice_plan_groups_contiguous_small_files(spark, tmp_path):
    out = _fragmented_db(spark, tmp_path)  # 16 small range-adjacent files
    plan = plan_compaction(spark, out, target_file_bytes=64 << 20)
    assert plan["needed"]
    # all 16 files are tiny vs the 1 MB target → batched into slices,
    # every slice has >= 2 files
    assert plan["slice_files"] == 16
    assert all(len(s["files"]) >= 2 for s in plan["slices"])


def test_slice_compaction_rewrites_only_slices(spark, tmp_path):
    from shaha_spark.io_util import list_files

    out = _fragmented_db(spark, tmp_path)
    before = read_hashdb(spark, out)
    before_hashes = sorted(r["hash"] for r in before.select("hash").collect())
    meta_before = read_sidecar(spark, out)

    result = compact_hashdb(spark, out, target_file_bytes=64 << 20)
    assert result["compacted"]
    assert result["slices_compacted"] == result["n_slices"] > 0

    files = [p for p, _ in list_files(spark, out)]
    assert len(files) < 16
    assert not any("_incoming" in p for p in files)  # staging cleaned up

    after = read_hashdb(spark, out)
    after_hashes = [r["hash"] for r in after.select("hash").collect()]
    assert sorted(after_hashes) == before_hashes
    meta_after = read_sidecar(spark, out)
    assert meta_after["total_records"] == meta_before["total_records"]


def test_slice_compaction_preserves_per_file_sort_and_queries(spark, tmp_path):
    import hashlib

    from shaha_spark.query import query

    out = _fragmented_db(spark, tmp_path)
    compact_hashdb(spark, out, target_file_bytes=64 << 20)
    _assert_sorted_and_range_disjoint(spark, out)

    target = hashlib.sha256(b"word0042").hexdigest()
    rows = query(spark, out, target).collect()
    assert len(rows) == 1 and rows[0]["preimage"] == "word0042"


def test_slice_compaction_respects_max_slices(spark, tmp_path):
    out = _fragmented_db(spark, tmp_path)
    # ~66 KB/file (adaptive bloom, round 4) x 16; a 512 KB target caps
    # each slice at 768 KB, so the 16 files split across >= 2 slices
    plan = plan_compaction(spark, out, target_file_bytes=512 << 10)
    assert plan["n_slices"] >= 2
    result = compact_hashdb(spark, out, target_file_bytes=512 << 10, max_slices=1)
    assert result["slices_compacted"] == 1
    again = plan_compaction(spark, out, target_file_bytes=512 << 10)
    assert again["n_slices"] < plan["n_slices"]


def test_slice_compaction_partitioned_never_merges_across_partitions(spark, tmp_path):
    from shaha_spark.io_util import list_files

    wdf = spark.createDataFrame(
        [(f"word{i:04d}",) for i in range(100)], "word string"
    )
    out = str(tmp_path / "pdb2")
    build(
        spark, wdf, ["sha256", "md5"], out,
        num_files=8, partition_by_algorithm=True,
    )
    result = compact_hashdb(spark, out, target_file_bytes=64 << 20)
    assert result["slices_compacted"] > 0
    files = list_files(spark, out)
    assert files and all("/algorithm=" in p for p, _ in files)
    _assert_sorted_and_range_disjoint(spark, out)
    back = read_hashdb(spark, out)
    assert back.count() == 200
    by_algo = {
        r["algorithm"]: r["n"]
        for r in back.groupBy("algorithm").agg(F.count("*").alias("n")).collect()
    }
    assert by_algo == {"md5": 100, "sha256": 100}


def test_compaction_commits_every_run_in_one_swap(spark, tmp_path, monkeypatch):
    """A compaction of several runs writes one swap manifest, merges each
    run into one file and leaves every file hash-sorted and range-disjoint."""
    from shaha_spark import io_util
    from shaha_spark.pipeline.compact import MANIFEST_SUFFIX

    out = _fragmented_db(spark, tmp_path)
    before = sorted(r["hash"] for r in read_hashdb(spark, out).select("hash").collect())
    # a 512 KB target caps a run at 768 KB: the 16 files form >= 2 runs
    plan = plan_compaction(spark, out, target_file_bytes=512 << 10)
    assert plan["n_slices"] >= 2
    manifests = []
    real = io_util.write_text_atomic

    def counting(spark_, path, content):
        if path.endswith(MANIFEST_SUFFIX):
            manifests.append(path)
        real(spark_, path, content)

    monkeypatch.setattr(io_util, "write_text_atomic", counting)
    result = compact_hashdb(spark, out, target_file_bytes=512 << 10)
    monkeypatch.undo()

    assert len(manifests) == 1
    assert result["slices_compacted"] == plan["n_slices"]
    assert result["files_after"] == 16 - plan["slice_files"] + plan["n_slices"]
    assert result["files_after"] == plan_compaction(spark, out)["n_files"]
    _assert_sorted_and_range_disjoint(spark, out)
    after = sorted(r["hash"] for r in read_hashdb(spark, out).select("hash").collect())
    assert after == before
    assert read_sidecar(spark, out)["total_records"] == len(before)


def test_compaction_ignores_the_session_max_records_per_file(spark, tmp_path):
    """``spark.sql.files.maxRecordsPerFile`` on the session does not split
    a compaction's output: the write pins one file per task."""
    from shaha_spark.pipeline.snapshot import live_files

    wdf = spark.createDataFrame([(f"word{i:04d}",) for i in range(3000)], "word string")
    out = str(tmp_path / "db")
    build(spark, wdf, ["sha256", "md5"], out, num_files=8)
    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key)
    spark.conf.set(key, "100")
    try:
        result = compact_hashdb(spark, out, force=True)
    finally:
        spark.conf.set(key, old)
    assert result["target_files"] == 1
    assert result["files_after"] == len(live_files(spark, out)) == 1
    assert read_hashdb(spark, out).count() == 6000
    _assert_sorted_and_range_disjoint(spark, out)


@pytest.mark.slow  # heavy lifecycle tier -> `make test-slow` (VERDICT r12 #2)
def test_compact_cli_slices_verb(spark, tmp_path):
    import json
    import subprocess
    import sys

    out = _fragmented_db(spark, tmp_path)
    base = [sys.executable, "-m", "shaha_spark", "compact", "-d", out,
            "--target-file-mb", "64"]
    dry = subprocess.run(
        base + ["--dry-run"], capture_output=True, text=True,
        cwd="/root/repo", timeout=300,
    )
    assert dry.returncode == 0, dry.stderr[-2000:]
    plan = json.loads(dry.stdout)
    assert plan["needed"] and plan["slice_files"] == 16

    proc = subprocess.run(
        base, capture_output=True, text=True, cwd="/root/repo", timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout)
    assert result["slices_compacted"] >= 1


def test_recover_drops_uncommitted_stage(spark, tmp_path):
    """Crash BEFORE the manifest: originals all live, the staged file is
    redundant — recovery drops it and data is unchanged."""
    import shutil

    from shaha_spark.pipeline.compact import recover_slices

    out = _fragmented_db(spark, tmp_path)
    n_before = read_hashdb(spark, out).count()
    some = next(p for p, _ in __import__("shaha_spark.io_util", fromlist=["x"]).list_files(spark, out))
    local = some[len("file:"):] if some.startswith("file:") else some
    staged = f"{out}/_incoming-slice-deadbeef.zstd.parquet"
    shutil.copy(local, staged)

    rec = recover_slices(spark, out)
    assert rec == {"rolled_forward": 0, "dropped_stages": 1}
    assert read_hashdb(spark, out).count() == n_before
    # and compaction sweeps it implicitly too (idempotent)
    result = compact_hashdb(spark, out, target_file_bytes=64 << 20)
    assert result["recovered"]["dropped_stages"] == 0


def test_recover_rolls_forward_committed_swap(spark, tmp_path):
    """Crash AFTER the manifest + original deletes but BEFORE the staged
    file went visible: the staged file holds the only copy — recovery
    must make it visible, never drop it."""
    import json
    import os

    from shaha_spark import io_util
    from shaha_spark.pipeline.compact import MANIFEST_SUFFIX, recover_slices

    out = _fragmented_db(spark, tmp_path)
    n_before = read_hashdb(spark, out).count()
    files = [p for p, _ in io_util.list_files(spark, out)]
    victim = files[0]
    d = os.path.dirname(victim)
    incoming = f"{d}/_incoming-slice-cafebabe.zstd.parquet"
    final = f"{d}/slice-cafebabe.zstd.parquet"
    # simulate: victim was merged into `incoming`, then deleted; crash
    # before the visibility rename
    assert io_util.rename(spark, victim, incoming)
    io_util.write_text(
        spark, incoming + MANIFEST_SUFFIX,
        json.dumps({"originals": [victim], "final": final}),
    )

    rec = recover_slices(spark, out)
    assert rec == {"rolled_forward": 1, "dropped_stages": 0}
    assert read_hashdb(spark, out).count() == n_before  # nothing lost
    names = [p for p, _ in io_util.list_files(spark, out)]
    assert any(p.endswith("slice-cafebabe.zstd.parquet") for p in names)
    assert not any("_incoming" in p for p in names)


@pytest.mark.parametrize("how", ["slices", "whole"])
def test_compaction_keeps_the_file_index(spark, tmp_path, how):
    from _hashdb_index import assert_index_exact, assert_lookups_match_directory

    out = _fragmented_db(spark, tmp_path)
    if how == "slices":
        assert compact_hashdb(spark, out, target_file_bytes=64 << 20)["slices_compacted"] >= 1
    else:
        assert compact_hashdb(spark, out, force=True)["files_after"] == 1
    assert_index_exact(spark, out)
    assert_lookups_match_directory(spark, out)
