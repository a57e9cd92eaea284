"""Snapshot log + time travel + vacuum (pipeline/snapshot.py):

- a snapshot pins the exact row set across appends, forced compaction
  and run compaction (all one manifest swap) with RENAMES only;
- GDPR forget reaches history: erased rows leave every snapshot, the
  rest of the snapshot keeps reading; a fully-erased file becomes an
  explicit hole;
- vacuum expires manifests and reclaims retained bytes;
- snapshot internals never leak into live reads, stats, or plans.
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from shaha_spark import io_util
from shaha_spark.pipeline import snapshot as snap
from shaha_spark.pipeline.build import build, read_hashdb, read_sidecar
from shaha_spark.pipeline.compact import compact_hashdb, recover_slices
from shaha_spark.pipeline.forget import forget_preimages


def _db(spark, tmp_path, words=200, num_files=6, algos=("sha256",)):
    wdf = spark.createDataFrame(
        [(f"word{i:04d}",) for i in range(words)], "word string"
    )
    out = str(tmp_path / "db")
    build(spark, wdf, list(algos), out, num_files=num_files)
    return out


def _rows(df):
    return sorted(
        (bytes(r.hash).hex(), r.preimage, r.algorithm) for r in df.collect()
    )


def test_snapshot_create_list_diff(spark, tmp_path):
    out = _db(spark, tmp_path)
    m1 = snap.snapshot_create(spark, out, note="first")
    assert m1["version"] == 1 and len(m1["files"]) > 0
    # relative paths only — the db dir must be relocatable
    assert all("/" not in f["rel"] or not f["rel"].startswith("/")
               for f in m1["files"])
    more = spark.createDataFrame([("extra01",), ("extra02",)], "word string")
    build(spark, more, ["sha256"], out, append=True,
          source_name="more", num_files=6)
    m2 = snap.snapshot_create(spark, out, note="after append")
    assert m2["version"] == 2
    d = snap.snapshot_diff(spark, out, 1, 2)
    assert d["added"] and d["removed"]  # append rewrites the dataset


def test_time_travel_across_append(spark, tmp_path):
    out = _db(spark, tmp_path)
    before = _rows(read_hashdb(spark, out))
    snap.snapshot_create(spark, out)
    more = spark.createDataFrame([("brandnew",)], "word string")
    build(spark, more, ["sha256"], out, append=True,
          source_name="more", num_files=6)
    now = _rows(read_hashdb(spark, out))
    assert len(now) == len(before) + 1
    old = _rows(snap.read_snapshot(spark, out, 1))
    assert old == before  # byte-exact time travel
    # live read never sees retained files
    assert len(_rows(read_hashdb(spark, out))) == len(now)


def test_time_travel_across_slice_compaction(spark, tmp_path):
    out = _db(spark, tmp_path, words=400, num_files=12)
    before = _rows(read_hashdb(spark, out))
    snap.snapshot_create(spark, out)
    report = compact_hashdb(spark, out, target_file_bytes=1 << 30)
    assert report["slices_compacted"] >= 1
    assert _rows(read_hashdb(spark, out)) == before  # current unchanged
    assert _rows(snap.read_snapshot(spark, out, 1)) == before
    # the originals were renamed, not copied: retained dir holds them
    retained = io_util.list_files(spark, out + "/_snapshots/retained")
    assert retained


def test_time_travel_across_whole_compaction(spark, tmp_path):
    out = _db(spark, tmp_path, words=300, num_files=10)
    before = _rows(read_hashdb(spark, out))
    snap.snapshot_create(spark, out)
    report = compact_hashdb(spark, out, target_file_bytes=1 << 30, force=True)
    assert report["compacted"]
    assert _rows(read_hashdb(spark, out)) == before
    assert _rows(snap.read_snapshot(spark, out, 1)) == before


def test_snapshots_survive_a_rebuild(spark, tmp_path):
    """A build without ``append`` over an existing database replaces its
    files through the swap, so its snapshot history stays readable."""
    out = _db(spark, tmp_path)
    v1 = _rows(read_hashdb(spark, out))
    snap.snapshot_create(spark, out)
    other = spark.createDataFrame([(f"other{i:03d}",) for i in range(50)], "word string")
    build(spark, other, ["sha256"], out, source_name="other", num_files=2)
    now = _rows(read_hashdb(spark, out))
    assert len(now) == 50 and {p for _, p, _ in now}.isdisjoint({p for _, p, _ in v1})
    assert read_sidecar(spark, out)["sources"] == ["other"]
    assert _rows(snap.read_snapshot(spark, out, 1)) == v1


def test_forget_reaches_history(spark, tmp_path):
    out = _db(spark, tmp_path)
    snap.snapshot_create(spark, out)
    gone = "word0042"
    forget_preimages(spark, out, [gone])
    # erased from the current state
    assert read_hashdb(spark, out).where(
        F.col("preimage") == gone
    ).count() == 0
    # AND from history: the snapshot reads its surviving rows, minus
    # the erased one, through its entry repointed at the rewritten file
    old = snap.read_snapshot(spark, out, 1)
    assert old.where(F.col("preimage") == gone).count() == 0
    assert old.count() == 199


def test_forget_after_retirement_scrubs_retained_files(spark, tmp_path):
    out = _db(spark, tmp_path, words=400, num_files=12)
    snap.snapshot_create(spark, out)
    compact_hashdb(spark, out, target_file_bytes=1 << 30)
    gone = "word0123"
    forget_preimages(spark, out, [gone])
    # the retained (pre-compaction) files were rewritten in place:
    # no parquet anywhere under the db still contains the digest
    digest = hashlib.sha256(gone.encode()).digest()
    for p, _sz in io_util.list_files(spark, out):
        hit = spark.read.parquet(p).where(F.col("hash") == digest).count()
        assert hit == 0, f"erased digest survives in {p}"
    old = snap.read_snapshot(spark, out, 1, allow_missing=True)
    assert old.where(F.col("preimage") == gone).count() == 0
    assert old.count() == 399


def test_vacuum_reclaims_and_expires(spark, tmp_path):
    out = _db(spark, tmp_path, words=400, num_files=12)
    snap.snapshot_create(spark, out)
    compact_hashdb(spark, out, target_file_bytes=1 << 30)
    snap.snapshot_create(spark, out)
    retained_before = io_util.list_files(spark, out + "/_snapshots/retained")
    assert retained_before
    rep = snap.vacuum(spark, out, keep_latest=1)
    assert rep["dropped_versions"] == [1]
    assert rep["freed_files"] == len(retained_before)
    assert rep["freed_bytes"] > 0
    assert not io_util.list_files(spark, out + "/_snapshots/retained")
    # v2 still reads; v1 is gone
    assert snap.read_snapshot(spark, out, 2).count() == 400
    try:
        snap.read_snapshot(spark, out, 1)
        raise AssertionError("expected ValueError for dropped version")
    except ValueError:
        pass


def test_snapshot_internals_invisible_to_stats_and_plans(spark, tmp_path):
    from shaha_spark.pipeline.compact import plan_compaction

    out = _db(spark, tmp_path, words=400, num_files=12)
    size_before = io_util.tree_size(spark, out)
    n_before = len(snap.live_files(spark, out))
    snap.snapshot_create(spark, out)
    compact_hashdb(spark, out, target_file_bytes=1 << 30)
    # retained bytes must not count as live database size
    assert io_util.tree_size(spark, out) <= size_before
    assert len(snap.live_files(spark, out)) < n_before
    # and must not be re-planned for compaction
    plan = plan_compaction(spark, out, target_file_bytes=1 << 30)
    for s in plan["slices"]:
        for p, _sz in s["files"]:
            assert "/_snapshots/" not in p
    assert plan_compaction(spark, out)["n_files"] == len(
        snap.live_files(spark, out)
    )


def test_sidecar_total_survives_snapshot_flow(spark, tmp_path):
    out = _db(spark, tmp_path)
    snap.snapshot_create(spark, out)
    meta = read_sidecar(spark, out)
    assert meta["total_records"] == 200


def test_recovery_rollforward_loses_retention_not_correctness(spark, tmp_path):
    """A manifest in the older one-file form records no disposal, so
    recovery rolls its swap forward by DELETING the originals — the
    current dataset stays byte-correct, and the snapshot reports an
    explicit hole rather than silently serving partial data. (Manifests
    written now record "retain"; see test_swap_safety.)"""
    import json
    import os

    from shaha_spark.pipeline.compact import MANIFEST_SUFFIX, recover_slices

    out = _db(spark, tmp_path, words=300, num_files=10)
    before = _rows(read_hashdb(spark, out))
    snap.snapshot_create(spark, out)
    files = [p for p, _ in snap.live_files(spark, out)]
    victim = files[0]
    d = os.path.dirname(victim)
    incoming = f"{d}/_incoming-slice-0badcafe.zstd.parquet"
    final = f"{d}/slice-0badcafe.zstd.parquet"
    assert io_util.rename(spark, victim, incoming)
    io_util.write_text(
        spark, incoming + MANIFEST_SUFFIX,
        json.dumps({"originals": [victim], "final": final}),
    )
    rec = recover_slices(spark, out)
    assert rec["rolled_forward"] == 1
    assert _rows(read_hashdb(spark, out)) == before  # current state exact
    try:
        snap.read_snapshot(spark, out, 1)
        raise AssertionError("expected a hole for the rolled-forward original")
    except FileNotFoundError:
        pass
    surviving = snap.read_snapshot(spark, out, 1, allow_missing=True)
    assert 0 < surviving.count() < len(before)


def test_an_entry_naming_a_missing_file_raises(spark, tmp_path):
    """An entry whose file is missing (manual damage) makes the read
    raise — never a crash elsewhere, never wrong rows; ``allow_missing``
    reads the other entries."""
    out = _db(spark, tmp_path)
    snap.snapshot_create(spark, out)
    entry = snap.snapshot_list(spark, out)[0]["files"][0]
    os.remove(f"{out}/{entry['path']}")
    with pytest.raises(FileNotFoundError, match="1 file"):
        snap.read_snapshot(spark, out, 1)
    rest = snap.read_snapshot(spark, out, 1, allow_missing=True)
    assert rest.count() == 200 - entry["rows"]


def test_torn_manifest_rewrite_keeps_history_readable(
    spark, tmp_path, monkeypatch
):
    """A crash in the middle of rewriting ``v<N>.json`` during a swap's
    disposal leaves the snapshot log readable: the manifest is replaced
    whole, so the old one stands until the new one is complete (a torn
    one would make every snapshot read raise ``JSONDecodeError``).
    Recovery then finishes the interrupted disposal."""
    import re

    out = _db(spark, tmp_path, words=300, num_files=10)
    before = _rows(read_hashdb(spark, out))
    snap.snapshot_create(spark, out)
    compact_hashdb(spark, out, target_file_bytes=1 << 30, force=True)
    snap.snapshot_create(spark, out)
    real = io_util.write_text

    def torn(spark_, path, content):
        if re.search(r"/_snapshots/v\d+\.json", path):
            real(spark_, path, content[: len(content) // 2])
            raise IOError("crash mid-write")
        real(spark_, path, content)

    monkeypatch.setattr(io_util, "write_text", torn)
    with pytest.raises(IOError, match="crash mid-write"):
        compact_hashdb(spark, out, target_file_bytes=1 << 30, force=True)
    monkeypatch.undo()

    assert [m["version"] for m in snap.snapshot_list(spark, out)] == [1, 2]
    assert _rows(snap.read_snapshot(spark, out, 1)) == before
    assert _rows(read_hashdb(spark, out)) == before
    recover_slices(spark, out)
    assert _rows(snap.read_snapshot(spark, out, 2)) == before
    assert _rows(read_hashdb(spark, out)) == before


@pytest.mark.parametrize("older", ["retained-map", "entry-without-path"])
def test_an_older_snapshot_log_is_refused(spark, tmp_path, older):
    """A log an older version wrote (its ``retained.json`` map, or
    entries that name no ``path``) is refused by the snapshot verbs and
    the writers alike, before anything changes."""
    import json

    out = _db(spark, tmp_path, words=40, num_files=2)
    m = snap.snapshot_create(spark, out)
    if older == "retained-map":
        io_util.write_text(spark, out + "/_snapshots/retained.json", "{}")
    else:
        files = [{"rel": e["rel"], "bytes": e["bytes"]} for e in m["files"]]
        io_util.write_text(
            spark, out + "/_snapshots/v1.json", json.dumps({**m, "files": files})
        )
    before = sorted(os.listdir(out))
    for verb in (
        lambda: snap.read_snapshot(spark, out, 1),
        lambda: snap.snapshot_create(spark, out),
        lambda: snap.vacuum(spark, out),
        lambda: compact_hashdb(spark, out, force=True),
        lambda: forget_preimages(spark, out, ["word0001"]),
    ):
        with pytest.raises(ValueError, match="An older snapshot log"):
            verb()
    assert sorted(os.listdir(out)) == before
    assert read_hashdb(spark, out).count() == 40


def test_vacuum_idempotent(spark, tmp_path):
    out = _db(spark, tmp_path, words=400, num_files=12)
    snap.snapshot_create(spark, out)
    compact_hashdb(spark, out, target_file_bytes=1 << 30)
    snap.snapshot_create(spark, out)
    r1 = snap.vacuum(spark, out, keep_latest=1)
    r2 = snap.vacuum(spark, out, keep_latest=1)
    assert r1["freed_files"] > 0
    assert r2 == {
        "dropped_versions": [], "kept_versions": [2],
        "freed_files": 0, "freed_bytes": 0,
    }


def test_time_travel_partitioned_layout(spark, tmp_path):
    """algorithm=... partition dirs must survive retirement: after an
    append rewrites a PARTITIONED db, the snapshot read recovers the
    partition column from the retained tree's preserved subpaths."""
    wdf = spark.createDataFrame(
        [(f"w{i:03d}",) for i in range(60)], "word string"
    )
    out = str(tmp_path / "pdb")
    build(spark, wdf, ["sha256", "md5"], out, num_files=2,
          partition_by_algorithm=True)
    before = _rows(read_hashdb(spark, out))
    assert {a for _, _, a in before} == {"md5", "sha256"}
    snap.snapshot_create(spark, out)
    more = spark.createDataFrame([("fresh",)], "word string")
    build(spark, more, ["sha256", "md5"], out, append=True,
          source_name="more", num_files=2, partition_by_algorithm=True)
    old = snap.read_snapshot(spark, out, 1)
    assert "algorithm" in old.columns
    assert _rows(old) == before
    # the retained tree preserved the hive dirs
    kept = [p for p, _ in io_util.list_files(
        spark, out + "/_snapshots/retained")]
    assert kept and all("algorithm=" in p for p in kept)


def test_forget_partitioned_retained_rewrite(spark, tmp_path):
    """Erasure inside a PARTITIONED retained tree repoints the entry
    at the rewritten stem in the same partition dir."""
    wdf = spark.createDataFrame(
        [(f"w{i:03d}",) for i in range(60)], "word string"
    )
    out = str(tmp_path / "pdb")
    build(spark, wdf, ["sha256"], out, num_files=2,
          partition_by_algorithm=True)
    snap.snapshot_create(spark, out)
    more = spark.createDataFrame([("fresh",)], "word string")
    build(spark, more, ["sha256"], out, append=True,
          source_name="more", num_files=2, partition_by_algorithm=True)
    forget_preimages(spark, out, ["w007"])
    digest = hashlib.sha256(b"w007").digest()
    for p, _sz in io_util.list_files(spark, out):
        assert spark.read.parquet(p).where(
            F.col("hash") == digest
        ).count() == 0, p
    old = snap.read_snapshot(spark, out, 1, allow_missing=True)
    assert old.where(F.col("preimage") == "w007").count() == 0
    assert old.count() == 59


def test_forget_across_partition_dirs_keeps_history_whole(spark, tmp_path):
    """A forget that rewrites files in two ``algorithm=`` directories in
    one swap points each snapshot-referenced original at its own
    replacement: the snapshot reads with no hole, minus the erased rows."""
    wdf = spark.createDataFrame([(f"w{i:03d}",) for i in range(120)], "word string")
    out = str(tmp_path / "pdb")
    build(spark, wdf, ["sha256", "md5"], out, num_files=3, partition_by_algorithm=True)
    v1 = _rows(read_hashdb(spark, out))
    snap.snapshot_create(spark, out)
    report = forget_preimages(spark, out, ["w042"])
    assert report["live_rows_deleted"] == 2 and report["files_rewritten"] == 2
    old = _rows(snap.read_snapshot(spark, out, 1))  # no allow_missing: holes raise
    assert old == [r for r in v1 if r[1] != "w042"]
    assert len(old) == len(v1) - 2


def test_alias_target_survives_compaction_and_vacuum(spark, tmp_path):
    """A forget repoints a snapshot's entry at the live file that
    replaced its original; a later compaction must retire that file
    (the entry names it), not delete it, and vacuum must keep it, or
    the still-live snapshot reads a hole."""
    out = _db(spark, tmp_path, words=200, num_files=4)
    snap.snapshot_create(spark, out)
    forget_preimages(spark, out, ["word0042"])
    compact_hashdb(spark, out, target_file_bytes=1 << 30)
    snap.vacuum(spark, out)
    old = snap.read_snapshot(spark, out, 1)  # no allow_missing: holes raise
    assert old.count() == 199
    assert old.where(F.col("preimage") == "word0042").count() == 0


def test_whole_compaction_preserves_alias_target(spark, tmp_path):
    out = _db(spark, tmp_path, words=150, num_files=3)
    snap.snapshot_create(spark, out)
    forget_preimages(spark, out, ["word0010"])
    compact_hashdb(spark, out)
    old = snap.read_snapshot(spark, out, 1)
    assert old.count() == 149
