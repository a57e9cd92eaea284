"""Crash-safety of the one swap protocol (compact.replace_files) that
a rebuild, append, compaction and forget share: a swap committed
by one verb and interrupted is finished by the next verb, whichever it
is, with its data, sidecar and snapshot history intact; recovery
survives torn manifests; snapshots never pin Spark-invisible staging
files; append does not flatten a partitioned layout.
"""

from __future__ import annotations

import hashlib
import os

import pytest

from pyspark.sql import functions as F

from shaha_spark import io_util
from shaha_spark.pipeline import snapshot as snap
from shaha_spark.pipeline.build import build, read_hashdb, read_sidecar
from shaha_spark.pipeline.compact import (
    MANIFEST_SUFFIX,
    compact_hashdb,
    recover_slices,
)
from shaha_spark.pipeline.forget import forget_digests


def _db(spark, tmp_path, words, num_files=3, name="db"):
    out = str(tmp_path / name)
    df = spark.createDataFrame(
        [(f"word{i:04d}",) for i in range(words)], "word string"
    )
    build(spark, df, ["sha256"], out, source_name="t", num_files=num_files)
    return out


def test_a_failed_rebuild_leaves_the_database_readable(spark, tmp_path, monkeypatch):
    """A build without ``append`` over an existing database writes its
    files aside and swaps them in: a write that fails leaves the old
    rows in place (an overwrite deleted the database before it wrote),
    and releases the lock."""
    import sys

    out = _db(spark, tmp_path, words=40)
    before = sorted(r.preimage for r in read_hashdb(spark, out).collect())
    options = sys.modules["shaha_spark.pipeline.build"].WRITE_OPTIONS
    monkeypatch.setitem(options, "compression", "no-such-codec")
    again = spark.createDataFrame([("other",)], "word string")
    with pytest.raises(Exception, match="no-such-codec"):
        build(spark, again, ["sha256"], out, source_name="other")
    monkeypatch.undo()
    assert sorted(r.preimage for r in read_hashdb(spark, out).collect()) == before
    assert read_sidecar(spark, out)["total_records"] == 40
    assert build(spark, again, ["sha256"], out, append=True)["total_records"] == 41


def test_recover_slices_tolerates_torn_manifest(spark, tmp_path):
    out = _db(spark, tmp_path, words=50, num_files=2)
    # simulate a crash mid-manifest-write: stage + zero-byte manifest
    stage = out.rstrip("/") + "/_incoming-torn.zstd.parquet"
    io_util.write_text(spark, stage, "not a parquet, just a stage marker")
    io_util.write_text(spark, stage + MANIFEST_SUFFIX, "")
    rep = recover_slices(spark, out)
    assert rep["dropped_stages"] == 1
    assert not io_util.exists(spark, stage)
    assert not io_util.exists(spark, stage + MANIFEST_SUFFIX)
    # dataset unharmed, recovery callable again (idempotent)
    assert read_hashdb(spark, out).count() == 50
    assert recover_slices(spark, out) == {
        "rolled_forward": 0,
        "dropped_stages": 0,
    }


def test_recover_slices_tolerates_partial_json_manifest(spark, tmp_path):
    out = _db(spark, tmp_path, words=30, num_files=1)
    stage = out.rstrip("/") + "/_incoming-partial.zstd.parquet"
    io_util.write_text(spark, stage, "stage")
    io_util.write_text(spark, stage + MANIFEST_SUFFIX, '{"originals": ["x"')
    rep = recover_slices(spark, out)
    assert rep["dropped_stages"] == 1
    assert read_hashdb(spark, out).count() == 30


def test_live_files_excludes_staging_and_temp(spark, tmp_path):
    out = _db(spark, tmp_path, words=40, num_files=2)
    io_util.write_text(
        spark, out.rstrip("/") + "/_incoming-x.zstd.parquet", "staged"
    )
    io_util.write_text(
        spark, out.rstrip("/") + "/.__slice_dead__/part-0.parquet", "temp"
    )
    live = {p for p, _ in snap.live_files(spark, out)}
    assert not any("_incoming" in p or ".__slice" in p for p in live)
    # and snapshot_create therefore cannot pin them
    m = snap.snapshot_create(spark, out)
    assert not any(
        "_incoming" in f["rel"] or ".__slice" in f["rel"] for f in m["files"]
    )


def test_append_preserves_partitioned_layout(spark, tmp_path):
    out = str(tmp_path / "pdb")
    w1 = spark.createDataFrame([("alpha",), ("beta",)], "word string")
    build(
        spark, w1, ["md5", "sha256"], out,
        source_name="w1", partition_by_algorithm=True,
    )
    assert any(
        "/algorithm=" in p for p, _ in snap.live_files(spark, out)
    )
    # append WITHOUT re-passing the flag: layout must survive
    w2 = spark.createDataFrame([("gamma",)], "word string")
    build(spark, w2, ["md5", "sha256"], out, source_name="w2", append=True)
    assert any(
        "/algorithm=" in p for p, _ in snap.live_files(spark, out)
    ), "append flattened the algorithm-partitioned layout"
    got = {
        r.p
        for r in read_hashdb(spark, out)
        .selectExpr("decode(preimage,'utf-8') p")
        .distinct()
        .collect()
    }
    assert got == {"alpha", "beta", "gamma"}


def _fail_renames(monkeypatch, fails):
    """Make ``io_util.rename`` return False (as FileSystem.rename
    reports failure) whenever ``fails(src, dst)`` says so."""
    real = io_util.rename

    def rename(spark_, src, dst):
        return False if fails(src, dst) else real(spark_, src, dst)

    monkeypatch.setattr(io_util, "rename", rename)
    return lambda: monkeypatch.setattr(io_util, "rename", real)


def _publish_of(verb):
    """Matches the publish rename of a ``verb`` swap: a staged file
    renamed visible."""
    def fails(src, dst):
        base = os.path.basename(src)
        return base.startswith(f"_incoming-{verb}-") and base.endswith(".parquet")

    return fails


def _nth_retire(n):
    """Matches the ``n``-th rename of an original into retained/."""
    seen = []

    def fails(src, dst):
        if "/_snapshots/retained/" in dst:
            seen.append(dst)
            return len(seen) == n
        return False

    return fails


def _rows(df):
    return sorted(
        (bytes(r.hash).hex(), r.preimage, r.algorithm, tuple(sorted(r.sources)))
        for r in df.collect()
    )


def _assert_sidecar_matches_data(spark, out):
    meta = read_sidecar(spark, out)
    assert meta["total_records"] == read_hashdb(spark, out).count()
    assert meta["file_size_bytes"] == io_util.tree_size(spark, out)


@pytest.mark.parametrize("verb", ["compact", "append"])
def test_committed_stage_survives_a_whole_rewrite(spark, tmp_path, monkeypatch, verb):
    """A forget whose publish rename fails leaves its committed
    replacement staged; the next whole rewrite must finish that swap
    first, not rewrite the database without the staged rows."""
    out = _db(spark, tmp_path, words=300, num_files=8)
    gone = hashlib.sha256(b"word0123").digest()
    restore = _fail_renames(monkeypatch, _publish_of("forget"))
    with pytest.raises(IOError, match="rolls the swap forward"):
        forget_digests(spark, out, [gone])
    restore()

    if verb == "compact":
        compact_hashdb(spark, out, force=True)
        expected = 299
    else:
        more = spark.createDataFrame([("extra",)], "word string")
        build(spark, more, ["sha256"], out, source_name="more", append=True)
        expected = 300
    db = read_hashdb(spark, out)
    assert db.count() == expected
    assert db.where(F.col("hash") == gone).count() == 0
    assert read_sidecar(spark, out)["total_records"] == expected
    _assert_sidecar_matches_data(spark, out)


@pytest.mark.parametrize(
    "verb,fails",
    [
        ("append", _publish_of("append")),
        ("compact", _publish_of("compact")),
        # a crash in the middle of the disposal, replayed by recovery
        ("compact", _nth_retire(2)),
    ],
    ids=["append-publish", "compact-publish", "compact-retire"],
)
def test_whole_rewrite_crash_rolls_forward_with_history(
    spark, tmp_path, monkeypatch, verb, fails
):
    """An append or whole compaction that fails after its manifest
    committed is finished by the next verb: the data and sidecar equal
    those of a run that did not crash, and the snapshot taken before it
    still reads in full — the replaced originals were retained."""

    def run(out):
        if verb == "append":
            more = spark.createDataFrame([("extra01",), ("word0001",)], "word string")
            build(
                spark, more, ["sha256"], out,
                source_name="more", source_hash="h-more", append=True,
            )
        else:
            compact_hashdb(spark, out, force=True)

    clean = _db(spark, tmp_path, words=120, num_files=4, name="clean")
    crashed = _db(spark, tmp_path, words=120, num_files=4, name="crashed")
    v1 = _rows(read_hashdb(spark, crashed))
    for out in (clean, crashed):
        snap.snapshot_create(spark, out)
    run(clean)
    restore = _fail_renames(monkeypatch, fails)
    with pytest.raises(IOError):
        run(crashed)
    restore()

    report = forget_digests(spark, crashed, [bytes(32)])  # erases nothing
    assert report["recovered"] == {"rolled_forward": 1, "dropped_stages": 0}
    assert _rows(read_hashdb(spark, crashed)) == _rows(read_hashdb(spark, clean))
    keys = ("total_records", "algorithms", "sources", "source_hashes")
    want = {k: read_sidecar(spark, clean)[k] for k in keys}
    assert {k: read_sidecar(spark, crashed)[k] for k in keys} == want
    if verb == "append":
        assert want["sources"] == ["more", "t"] and want["source_hashes"] == ["h-more"]
    _assert_sidecar_matches_data(spark, crashed)
    assert _rows(snap.read_snapshot(spark, crashed, 1)) == v1
    assert not any(
        os.path.basename(p).startswith(("_incoming-", ".__"))
        or "/.__" in p
        for p, _ in io_util.list_files(spark, crashed, suffix=None)
    )


def test_forget_crash_recovery_keeps_history(spark, tmp_path, monkeypatch):
    """A forget rolled forward by recovery points the snapshot at the
    replacement, as a forget that did not crash does: the snapshot
    reads with no hole and without the erased row."""
    out = _db(spark, tmp_path, words=300, num_files=8)
    snap.snapshot_create(spark, out)
    gone = hashlib.sha256(b"word0123").digest()
    restore = _fail_renames(monkeypatch, _publish_of("forget"))
    with pytest.raises(IOError, match="rolls the swap forward"):
        forget_digests(spark, out, [gone])
    restore()

    assert recover_slices(spark, out)["rolled_forward"] == 1
    old = snap.read_snapshot(spark, out, 1)  # no allow_missing: holes raise
    assert old.count() == 299
    assert old.where(F.col("hash") == gone).count() == 0
    _assert_sidecar_matches_data(spark, out)


@pytest.mark.parametrize("form", ["manifest", "final"])
def test_recovered_swap_keeps_the_file_index(spark, tmp_path, monkeypatch, form):
    """A crashed swap finished by recovery leaves the index exact: the
    manifest form writes the sidecar it carries, the older ``final``
    form rebuilds the index from its listing."""
    import json

    from _hashdb_index import assert_index_exact, assert_lookups_match_directory

    out = _db(spark, tmp_path, words=300, num_files=8)
    if form == "manifest":
        restore = _fail_renames(monkeypatch, _publish_of("forget"))
        with pytest.raises(IOError, match="rolls the swap forward"):
            forget_digests(spark, out, [hashlib.sha256(b"word0123").digest()])
        restore()
    else:
        victim = sorted(p for p, _ in io_util.list_files(spark, out))[0]
        d = os.path.dirname(victim)
        incoming = f"{d}/_incoming-slice-cafebabe.zstd.parquet"
        assert io_util.rename(spark, victim, incoming)
        io_util.write_text(
            spark, incoming + MANIFEST_SUFFIX,
            json.dumps({"originals": [victim], "final": f"{d}/slice-cafebabe.zstd.parquet"}),
        )
    assert recover_slices(spark, out)["rolled_forward"] == 1
    assert_index_exact(spark, out)
    assert_lookups_match_directory(spark, out)


def test_recovery_settles_a_cut_short_sidecar_write(spark, tmp_path):
    """A sidecar write cut short leaves ``_shaha_meta.json.tmp``: beside
    the old sidecar it is dropped; once the old one was deleted it is
    complete, and recovery moves it into place."""
    import json

    out = _db(spark, tmp_path, words=30, num_files=1)
    side = f"{out}/_shaha_meta.json"
    meta = read_sidecar(spark, out)
    io_util.write_text(spark, side + ".tmp", '{"total_records": ')
    recover_slices(spark, out)
    assert not io_util.exists(spark, side + ".tmp")
    assert read_sidecar(spark, out) == meta

    io_util.write_text(spark, side + ".tmp", json.dumps({**meta, "sources": ["new"]}))
    io_util.delete(spark, side)
    recover_slices(spark, out)
    assert not io_util.exists(spark, side + ".tmp")
    assert read_sidecar(spark, out)["sources"] == ["new"]


def test_a_row_count_mismatch_commits_nothing(spark, tmp_path):
    """``replace_files(expect_rows=)`` drops its stage and commits
    nothing when the write counts other rows than expected (the ANN
    index's compaction guard): data, sidecar and layout stay as they
    were, with no staged file or temp dir left."""
    from shaha_spark.pipeline.compact import replace_files

    out = _db(spark, tmp_path, words=40, num_files=2)
    root = io_util.qualify(spark, out)
    before = _rows(read_hashdb(spark, out))
    meta = read_sidecar(spark, out)
    live = snap.live_files(spark, out)
    with pytest.raises(RuntimeError, match="nothing was replaced"):
        replace_files(
            spark, root, live, read_hashdb(spark, out), "compact", "retain",
            {**meta, "total_records": 0, "file_size_bytes": 0, "files": []},
            expect_rows=41,
        )
    assert _rows(read_hashdb(spark, out)) == before
    assert read_sidecar(spark, out) == meta
    assert snap.live_files(spark, out) == live
    assert not any(
        os.path.basename(p).startswith("_incoming-") or "/.__" in p
        for p, _ in io_util.list_files(spark, out, suffix=None)
    )


def _verbs():
    """(name, run(db, spark), digest) of each verb a reader races: the
    digest is one whose lookup the verb changes, where it changes one."""
    more = [("extra01",), ("word0001",)]
    other = [(f"other{i:03d}",) for i in range(40)]
    words = [b"word0042", b"word0199"]

    def forget(db, spark):
        forget_digests(spark, db, [hashlib.sha256(w).digest() for w in words])

    return [
        ("append", lambda db, spark: build(
            spark, spark.createDataFrame(more, "word string"), ["md5", "sha256"],
            db, source_name="more", append=True,
        ), b"extra01"),
        ("rebuild", lambda db, spark: build(
            spark, spark.createDataFrame(other, "word string"), ["md5", "sha256"],
            db, source_name="other", num_files=3,
        ), b"word0042"),
        ("compact-forced", lambda db, spark: compact_hashdb(spark, db, force=True),
         b"word0042"),
        ("compact-runs", lambda db, spark: compact_hashdb(
            spark, db, target_file_bytes=1 << 30
        ), b"word0042"),
        ("forget-live", forget, words[0]),
        ("forget-retained", forget, words[0]),
    ]


@pytest.mark.parametrize("verb", _verbs(), ids=[v[0] for v in _verbs()])
def test_a_reader_racing_a_swap_sees_the_old_or_the_new_state(
    spark, tmp_path, monkeypatch, verb
):
    """Before every rename, delete and atomic write a swap's finish
    step makes (publish, sidecar, disposal), a live read and a lookup
    return exactly what they return before the verb or after it, never
    a mix or a part; a snapshot read too, for the forget that rewrites
    retained history copies."""
    from shaha_spark.pipeline import compact
    from shaha_spark.query import query

    name, run, word = verb
    out = str(tmp_path / "db")
    words = spark.createDataFrame([(f"word{i:04d}",) for i in range(300)], "word string")
    build(spark, words, ["md5", "sha256"], out, source_name="t", num_files=6)
    history = name == "forget-retained"
    if history:
        snap.snapshot_create(spark, out)
        more = spark.createDataFrame([("extra",)], "word string")
        build(spark, more, ["md5", "sha256"], out, source_name="more", append=True)
    digest = hashlib.sha256(word).hexdigest()

    def state():
        return (
            read_hashdb(spark, out).count(),
            sorted(r.preimage for r in query(spark, out, digest).collect()),
            snap.read_snapshot(spark, out, 1).count() if history else None,
        )

    old = state()
    seen = []
    inside = []
    real_finish = compact._finish

    def finish(*args):
        inside.append(True)
        try:
            return real_finish(*args)
        finally:
            inside.pop()

    def hook(real):
        def hooked(*args):
            if inside:
                seen.append(state())
            return real(*args)
        return hooked

    monkeypatch.setattr(compact, "_finish", finish)
    for fn in ("rename", "delete", "write_text_atomic"):
        monkeypatch.setattr(io_util, fn, hook(getattr(io_util, fn)))
    run(out, spark)
    monkeypatch.undo()

    new = state()
    assert old != new or name.startswith("compact")
    assert len(seen) >= 3
    for i, what in enumerate(("read_hashdb count", "lookup", "snapshot count")):
        assert [s[i] for s in seen if s[i] not in (old[i], new[i])] == [], what
