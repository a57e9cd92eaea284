"""Object-store path coverage (S9/K3) as far as an offline container
allows.

The container has no hadoop-aws jars and no live S3, so the s3a://
backend itself cannot run (ref src/storage/r2.rs has live-bucket tests;
its offline unit tests at r2.rs:274-308 only cover URL building — the
equivalents here are the r2_uri tests in test_sources.py). What IS
verifiable offline:

  1. apply_object_store lands every credential on hadoopConfiguration
     under the exact fs.s3a.* keys the S3A connector reads — the whole
     contract between our config and the connector.
  2. The build/query/append/info pipeline is scheme-agnostic: a full
     round trip through a non-default Hadoop filesystem URI (viewfs://
     with a mount table, resolved through the same FileSystem.get
     machinery as s3a://) exercises qualified-path handling, the
     sidecar via io_util, and the checked swap renames on a filesystem
     that is not the session default.
"""

from __future__ import annotations

import hashlib

import pytest

from shaha_spark.config import Config, R2Config, apply_object_store


def test_apply_object_store_sets_every_s3a_key(spark):
    cfg = Config(
        r2=R2Config(
            endpoint="https://acct.r2.cloudflarestorage.com",
            bucket="wordlists",
            access_key_id="AKID",
            secret_access_key="SECRET",
            region="auto",
        )
    )
    apply_object_store(spark, cfg)
    hconf = spark._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "https://acct.r2.cloudflarestorage.com"
    assert hconf.get("fs.s3a.path.style.access") == "true"
    assert hconf.get("fs.s3a.access.key") == "AKID"
    assert hconf.get("fs.s3a.secret.key") == "SECRET"
    assert hconf.get("fs.s3a.endpoint.region") == "auto"


def test_apply_object_store_partial_config_sets_nothing_extra(spark):
    hconf = spark._jsc.hadoopConfiguration()
    for key in ("fs.s3a.endpoint", "fs.s3a.access.key", "fs.s3a.secret.key",
                "fs.s3a.endpoint.region"):
        hconf.unset(key)
    apply_object_store(spark, Config())  # empty r2 block
    assert hconf.get("fs.s3a.endpoint") is None
    assert hconf.get("fs.s3a.access.key") is None
    assert hconf.get("fs.s3a.secret.key") is None
    assert hconf.get("fs.s3a.endpoint.region") is None


@pytest.fixture
def viewfs(spark, tmp_path):
    """Mount a viewfs:// table over tmp_path — a non-default filesystem
    resolved through the same FileSystem.get machinery as s3a://."""
    (tmp_path / "data").mkdir()
    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.shahatest.link./data", f"file://{tmp_path}/data"
    )
    return "viewfs://shahatest/data"


def test_build_query_append_round_trip_on_non_default_fs(spark, viewfs):
    from shaha_spark.pipeline.build import build, read_sidecar
    from shaha_spark.pipeline.stats import info
    from shaha_spark.query import query

    db = f"{viewfs}/db"
    w1 = spark.createDataFrame([("hello",), ("world",)], "word string")
    res = build(spark, w1, ["sha256"], db, source_name="v1", source_hash="h1")
    assert res["total_records"] == 2

    # sidecar written and readable through the non-default scheme
    meta = read_sidecar(spark, db)
    assert meta["total_records"] == 2 and meta["sources"] == ["v1"]
    # footers are read with pyarrow on local paths only: no file index
    assert "files" not in meta

    digest = hashlib.sha256(b"hello").hexdigest()
    rows = query(spark, db, digest).collect()
    assert len(rows) == 1 and rows[0].preimage == "hello"

    # append exercises the manifest swap's checked renames cross-scheme
    w2 = spark.createDataFrame([("test",)], "word string")
    res = build(spark, w2, ["sha256"], db, source_name="v2", source_hash="h2", append=True)
    assert res["total_records"] == 3
    assert info(spark, db)["sources"] == ["v1", "v2"]
    rows = query(spark, db, hashlib.sha256(b"test").hexdigest()).collect()
    assert len(rows) == 1 and rows[0].preimage == "test"


def test_apply_object_store_pins_scale_committer_settings(spark):
    """The 100 TB write path: magic committer + retry/upload tuning
    must land on hadoopConfiguration whenever an object store is
    configured (rename-free commit — see S3A_SCALE_SETTINGS docstring;
    ref src/storage/r2.rs:161-232 gets the same atomicity from R2 PUT).
    """
    from shaha_spark.config import (
        S3A_COMMITTER_SQL_CONF,
        S3A_SCALE_SETTINGS,
        cloud_committer_available,
    )

    cfg = Config(r2=R2Config(endpoint="https://acct.r2.example.com", bucket="b"))
    apply_object_store(spark, cfg)
    hconf = spark._jsc.hadoopConfiguration()
    for key, expected in S3A_SCALE_SETTINGS.items():
        assert hconf.get(key) == expected, key
    assert hconf.get("fs.s3a.committer.name") == "magic"
    assert int(hconf.get("fs.s3a.retry.limit")) >= 5
    assert int(hconf.get("fs.s3a.attempts.maximum")) >= 3

    # SQL committer binding: set iff the cloud-committer class exists;
    # never half-bound (that combination fails every parquet write).
    bound = [
        spark.conf.get(k, None) == v for k, v in S3A_COMMITTER_SQL_CONF.items()
    ]
    if cloud_committer_available(spark):
        assert all(bound)
    else:
        assert not any(bound)


def test_apply_object_store_no_committer_without_store(spark):
    hconf = spark._jsc.hadoopConfiguration()
    for key in ("fs.s3a.committer.name", "fs.s3a.retry.limit"):
        hconf.unset(key)
    apply_object_store(spark, Config())
    assert hconf.get("fs.s3a.committer.name") is None


def test_list_after_write_contract(spark, viewfs):
    """The swap/recovery protocol assumes exactly the consistency S3
    now guarantees: strong read-after-write and list-after-write. This
    pins the io_util surface to that contract on a non-default FS —
    every mutation is visible to exists/list_files in the very next
    call, with no settle time."""
    from shaha_spark import io_util

    base = f"{viewfs}/law"
    io_util.mkdirs(spark, base)
    # write -> immediately listed and readable
    io_util.write_text(spark, f"{base}/a.parquet", "x")
    assert io_util.exists(spark, f"{base}/a.parquet")
    names = [p.rsplit("/", 1)[-1] for p, _ in io_util.list_files(spark, base)]
    assert names == ["a.parquet"]
    # rename -> src invisible and dst visible in the same sequence
    assert io_util.rename(spark, f"{base}/a.parquet", f"{base}/b.parquet")
    assert not io_util.exists(spark, f"{base}/a.parquet")
    names = [p.rsplit("/", 1)[-1] for p, _ in io_util.list_files(spark, base)]
    assert names == ["b.parquet"]
    # delete -> immediately gone from listings
    io_util.delete(spark, f"{base}/b.parquet")
    assert io_util.list_files(spark, base) == []
    # create_marker is create-if-absent (the append lock primitive):
    # second create must observe the first with no settle time
    assert io_util.create_marker(spark, f"{base}/.lock")
    assert not io_util.create_marker(spark, f"{base}/.lock")


def test_swap_protocol_under_copy_delete_rename(spark, tmp_path, monkeypatch):
    """Object-store 'rename' is copy+delete — non-atomic, and failing
    (returning False) when the destination exists, like
    FileSystem.rename. The build/append/forget/compact swap protocol
    must produce byte-correct results under those semantics, because it
    only ever requires that a True return means the destination is
    fully visible — never move atomicity."""
    import hashlib as _hl
    import os
    import shutil

    from pyspark.sql import functions as F

    from shaha_spark import io_util
    from shaha_spark.pipeline.build import build, read_hashdb, read_sidecar
    from shaha_spark.pipeline.compact import compact_hashdb
    from shaha_spark.pipeline.forget import forget_preimages
    from shaha_spark.query import query

    def s3_style_rename(spark_, src, dst):
        sp, dp = src.removeprefix("file:"), dst.removeprefix("file:")
        if not os.path.exists(sp) or os.path.exists(dp):
            return False
        os.makedirs(os.path.dirname(dp), exist_ok=True)
        if os.path.isdir(sp):
            shutil.copytree(sp, dp)
            shutil.rmtree(sp)
        else:
            shutil.copy2(sp, dp)
            os.remove(sp)
        return True

    # patch the single module attribute every pipeline module routes
    # renames through
    monkeypatch.setattr(io_util, "rename", s3_style_rename)

    out = str(tmp_path / "db")
    w1 = spark.createDataFrame([(f"w{i:03d}",) for i in range(80)], "word string")
    build(spark, w1, ["sha256"], out, source_name="v1", num_files=4)
    assert read_sidecar(spark, out)["total_records"] == 80

    w2 = spark.createDataFrame([("extra",)], "word string")
    build(spark, w2, ["sha256"], out, append=True, source_name="v2", num_files=1)
    assert read_sidecar(spark, out)["total_records"] == 81

    forget_preimages(spark, out, ["w007"])
    compact_hashdb(spark, out, target_file_bytes=1 << 30)

    df = read_hashdb(spark, out)
    assert df.count() == 80
    assert df.where(F.col("preimage") == "w007").count() == 0
    d = _hl.sha256(b"extra").hexdigest()
    got = query(spark, out, d).collect()
    assert [r.preimage for r in got] == ["extra"]


# ---------------------------------------------------------------- live

def _s3a_on_classpath(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.hadoop.fs.s3a.S3AFileSystem"
        )
        return True
    except Exception:
        return False


def test_live_s3a_build_append_query_roundtrip(spark, tmp_path):
    """LIVE object-store round trip (ref src/storage/r2.rs:161-232):
    build -> append -> point query against a real S3-compatible
    endpoint through s3a://.

    Skip-marked, not deleted: this container ships no hadoop-aws jars
    and no reachable endpoint, so the strongest available checks are
    the contract tests above (non-default FS + S3-rename-semantics
    chain). The day the environment provides the S3A connector and a
    loopback MinIO (or any S3 API), set

        SHAHA_S3_TEST_ENDPOINT=http://127.0.0.1:9000
        SHAHA_S3_TEST_BUCKET=shaha-test
        SHAHA_S3_TEST_ACCESS_KEY / SHAHA_S3_TEST_SECRET_KEY

    and this test lights up with no code change.
    """
    import hashlib
    import os
    import uuid

    import pytest

    endpoint = os.environ.get("SHAHA_S3_TEST_ENDPOINT")
    bucket = os.environ.get("SHAHA_S3_TEST_BUCKET")
    if not endpoint or not bucket:
        pytest.skip(
            "no live S3 endpoint: set SHAHA_S3_TEST_ENDPOINT and "
            "SHAHA_S3_TEST_BUCKET (plus _ACCESS_KEY/_SECRET_KEY)"
        )
    if not _s3a_on_classpath(spark):
        pytest.skip(
            "S3A connector not on the classpath: add hadoop-aws + "
            "aws-sdk-bundle jars matching the Hadoop version"
        )

    from shaha_spark.config import Config, R2Config, apply_object_store, r2_uri
    from shaha_spark.pipeline.build import build, read_hashdb
    from shaha_spark.query import query

    cfg = Config(
        r2=R2Config(
            endpoint=endpoint,
            bucket=bucket,
            access_key_id=os.environ.get("SHAHA_S3_TEST_ACCESS_KEY"),
            secret_access_key=os.environ.get("SHAHA_S3_TEST_SECRET_KEY"),
            region=os.environ.get("SHAHA_S3_TEST_REGION", "auto"),
            path=f"it-{uuid.uuid4().hex[:8]}",
        )
    )
    apply_object_store(spark, cfg)
    db = r2_uri(cfg, "db")

    words = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",)], "word string"
    )
    build(spark, words, ["sha256"], db, source_name="live-it")
    assert read_hashdb(spark, db).count() == 3

    more = spark.createDataFrame([("delta",), ("alpha",)], "word string")
    build(spark, more, ["sha256"], db, source_name="live-it-2", append=True)
    assert read_hashdb(spark, db).count() == 4

    digest = hashlib.sha256(b"delta").hexdigest()
    hits = query(spark, db, digest).collect()
    assert len(hits) == 1 and hits[0].preimage == "delta"
