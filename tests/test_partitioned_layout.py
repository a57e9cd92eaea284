"""Partitioned-by-algorithm layout: pruning + round-trip equivalence."""

from __future__ import annotations

import hashlib
import os

from shaha_spark.pipeline.build import build, read_hashdb
from shaha_spark.query import query


def test_partitioned_build_round_trip(spark, tmp_path):
    path = str(tmp_path / "db")
    words = spark.createDataFrame(
        [("password",), ("hello",), ("world",)], "word string"
    )
    res = build(
        spark, words, ["sha256", "md5"], path,
        source_name="w", partition_by_algorithm=True,
    )
    assert res["total_records"] == 6
    assert os.path.isdir(os.path.join(path, "algorithm=md5"))
    assert os.path.isdir(os.path.join(path, "algorithm=sha256"))

    df = read_hashdb(spark, path)
    assert sorted(df.columns) == ["algorithm", "hash", "preimage", "sources"]
    assert df.count() == 6

    digest = hashlib.sha256(b"password").hexdigest()
    rows = query(spark, path, digest, algorithm="sha256").collect()
    assert len(rows) == 1 and rows[0].preimage == "password"


def test_algorithm_filter_prunes_partitions(spark, tmp_path):
    path = str(tmp_path / "db")
    words = spark.createDataFrame([("a",), ("b",)], "word string")
    build(
        spark, words, ["sha256", "md5"], path,
        source_name="w", partition_by_algorithm=True,
    )
    df = query(spark, path, "", algorithm="md5")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "algorithm" in plan, plan
    # hash stays sorted within each partition directory
    hashes = [r.hash for r in query(spark, path, "", algorithm="md5").collect()]
    assert hashes == sorted(hashes)


def test_partitioned_write_keeps_each_file_hash_sorted(spark, tmp_path):
    """``write_hashdb(partition_by="algorithm")`` sorts each task by
    ``(algorithm, hash)`` itself: the write's own sort by the partition
    column alone must not undo the caller's range sort."""
    import pyarrow.parquet as pq

    from shaha_spark.pipeline.build import hash_fanout, sort_for_write, write_hashdb

    words = spark.range(20_000).selectExpr("concat('w', id) AS word")
    records = sort_for_write(hash_fanout(words, ["md5", "sha256"]), num_files=4)
    path = tmp_path / "db"
    write_hashdb(records, str(path), partition_by="algorithm")
    files = sorted(path.glob("algorithm=*/*.parquet"))
    assert len(files) == 8
    for f in files:
        h = [bytes(v) for v in pq.read_table(f, columns=["hash"]).column("hash").to_pylist()]
        assert h == sorted(h), f
