"""Bucketed-table co-location: the existing-DB side of an append-merge
join must not shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from shaha_spark.pipeline.bucketed import (
    bucketed_append_merge,
    read_bucketed_hashdb,
    write_bucketed_hashdb,
)
from shaha_spark.pipeline.build import dedup_records, hash_fanout


def _records(spark, words, source):
    df = spark.createDataFrame([(w,) for w in words], "word string")
    return dedup_records(hash_fanout(df, ["sha256"])).withColumn(
        "sources", F.array(F.lit(source))
    )


def test_bucketed_merge_join_skips_existing_shuffle(spark, tmp_path):
    table = "hashdb_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    existing = _records(spark, ["alpha", "beta", "gamma"], "w1")
    write_bucketed_hashdb(existing, table, str(tmp_path / "bdb"), n_buckets=8)

    new = _records(spark, ["beta", "delta"], "w2")
    merged = bucketed_append_merge(spark, table, new)
    rows = {r.preimage: r.sources for r in merged.collect()}
    assert rows["beta"] == ["w1", "w2"]
    assert rows["alpha"] == ["w1"] and rows["delta"] == ["w2"]
    assert len(rows) == 4

    # the bucketed (existing) side must join without its own Exchange:
    # with broadcast disabled (forcing SMJ on both variants), the same
    # merge against a plain parquet copy needs exactly one more shuffle
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = bucketed_append_merge(spark, table, new)._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        n_bucketed = plan.count("Exchange hashpartitioning")

        from shaha_spark.pipeline.append import append_merge

        plain_path = str(tmp_path / "plain")
        read_bucketed_hashdb(spark, table).write.parquet(plain_path)
        plain = append_merge(spark.read.parquet(plain_path), new)
        n_plain = plain._jdf.queryExecution().executedPlan().toString().count(
            "Exchange hashpartitioning"
        )
        assert n_plain == n_bucketed + 1, (n_plain, n_bucketed)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucketed_read_round_trip(spark, tmp_path):
    table = "hashdb_bucketed_rt"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    existing = _records(spark, ["one", "two"], "src")
    write_bucketed_hashdb(existing, table, str(tmp_path / "bdb2"), n_buckets=4)
    df = read_bucketed_hashdb(spark, table)
    assert df.count() == 2
    assert sorted(df.columns) == ["algorithm", "hash", "preimage", "sources"]
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucketed_files_use_the_hashdb_writer_options(spark, tmp_path):
    """The bucketed writer shares write_hashdb's Parquet options: `hash`
    and `preimage` are ZSTD-compressed and never dictionary-encoded.
    Each record repeats 100 times, because on unique values parquet-mr
    falls back to plain pages by itself; with repeats only the disabled
    dictionary keeps them plain."""
    import glob

    import pyarrow.parquet as pq

    table = "hashdb_bucketed_opts"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    path = str(tmp_path / "bdb3")
    repeated = _records(spark, ["a", "b", "c", "d"], "src").crossJoin(spark.range(100))
    write_bucketed_hashdb(repeated.drop("id"), table, path, n_buckets=2)
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
    spark.sql(f"DROP TABLE IF EXISTS {table}")
