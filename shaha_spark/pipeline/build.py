"""The build pipeline: wordlist DataFrame → sorted hash-database Parquet.

Re-expresses the reference's build dataflow (ref
/root/reference/src/cli/build.rs:81-248) as one declarative Spark plan:

    words → non-empty filter (F1) → dropDuplicates (A1/P12)
          → multi-algorithm fanout via explode of array<struct> (H17)
          → dedup on (hash, algorithm) (J2)
          → [append-merge against an existing DB (J1)]
          → range-repartition + sort by hash (O1/P3)
          → ZSTD Parquet with native column bloom filter on `hash` (K1/P1)
          → sidecar stats JSON (K2/P4/P5)

Scale notes (the parts that matter at 100 TB):
  * The word dedup and record dedup are the only full shuffles before
    the required range-repartition for the sorted write; map-side
    partial aggregation applies to both.
  * The fanout multiplies rows by n_algorithms AFTER dedup, so each
    unique word is hashed exactly once per algorithm (ref's
    dedup-before-hash, build.rs:152-156 / P12) — Catalyst will not
    reorder a dedup across a UDF for us, so the plan encodes it.
  * Sorted-by-hash output files give every Parquet row group a tight
    min/max range on `hash`, which is what makes prefix queries prune
    (ref build.rs:208 + parquet.rs:493-516); uniformly-distributed
    digests make range partitioning skew-free by construction.
  * No driver-side loops: the reference's 100k-row batching
    (build.rs:16) is replaced by executor partitioning and spill.
"""

from __future__ import annotations

import json
import time
from contextlib import ExitStack
from typing import Any, Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shaha_spark import io_util
from shaha_spark.functions.hashers import resolve_hashers
from shaha_spark.schema import HASH_DB_SCHEMA, SIDECAR_NAME


def words_from_lines(lines: DataFrame, column: str = "value") -> DataFrame:
    """Non-empty-line filter (F1, ref src/source/file.rs:39) → [word]."""
    return lines.select(F.col(column).alias("word")).filter(F.length("word") > 0)


def dedup_words(words: DataFrame) -> DataFrame:
    """Word-level distinct (A1, ref build.rs:134,152).

    The reference is first-wins over an ordered stream; rows here are
    identical strings, so any-wins distinct is equivalent.
    """
    return words.dropDuplicates(["word"])


def hash_fanout(
    words: DataFrame,
    algorithms: list[str],
    source_name: str | None = None,
) -> DataFrame:
    """word × M hashers → M hash records (H17, ref build.rs:353-366).

    One pass over the input: M digest expressions are packed into an
    array<struct> and exploded, so the scan/dedup upstream is not
    repeated per algorithm.

    ``source_name=None`` omits the sources column. Keep it omitted
    through dedup: an array column in the dedup forces Spark into
    sort-based aggregation (arrays are not hash-agg buffer types), so
    the build attaches sources AFTER deduplication.
    """
    resolve_hashers(algorithms)  # validate names up front, like the CLI
    from shaha_spark.functions.hashers import hash_expr

    entries = F.array(
        *[
            F.struct(
                hash_expr(algo, F.col("word")).alias("hash"),
                F.lit(algo).alias("algorithm"),
            )
            for algo in algorithms
        ]
    )
    out = words.select(
        F.col("word").alias("preimage"),
        F.explode(entries).alias("entry"),
    ).select(
        F.col("entry.hash").alias("hash"),
        "preimage",
        F.col("entry.algorithm").alias("algorithm"),
    )
    if source_name is not None:
        out = out.withColumn("sources", F.array(F.lit(source_name)))
    return out


def dedup_records(records: DataFrame) -> DataFrame:
    """Dedup on the (hash, algorithm) key (J2, ref build.rs:368-371).

    Standalone operator form. ``build()`` itself no longer calls this:
    it folds the dedup into the range shuffle of the final sort
    (``sort_for_write(dedup=True)``), saving one full shuffle of the
    fanned-out records. Use this when you need the dedup WITHOUT the
    sorted-write layout.

    After word-level dedup, duplicates here can only arise from genuine
    digest collisions between distinct words; kept for semantic parity.

    Physical shape matters here: Spark's HashAggregateExec supports
    neither binary grouping keys nor string/binary aggregate buffers, so
    a naive ``dropDuplicates(["hash", "algorithm"])`` silently becomes a
    SORT-based aggregate — a full sort of the fanned-out records. This
    instead groups on (hex(hash), algorithm, preimage) with no aggregate
    functions, which stays a hash aggregate; because the preimage
    determines the digest, the result differs from first-wins only if
    two distinct preimages truly collide (2^-128 territory). For exact
    first-wins, ``sort_for_write(dedup=True)`` is the strict form.
    """
    cols = records.columns
    return (
        records.withColumn("__hh", F.hex("hash"))
        .drop("hash")
        .dropDuplicates(["__hh", "algorithm", "preimage"])
        .withColumn("hash", F.unhex("__hh"))
        .drop("__hh")
        .select(*cols)
    )


def sort_for_write(
    records: DataFrame, num_files: int | None = None, dedup: bool = False
) -> DataFrame:
    """Global sort by hash bytes (O1/P3, ref build.rs:208).

    ``repartitionByRange`` samples the key distribution and assigns
    ordered, non-overlapping byte ranges to partitions; with the
    within-partition sort this yields a totally ordered dataset across
    output files, each row group carrying a tight min/max on `hash`.

    ``dedup=True`` folds the (hash, algorithm) record dedup (J2, ref
    build.rs:368-371) into the SAME shuffle: range partitioning on
    ``hash`` co-locates equal keys (equal values can never straddle a
    range boundary), so ``RangePartitioning(hash)`` satisfies the
    window's ``ClusteredDistribution(hash, algorithm)`` and Catalyst
    inserts NO extra exchange — the row_number dedup rides the sort the
    write needs anyway (and plan-rewrites to a WindowGroupLimit, so
    ranks never materialize). Versus a separate ``dropDuplicates``
    pass, this removes one full shuffle of the fanned-out records —
    measured 1.9 s -> 1.3 s at sf0.1, and at 100 TB it halves the
    largest data movement in the build. It is also STRICTER than the
    hash-friendly dedup in :func:`dedup_records`: true first-wins (min
    preimage) per (hash, algorithm), even for genuine digest
    collisions.
    """
    if num_files is not None:
        parts = records.repartitionByRange(num_files, "hash")
    else:
        parts = records.repartitionByRange("hash")
    if dedup:
        from pyspark.sql import Window

        w = Window.partitionBy("hash", "algorithm").orderBy("preimage")
        parts = (
            parts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return parts.sortWithinPartitions("hash", "algorithm")


#: The hash database's Parquet writer options (:func:`write_hashdb`).
#:
#: * Bloom filter on `hash` with ADAPTIVE sizing (parquet-mr 1.13+): the
#:   writer keeps the smallest of 5 candidate filters (halving from
#:   parquet.bloom.filter.max.bytes, default 1 MB) meeting the fpp
#:   target for the row group's actual ndv. The old fixed 1M-ndv
#:   declaration (ref parquet.rs:28,47-48) wrote ~1.2 MB into every file
#:   — half the bench database's bytes (61.5 -> 32.2 B/record, round 4)
#:   — and undersized the filter 4x at 4M-row files. Declaring any ndv
#:   disables adaptive mode; raising max.bytes raises the per-file
#:   floor too (8 MB cap -> 512 KB floor), so the default cap stays.
#: * Dictionary encoding off for `hash` and `preimage`: both are
#:   (near-)unique, so the dictionary always overflows to plain and the
#:   attempt is pure CPU. `algorithm` and `sources` keep theirs.
#: * zstd level 2, not the default 3: the hash bytes are incompressible
#:   at any level. With the dictionary change: write 1.09 -> 0.98 s
#:   median, 31.93 -> 32.12 B/record (sf0.1, 541k records, interleaved
#:   5 reps, scripts/ab_write_knobs.py). Level 1 was 6% faster but cost
#:   +7.8% bytes; dictionary-skip at level 3 was slower (plain pages are
#:   bigger, and zstd-3 pays proportionally).
WRITE_OPTIONS = {
    "compression": "zstd",
    "parquet.compression.codec.zstd.level": "2",
    "parquet.enable.dictionary#hash": "false",
    "parquet.enable.dictionary#preimage": "false",
    "parquet.bloom.filter.enabled#hash": "true",
    "parquet.bloom.filter.adaptive.enabled": "true",
    # one file per task and directory, whatever the session's
    # spark.sql.files.maxRecordsPerFile: a swap pairs files with frames
    "maxRecordsPerFile": "0",
}


def write_hashdb(
    df: DataFrame,
    path: str,
    *,
    partition_by: str | None = None,
) -> None:
    """Sorted ZSTD Parquet write with a native bloom filter on `hash`.

    The bloom filter replaces the reference's hand-serialized footer
    bloom (ref parquet.rs:24-29,444-461): Spark's vectorized Parquet
    reader consults it for equality predicates on `hash`, giving the
    same point-lookup short-circuit without custom code (P1).

    ``partition_by="algorithm"`` lays the dataset out as Hive
    partitions ``algorithm=<name>/``, so algorithm-filtered queries
    prune whole directories (the reference keeps one mixed file and
    filters row-by-row, parquet.rs:551-553). Each task is sorted by
    ``(partition column, "hash")`` here, so files stay hash-sorted
    within each partition: the write's own sort, by the partition
    column alone, would otherwise replace the caller's. (The ANN index
    writes its ``centroid_id=`` buckets through here too; they have no
    ``hash``.)

    One file is written per input partition and directory; file-count
    sizing is the caller's (``sort_for_write(num_files=)``).
    """
    if partition_by is not None:
        df = df.sortWithinPartitions(
            partition_by, *(["hash"] if "hash" in df.columns else [])
        )
    writer = df.write.mode("overwrite").options(**WRITE_OPTIONS)
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)


def is_algorithm_partitioned(files: list[tuple[str, int]]) -> bool:
    """Whether a database's ``(path, bytes)`` file listing uses the
    ``algorithm=<name>/`` layout of ``write_hashdb(partition_by="algorithm")``.
    A rewrite of the whole dataset must keep that layout: silently
    flattening it would drop directory pruning for algorithm filters."""
    return any("/algorithm=" in p for p, _ in files)


def sidecar_meta(
    *,
    total_records: int,
    algorithms: list[str],
    sources: list[str],
    source_hashes: list[str],
    file_size_bytes: int,
    files: list[dict[str, Any]] | None = None,
) -> dict[str, Any]:
    """The sidecar stats JSON — stands in for the reference's Parquet
    footer key-value metadata (ref parquet.rs:20-26), which the
    DataFrame writer cannot emit.

    ``files`` is the per-file index (see :func:`with_index`); None
    leaves it out."""
    return with_index(
        {
            "total_records": total_records,
            "algorithms": sorted(set(algorithms)),
            "sources": sorted(set(sources)),
            "source_hashes": sorted(set(source_hashes)),
            "file_size_bytes": file_size_bytes,
            "bloom": {"column": "hash", "kind": "parquet-native"},
            "format_version": 1,
        },
        files,
    )


def with_index(
    meta: dict[str, Any], files: list[dict[str, Any]] | None
) -> dict[str, Any]:
    """Sidecar ``meta`` with its per-file index ``files``, or without
    one when ``files`` is None.

    The index has one entry per live Parquet file, sorted by path:
    ``{"path", "rows", "bytes", "min", "max"}`` — the db-relative path,
    its row count and size, and the min and max of ``hash`` as hex
    (null for a file without rows). Every live read reads the files it
    names (:func:`read_committed`), ``query`` only those whose range
    meets its predicate. Every writer keeps it exact; where footers
    cannot be read (a remote store) there is none."""
    out = {k: v for k, v in meta.items() if k != "files"}
    if files is not None:
        out["files"] = files
    return out


def put_sidecar(spark: SparkSession, path: str, meta: dict[str, Any]) -> None:
    """Write ``meta`` as the sidecar of ``path``, stamped with the time.
    The old sidecar is replaced whole (``io_util.write_text_atomic``): a
    concurrent reader never loads a truncated file."""
    meta = {**meta, "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    io_util.write_text_atomic(
        spark, f"{path.rstrip('/')}/{SIDECAR_NAME}", json.dumps(meta, indent=2)
    )


def write_sidecar(spark: SparkSession, path: str, **fields: Any) -> None:
    """A fresh build's sidecar (the fields of :func:`sidecar_meta`), its
    size and file index from one listing of ``path``. Written AFTER the
    data so a missing/stale sidecar degrades to the scan fallback (ref
    parquet.rs:577-581). A rewrite writes its sidecar through its swap
    (``compact.replace_files``)."""
    from shaha_spark.pipeline.compact import file_index
    from shaha_spark.pipeline.snapshot import visible_files

    root = io_util.qualify(spark, path)
    live = visible_files(root, io_util.list_files(spark, root))
    put_sidecar(
        spark,
        path,
        sidecar_meta(
            **fields,
            file_size_bytes=sum(sz for _, sz in live),
            files=file_index(root, live),
        ),
    )


def read_sidecar(spark: SparkSession, path: str) -> dict[str, Any] | None:
    raw = io_util.read_text(spark, f"{path.rstrip('/')}/{SIDECAR_NAME}")
    return json.loads(raw) if raw is not None else None


def read_hashdb(spark: SparkSession, path: str, validate: bool = False) -> DataFrame:
    """Schema-enforced read of the files the committed file index names
    (:func:`read_committed`).

    The reference errors on schema mismatch (parquet.rs:294-313). Spark
    with an explicit schema would instead silently null out missing
    columns, so ``validate=True`` reproduces the reference's hard error
    by checking the file footer schema first (one driver-side footer
    read, no data scan).
    """
    if validate:
        actual = spark.read.parquet(path).schema
        expected_names = [f.name for f in HASH_DB_SCHEMA.fields]
        if [f.name for f in actual.fields] != expected_names:
            raise ValueError(
                f"Invalid schema: expected columns {expected_names}, "
                f"found {[f.name for f in actual.fields]} at {path}"
            )
    return read_committed(spark, path)[0]


def read_committed(
    spark: SparkSession,
    path: str,
    select: Callable[[dict[str, Any]], list[str]] | None = None,
) -> tuple[DataFrame, dict[str, Any] | None]:
    """A read of the database at ``path`` as its sidecar's file index
    names it, and that sidecar: every indexed file, or the db-relative
    files ``select(sidecar)`` picks. A swap writes the sidecar between
    publishing its new files and disposing of the old ones
    (``compact._finish``), so the index names one complete generation.

    The directory is read only where the sidecar has no index (an
    older writer, a remote store). A file disposed of between the
    sidecar read and the read's build (``PATH_NOT_FOUND``) means a swap
    committed meanwhile: the sidecar is read once more. One disposed of
    after the build fails the job (``spark.sql.files.ignoreMissingFiles``
    stays false): an error, never fewer rows."""
    root = path.rstrip("/")
    reader = spark.read.schema(HASH_DB_SCHEMA)
    for last in (False, True):
        meta = read_sidecar(spark, root)
        if meta is None or meta.get("files") is None:
            return reader.parquet(root), meta
        rels = select(meta) if select else [e["path"] for e in meta["files"]]
        try:
            files = [f"{root}/{r}" for r in rels]
            return reader.option("basePath", root).parquet(*files), meta
        except AnalysisException as e:
            if last or e.getCondition() != "PATH_NOT_FOUND":
                raise


def build(
    spark: SparkSession,
    words: DataFrame,
    algorithms: list[str],
    output_path: str,
    *,
    source_name: str = "words",
    source_hash: str | None = None,
    append: bool = False,
    dry_run: bool = False,
    force: bool = False,
    num_files: int | None = None,
    partition_by_algorithm: bool = False,
) -> dict[str, Any]:
    """End-to-end build (ref src/cli/build.rs:81-248). Returns the summary
    stats the reference prints at build.rs:234-248.

    Over an existing database the build holds its write lock
    (``compact.writing``) and replaces every live file through
    ``compact.replace_files``, after finishing any swap an earlier run
    left committed: an append merges against the database, a build
    without ``append`` replaces it. Either way its layout and snapshot
    history are kept, and a write that fails leaves it as it was."""
    resolve_hashers(algorithms)
    swap = not dry_run and io_util.exists(spark, output_path)
    with ExitStack() as held:
        if swap:
            from shaha_spark.pipeline import compact, snapshot

            # before the sidecar is read: a committed swap's sidecar
            # is written by its recovery
            db, entries, _ = held.enter_context(compact.writing(spark, output_path))
            live = snapshot.visible_files(db, entries)
        existing_meta = read_sidecar(spark, output_path) if append else None
        if append and existing_meta is None and io_util.exists(spark, output_path):
            # Sidecar missing (deleted, or a crash between swap and sidecar
            # write): recover algorithms/sources by scanning, otherwise the
            # freshly written sidecar would confidently misreport the merged
            # dataset's provenance through info()'s metadata fast path.
            from shaha_spark.pipeline.stats import scan_stats

            recovered = scan_stats(spark, output_path)
            existing_meta = {
                "algorithms": recovered["algorithms"],
                "sources": recovered["sources"],
                "source_hashes": [],  # unknowable without the sidecar
            }

        # Idempotence gate (P5, ref build.rs:113-125): skip if this exact
        # source content was already ingested.
        if (
            not force
            and source_hash is not None
            and existing_meta is not None
            and source_hash in existing_meta.get("source_hashes", [])
        ):
            return {
                "skipped": True,
                "reason": "source already in database (use force=True to re-add)",
                "total_records": existing_meta["total_records"],
            }

        # NOTE: no forced repartition here — unlike the shingle operators,
        # the expensive work (hash fanout) runs on the reduce side of the
        # word-dedup shuffle, which already spreads it across the cluster;
        # measured: an extra upstream repartition only adds shuffle cost.
        words = words_from_lines(words, "word")
        unique = dedup_words(words)

        if dry_run:
            # Ref build.rs:253-327: count-only pass, no write.
            total, n_unique = words.select(
                F.count(F.lit(1)).alias("t"),
            ).head()[0], unique.count()
            return {
                "dry_run": True,
                "total_words": total,
                "unique_words": n_unique,
                "duplicates": total - n_unique,
                "records_to_generate": n_unique * len(algorithms),
            }

        # The (hash, algorithm) record dedup (J2) is NOT a separate pass:
        # it rides the range shuffle inside sort_for_write(dedup=True)
        # below, saving one full shuffle of the fanned-out records.
        #
        # The constant `sources` array is attached AFTER that shuffle on
        # the fresh-build path (guide §2.3: shuffle fewer bytes): a
        # fresh build's sources column is the same one-element literal on
        # every row, so carrying it through the range sampling pass, the
        # exchange, and the window dedup is pure serialization overhead —
        # measured 1.76 s -> 1.40 s for the sort+write leg at sf0.1.
        # Appends keep it on the shuffled rows: there the merged arrays
        # are data-dependent.
        records = hash_fanout(unique, algorithms)

        merged_sources = [source_name]
        merged_hashes = [source_hash] if source_hash else []
        merged_algos = list(algorithms)
        if swap:
            # rewriting an algorithm-partitioned database must keep the
            # layout: forgetting the flag here would silently flatten
            # algorithm= directories and drop pruning for every later
            # filtered query (compact_hashdb detects it the same way)
            partition_by_algorithm |= is_algorithm_partitioned(live)
        if swap and append:
            from shaha_spark.pipeline.append import append_merge

            existing = read_hashdb(spark, output_path)
            records = append_merge(
                existing,
                records.withColumn("sources", F.array(F.lit(source_name))),
            )
            if existing_meta:
                merged_sources += existing_meta.get("sources", [])
                merged_hashes += existing_meta.get("source_hashes", [])
                merged_algos += existing_meta.get("algorithms", [])

        # Persist the fanned-out records across the range shuffle
        # (optimization round 12, guide §2.4/§5): repartitionByRange
        # runs a separate SAMPLING job over its input to pick range
        # boundaries, and that job re-evaluates the whole upstream —
        # here the digest kernels themselves (the build's dominant CPU;
        # the word-dedup shuffle above is reused as skipped stages, the
        # hash fanout is not). Materializing the records once means the
        # sample pass and the shuffle both read stored blocks instead
        # of hashing every word twice. Measured sf0.1: full
        # dedup+fanout+sort+write 2.05 → 1.62 s; at scale this removes
        # one full digest pass per build/append. Unpersisted when the
        # build returns or raises, so no blocks outlive it (the r11
        # bench forensics found exactly this class of leak).
        records = records.persist()
        held.callback(_unpersist, records)
        sorted_records = sort_for_write(records, num_files=num_files, dedup=True)
        if not (swap and append):
            # the constant sources column, attached post-shuffle (a
            # projection: per-partition order holds)
            sorted_records = sorted_records.withColumn(
                "sources", F.array(F.lit(source_name))
            )
        merged_hashes = [h for h in merged_hashes if h]
        partition_by = "algorithm" if partition_by_algorithm else None

        if swap:
            # every live file is an original: the swap's sidecar starts
            # from nothing and counts what it publishes
            manifest = compact.replace_files(
                spark,
                db,
                live,
                sorted_records,
                "append" if append else "build",
                "retain",
                sidecar_meta(
                    total_records=0,
                    algorithms=merged_algos,
                    sources=merged_sources,
                    source_hashes=merged_hashes,
                    file_size_bytes=0,
                    files=[],
                ),
                partition_by=partition_by,
            )
            total_records = manifest["sidecar"]["total_records"]
        else:
            # total_records observed ON the write job itself
            # (CollectMetrics above the final sort) — no post-write
            # read-back pass
            from pyspark.sql import Observation

            obs = Observation("build_total_records")
            write_hashdb(
                sorted_records.observe(obs, F.count(F.lit(1)).alias("n")),
                output_path,
                partition_by=partition_by,
            )
            total_records = int(obs.get["n"])
            write_sidecar(
                spark,
                output_path,
                total_records=total_records,
                algorithms=merged_algos,
                sources=merged_sources,
                source_hashes=merged_hashes,
            )
        return {
            "skipped": False,
            "total_records": total_records,
            "algorithms": sorted(set(merged_algos)),
            "sources": sorted(set(merged_sources)),
            "output_path": output_path,
        }


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # never let cleanup mask the build's own error
