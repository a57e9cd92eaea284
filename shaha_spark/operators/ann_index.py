"""Persistent IVF index: write-time centroid assignment, read-time
partition-pruned probing.

The in-plan IVF operators (operators/similarity.py ivf_topk) derive
the assignment inside every query, which is right for the oracle gate
but wrong for production: at 100 TB you pay the k-means scan once at
ingest, store each vector under its coarse bucket, and every query
touches only the nprobe/k fraction of the data — AT THE SCAN LAYER,
not as a post-read filter. This module is that write path:

* :func:`build_ivf_index` fits the deterministic k-means
  (operators/kmeans.py), assigns vectors (broadcast argmax,
  shuffle-free), and writes the corpus ``partitionBy(centroid_id)``
  with a driver-side JSON centroid sidecar (k · d floats — model-
  sized, the same materialization budget as the k-means loop itself).
* :func:`ivf_index_topk` probes: per-query top-``nprobe`` centroids
  (k-row broadcast), then reads the index with a STATIC
  ``centroid_id IN (...)`` predicate built from the union of probed
  buckets — at most k values — so Spark's partition pruning skips
  every unprobed directory before any file is opened
  (``PartitionFilters`` in the plan; asserted in tests). Candidates
  then join the (query → bucket) probe table so each query scores
  only ITS buckets, and exact cosine re-ranks.
* :func:`append_to_ivf_index`, :func:`append_to_ivf_pq_index` and
  :func:`compact_index` change the files after the build through
  ``compact.replace_files``, the swap every hash-database rewrite uses,
  under the same write lock and recovery (``compact.writing``). The
  index's state (row and byte totals, staleness counters, the replay
  ledger) lives in the same sidecar as the hash database's,
  ``_shaha_meta.json``, which the swap's manifest carries: files and
  ledger commit together.

Same determinism recipe as the rest of the ANN family: deterministic
k-means, (sim DESC, id ASC) tiebreaks everywhere, cosine rounded to 6
— the index round trip returns bit-identical results to the in-plan
``ivf_topk`` under the same parameters, which is exactly what the
tests assert.
"""

from __future__ import annotations

import json
from contextlib import contextmanager
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io_util
from ..pipeline import compact, snapshot
from ..pipeline.build import put_sidecar, read_sidecar
from .kmeans import kmeans_fit
from .similarity import cosine_sim, cosine_sim_hoisted, dot, ivf_assign, norm2

CENTROID_SIDECAR = "_ivf_centroids.json"
#: where indexes written before the sidecar carried their state kept it
#: (``.v{N}`` versions, or one unversioned file); read, never written
APPEND_STATE_SIDECAR = "_append_state.json"
#: appended/trained ratio at which a retrain is recommended: past this
#: the coarse partition no longer reflects the corpus distribution and
#: probe recall degrades (the sidecar records the drift; the caller
#: owns the rebuild schedule, exactly like compaction)
RETRAIN_RATIO = 0.5
#: crash leftovers of the write protocols of older releases: sibling
#: backup directories of compaction, and ledgered-append manifests in
#: the root. Writers refuse to start on them (README, "Recovering an ANN
#: index an older release left mid-write").
_OLD_CRASH_SIBLINGS = (".__compact_bak__", ".__compact_old__")
_OLD_CRASH_PREFIX = "_ingest_batch_"


def build_ivf_index(
    df: DataFrame,
    path: str,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict[str, Any]:
    """Fit, assign, and write the bucketed index; returns a summary."""
    spark = df.sparkSession
    cents = kmeans_fit(df, k=k, iters=iters, vec_col=vec_col, id_col=id_col)
    cent_rows = [
        {"centroid_id": int(r.centroid_id), "centroid": [float(x) for x in r.centroid]}
        for r in cents.collect()
    ]
    assigned = ivf_assign(df, cents, vec_col=vec_col, id_col=id_col)
    (
        assigned.write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("centroid_id")
        .parquet(path)
    )
    io_util.write_text(
        spark,
        path.rstrip("/") + "/" + CENTROID_SIDECAR,
        json.dumps(cent_rows, sort_keys=True),
    )
    n = spark.read.parquet(path).count()
    _put_built_sidecar(spark, path, n)
    return {
        "path": path,
        "k": len(cent_rows),
        "n_vectors": n,
    }


def _put_built_sidecar(spark: SparkSession, path: str, n: int) -> None:
    """A fresh build's sidecar: its ``n`` rows, all trained on, and the
    bytes of its files."""
    put_sidecar(
        spark,
        path,
        {
            "total_records": n,
            "file_size_bytes": sum(sz for _, sz in snapshot.live_files(spark, path)),
            "trained_rows": n,
            "appends": 0,
        },
    )


def _state_of(meta: dict[str, Any]) -> dict[str, int]:
    state = {
        "trained_rows": meta["trained_rows"],
        "appended_rows": meta["total_records"] - meta["trained_rows"],
        "appends": meta["appends"],
    }
    if "last_batch_id" in meta:
        state["last_batch_id"] = meta["last_batch_id"]
    return state


def load_append_state(spark: SparkSession, path: str) -> dict[str, int]:
    """The staleness counters: rows the model artifacts were trained on
    vs rows appended since, the number of appends and, once an append
    ran, the ``last_batch_id`` of the replay ledger. They live in the
    index's sidecar (``_shaha_meta.json``), where ``appended_rows`` is
    ``total_records - trained_rows``. An index written before the
    sidecar carried them is read through its older state files."""
    meta = read_sidecar(spark, path)
    return _legacy_state(spark, path) if meta is None else _state_of(meta)


def _legacy_state(spark: SparkSession, path: str) -> dict[str, int]:
    """The highest ``_append_state.json.v{N}``, else the unversioned
    file, else never-appended."""
    root = path.rstrip("/")
    prefix = APPEND_STATE_SIDECAR + ".v"
    versions = {}
    for child in io_util.list_children(spark, root):
        name = child.rsplit("/", 1)[-1]
        if name.startswith(prefix) and name[len(prefix):].isdigit():
            versions[int(name[len(prefix):])] = child
    newest = versions[max(versions)] if versions else f"{root}/{APPEND_STATE_SIDECAR}"
    txt = io_util.read_text(spark, newest)
    if txt is None:
        return {"trained_rows": 0, "appended_rows": 0, "appends": 0}
    return json.loads(txt)


def _state_summary(path: str, state: dict, n_appended: int, skipped: bool) -> dict:
    staleness = int(state.get("appended_rows", 0)) / max(
        1, int(state.get("trained_rows", 0))
    )
    return {
        "path": path,
        "n_appended": int(n_appended),
        "skipped": skipped,
        **{k: state[k] for k in ("trained_rows", "appended_rows", "appends")},
        "staleness": staleness,
        "retrain_recommended": staleness >= RETRAIN_RATIO,
    }


@contextmanager
def _open_for_write(
    spark: SparkSession, path: str
) -> Iterator[tuple[str, list[tuple[str, int]], dict[str, Any], dict[str, int]]]:
    """The entry of append and compaction: refuse a crash state an older
    release left, take the write lock and finish or drop an interrupted
    swap (``compact.writing``), and yield the index's qualified root,
    its live files, its sidecar and the recovery report; the lock is
    released on exit.

    An index from before the sidecar carried its state gets one made of
    its older state files, a count and the listing; the first swap
    writes it."""
    base = path.rstrip("/")
    leftovers = [base + s for s in _OLD_CRASH_SIBLINGS if io_util.exists(spark, base + s)]
    leftovers += [
        c for c in io_util.list_children(spark, base)
        if c.rsplit("/", 1)[-1].startswith(_OLD_CRASH_PREFIX)
    ]
    if leftovers:
        raise RuntimeError(
            f"{path} was left mid-write by an older release ({leftovers}); "
            "recover it by hand as the README describes (\"Recovering an "
            "ANN index an older release left mid-write\"), then retry"
        )
    with compact.writing(spark, path) as (root, entries, recovered):
        live = snapshot.visible_files(root, entries)
        meta = read_sidecar(spark, root)
        if meta is None:
            state = _legacy_state(spark, root)
            n = spark.read.parquet(root).count()
            meta = {
                "total_records": n,
                "file_size_bytes": sum(sz for _, sz in live),
                "trained_rows": n - state["appended_rows"],
                "appends": state["appends"],
            }
            if "last_batch_id" in state:
                meta["last_batch_id"] = state["last_batch_id"]
        yield root, live, meta, recovered


def _append(
    spark: SparkSession,
    path: str,
    encoded: Callable[[], DataFrame],
    batch_id: int | None,
) -> dict[str, Any]:
    """The append of both index kinds: one ``compact.replace_files``
    swap that adds the batch's files (``encoded()``, co-located per
    bucket) and commits them together with the sidecar's counters and
    ledger. A batch at or below the ledger's ``last_batch_id`` is
    skipped whole.

    Appends and compactions of one index do not overlap: a second
    writer finds the lock and raises."""
    with _open_for_write(spark, path) as (root, _, meta, _):
        last = meta.get("last_batch_id", -1)
        if batch_id is not None and last >= batch_id:
            return _state_summary(path, _state_of(meta), 0, True)
        after = compact.replace_files(
            spark,
            root,
            [],
            encoded().repartition("centroid_id"),
            "append",
            "retain",
            {
                **meta,
                "appends": meta["appends"] + 1,
                "last_batch_id": last if batch_id is None else int(batch_id),
            },
            partition_by="centroid_id",
        )["sidecar"]
        return _state_summary(
            path, _state_of(after), after["total_records"] - meta["total_records"], False
        )


def load_ivf_centroids(spark: SparkSession, path: str) -> DataFrame:
    """The k-row centroid table from the sidecar."""
    txt = io_util.read_text(spark, path.rstrip("/") + "/" + CENTROID_SIDECAR)
    if txt is None:
        raise FileNotFoundError(f"no {CENTROID_SIDECAR} under {path}")
    rows = json.loads(txt)
    return spark.createDataFrame(
        [(r["centroid_id"], r["centroid"]) for r in rows],
        "centroid_id int, centroid array<float>",
    )


def ivf_index_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k_neighbors: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe the persisted index: per-query nprobe buckets, partition-
    pruned scan, exact-cosine re-rank within probed buckets."""
    cents = F.broadcast(load_ivf_centroids(spark, path))
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    )
    probe_scored = q.crossJoin(cents).select(
        query_id_col,
        "__qvec",
        "centroid_id",
        cosine_sim(F.col("__qvec"), F.col("centroid")).alias("__csim"),
    )
    wp = Window.partitionBy(query_id_col).orderBy(
        F.col("__csim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        probe_scored.withColumn("__r", F.row_number().over(wp))
        .where(F.col("__r") <= nprobe)
        .select(
            query_id_col,
            "__qvec",
            norm2(F.col("__qvec")).alias("__qn2"),
            "centroid_id",
        )
        # materialized once: the plan is consumed twice (the IN-list
        # collect below AND the candidate join), and without the
        # checkpoint the queries-side crossJoin + window would run
        # twice — expensive when `queries` is itself derived
        .localCheckpoint(eager=True)
    )
    # static IN-list from the union of probed buckets (<= k values —
    # model-sized) so the scan prunes partition DIRECTORIES, not rows
    probed_ids = sorted(
        r.centroid_id for r in probes.select("centroid_id").distinct().collect()
    )
    index = spark.read.parquet(path).filter(
        F.col("centroid_id").isin(probed_ids)
    )
    cands = index.withColumn("__vn2", norm2(F.col(vec_col))).join(
        F.broadcast(probes), "centroid_id"
    ).select(
        query_id_col,
        id_col,
        F.round(
            cosine_sim_hoisted(
                dot(F.col(vec_col), F.col("__qvec")),
                F.col("__vn2"),
                F.col("__qn2"),
            ),
            6,
        ).alias("approx_cosine"),
    )
    wk = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_cosine").desc(), F.col(id_col).asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k_neighbors)
        .select(
            query_id_col,
            id_col,
            "approx_cosine",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def append_to_ivf_index(
    batch: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    batch_id: int | None = None,
) -> dict[str, Any]:
    """Append a new vector batch into an existing IVF index WITHOUT
    retraining — the production ingest shape (cf. the reference's
    append path, ref src/cli/build.rs:180-204, and this repo's
    incremental_minhash_dedup, dedup.py:197: new data is
    encoded/assigned with the PERSISTED model artifacts and lands
    next to the existing corpus; the expensive training scan is never
    re-run).

    Mechanics: load the k-row centroid sidecar (model-sized), assign
    the batch with the same broadcast argmax as the build
    (shuffle-free over the batch), co-locate per bucket
    (``repartition(centroid_id)`` — the shuffle moves only the BATCH,
    and bounds the file growth to ≤ k files per append instead of
    tasks × k), and add the files to the matching ``centroid_id=``
    partition directories in one ``compact.replace_files`` swap, the
    hash database's. A staged file is invisible to probes; the batch
    becomes visible file by file as the swap publishes it.

    Staleness: the sidecar accumulates appended_rows / trained_rows;
    past :data:`RETRAIN_RATIO` the summary flags
    ``retrain_recommended`` (the centroids no longer reflect the
    corpus — recall drifts; the caller owns the rebuild schedule).
    File-count growth across many appends is the normal small-file
    problem — :func:`compact_index` on the same schedule,
    independently of retraining.

    Correctness contract (driver-oracled, emb_ivf_index_append_topk):
    probing after build(base) + append(batch) is bit-identical to
    indexing base ∪ batch with centroids trained on base — append
    changes WHERE rows land and nothing about scoring.

    Replay ledger (``batch_id``): callers with a monotone batch
    sequence — the streaming ingest's foreachBatch — pass the batch id;
    a batch at or below the last committed ``last_batch_id`` is skipped
    whole (``skipped=True``, nothing written), so replaying an
    already-committed batch is a no-op instead of a double append. The
    ledger rides the swap's manifest with the batch's files, so a
    ledgered append is exactly-once: a crash before the manifest leaves
    the index as it was and the replay appends once; a crash after it
    is rolled forward by the next writer, and the replay is skipped.
    """
    spark = batch.sparkSession

    def encoded() -> DataFrame:
        cents = load_ivf_centroids(spark, path)
        return ivf_assign(batch, cents, vec_col=vec_col, id_col=id_col)

    return _append(spark, path, encoded, batch_id)


PQ_CODEBOOK_SIDECAR = "_pq_codebooks.json"
#: quantization-distortion signal written at build time (pq_distortion)
PQ_QUALITY_SIDECAR = "_pq_quality.json"


def build_ivf_pq_index(
    df: DataFrame,
    path: str,
    k_coarse: int = 8,
    m: int = 4,
    k_sub: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict[str, Any]:
    """Fit coarse centroids + PQ codebooks, encode, and write the
    CODES-ONLY index partitioned by coarse bucket — the full write-time
    product of the IVF-PQ composition (operators/pq.py ivf_pq_topk
    derives all of this inside every query; at 100 TB you pay it once
    at ingest).

    What lands on disk per vector is ``(id, codes array<int>, vnorm)``
    — m small ints and one double instead of ``dim`` floats, a 10-50×
    scan-width cut on top of the nprobe/k partition pruning. The two
    model-sized artifacts (k_coarse coarse centroids, m×k_sub
    sub-centroids) go in JSON sidecars; both round-trip exactly
    (float32 → Python float → float32 is lossless through JSON repr),
    so the probe path is bit-identical to the in-plan operator —
    asserted in tests and by the driver oracle (the index entry reuses
    the in-plan chain's oracle verbatim).
    """
    from .pq import ivf_pq_train, pq_encode

    spark = df.sparkSession
    # one fused grouped Lloyd run for the coarse fit + m sub-codebooks
    # (bit-identical to the sequential kmeans_fit + pq_train pair;
    # optimization r12 — halves the training jobs per index build)
    cents, books = ivf_pq_train(
        df, k_coarse=k_coarse, m=m, k_sub=k_sub, iters=iters,
        vec_col=vec_col, id_col=id_col,
    )
    cent_rows = [
        {"centroid_id": int(r.centroid_id), "centroid": [float(x) for x in r.centroid]}
        for r in cents.collect()
    ]
    book_rows = [
        {
            "sub_id": int(r.sub_id),
            "centroid_id": int(r.centroid_id),
            "centroid": [float(x) for x in r.centroid],
        }
        for r in books.collect()
    ]
    assigned = ivf_assign(df, cents, vec_col=vec_col, id_col=id_col)
    coded = pq_encode(df, books, vec_col=vec_col, id_col=id_col).join(
        assigned.select(id_col, "centroid_id"), id_col
    )
    (
        # co-locate each bucket before the partitioned write: without
        # the repartition every task writes a file into every bucket
        # directory (tasks × k_coarse files — millions at cluster
        # scale). The extra shuffle moves only the NARROW coded rows
        # (m ints + a double), which is exactly the width PQ saved;
        # values are partitioning-invariant so this is layout-only.
        coded.repartition("centroid_id")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("centroid_id")
        .parquet(path)
    )
    io_util.write_text(
        spark,
        path.rstrip("/") + "/" + CENTROID_SIDECAR,
        json.dumps(cent_rows, sort_keys=True),
    )
    io_util.write_text(
        spark,
        path.rstrip("/") + "/" + PQ_CODEBOOK_SIDECAR,
        json.dumps(book_rows, sort_keys=True),
    )
    n = spark.read.parquet(path).count()
    _put_built_sidecar(spark, path, n)
    # write-time quantization-quality signal (VERDICT r10 #6): flag
    # unclusterable corpora AT INGEST instead of at first bad query
    from .pq import pq_distortion

    quality = pq_distortion(df, books, vec_col=vec_col, id_col=id_col)
    io_util.write_text(
        spark,
        path.rstrip("/") + "/" + PQ_QUALITY_SIDECAR,
        json.dumps(quality, sort_keys=True),
    )
    return {
        "path": path,
        "k_coarse": len(cent_rows),
        "m": m,
        "k_sub": k_sub,
        "n_vectors": n,
        "quantization": quality,
    }


def load_pq_codebooks(spark: SparkSession, path: str) -> DataFrame:
    """The m×k_sub codebook table from the sidecar."""
    txt = io_util.read_text(
        spark, path.rstrip("/") + "/" + PQ_CODEBOOK_SIDECAR
    )
    if txt is None:
        raise FileNotFoundError(f"no {PQ_CODEBOOK_SIDECAR} under {path}")
    rows = json.loads(txt)
    return spark.createDataFrame(
        [(r["sub_id"], r["centroid_id"], r["centroid"]) for r in rows],
        "sub_id int, centroid_id int, centroid array<float>",
    )


def ivf_pq_index_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k_neighbors: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe the persisted IVF-PQ index: per-query nprobe coarse
    buckets (broadcast k_coarse-row sidecar table), a partition-pruned
    scan that reads ONLY ``(id, codes, vnorm)`` from the probed
    directories (the scan never touches a full vector — PQ's whole
    point made visible in ReadSchema), then the shared broadcast-ADC
    scorer. Bit-identical to the in-plan
    :func:`~shaha_spark.operators.pq.ivf_pq_topk` under the same
    artifacts — the disk round trip changes the scan shape, never a
    value."""
    from .pq import _adc_score

    cents = F.broadcast(load_ivf_centroids(spark, path))
    books = load_pq_codebooks(spark, path)
    q = queries.select(F.col(query_id_col), F.col(vec_col))
    probe_scored = q.crossJoin(cents).select(
        query_id_col,
        "centroid_id",
        cosine_sim(F.col(vec_col), F.col("centroid")).alias("__csim"),
    )
    wp = Window.partitionBy(query_id_col).orderBy(
        F.col("__csim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        probe_scored.withColumn("__r", F.row_number().over(wp))
        .where(F.col("__r") <= nprobe)
        .select(query_id_col, "centroid_id")
        # consumed twice (IN-list collect + candidate join); queries
        # may itself be derived — same boundary as ivf_index_topk
        .localCheckpoint(eager=True)
    )
    probed_ids = sorted(
        r.centroid_id for r in probes.select("centroid_id").distinct().collect()
    )
    index = spark.read.parquet(path).filter(
        F.col("centroid_id").isin(probed_ids)
    )
    coded = index.join(F.broadcast(probes), "centroid_id").select(
        query_id_col, id_col, "codes", "vnorm"
    )
    return _adc_score(
        coded, books, queries, k_neighbors, vec_col, id_col, query_id_col,
        per_query_codes=True,
    )


def ivf_pq_refine_topk(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    nprobe: int = 2,
    k_neighbors: int = 5,
    refine_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    check_coverage: bool = False,
) -> DataFrame:
    """ADC-then-refine over the persisted IVF-PQ index — the standard
    quantized-search accuracy recovery (the refine/rerank stage of
    Jégou et al. 2011 §V and FAISS's IndexRefine, re-expressed on
    DataFrames): PQ's asymmetric-distance scores rank a candidate pool
    cheaply from codes alone, then the top ``refine_factor × k``
    candidates per query are re-scored with their EXACT vectors and
    re-ranked to the final top-k. Buys back the recall the codes lose
    on hard corpora while still reading full vectors for only
    |queries| · refine_factor · k rows — never the corpus.

    Execution shape: stage 1 is :func:`ivf_pq_index_topk` verbatim
    (partition-pruned, codes-only scan); stage 2 broadcasts the
    candidate id list (query-batch-bounded) against ONE pass over
    ``corpus`` reading just (id, vector) — a broadcast hash semi-join,
    no shuffle — then scores each surviving (query, vector) pair with
    the same hoisted exact-cosine recipe as brute_force_topk and
    windows the final top-k. At 100 TB pair this with a vector-bearing
    bucketed layout (build_ivf_index's output) so the fetch pass is
    also partition-pruned by the probed buckets; the operator takes
    any (id, vector) DataFrame so that composition is a plain argument.

    Determinism: both stages use the module's (score DESC, id ASC)
    tiebreaks and round-6 cosines — output is engine- and
    partitioning-invariant, oracle-checked by composing the verified
    IVF-PQ chain with the verified exact-cosine re-rank.

    CONTRACT on ``corpus`` (r11 ADVICE): it must contain every
    ``id_col`` the index at ``path`` holds — the refine fetch
    inner-joins the stage-1 candidate ids against it, so a corpus
    that drifted from the index silently drops candidates and queries
    can return fewer than ``k_neighbors`` rows. Pass
    ``check_coverage=True`` to pay two bounded counts (candidate list
    + joined candidates — the corpus pass runs once extra) and raise
    on any shortfall instead; it is off by default because the
    verified one-corpus-pass shape is the production path.
    """
    cands = ivf_pq_index_topk(
        spark,
        path,
        queries,
        nprobe=nprobe,
        k_neighbors=k_neighbors * refine_factor,
        vec_col=vec_col,
        id_col=id_col,
        query_id_col=query_id_col,
    ).select(query_id_col, id_col)
    if check_coverage:
        # bounded: |queries| · refine_factor · k rows, materialized once
        cands = cands.localCheckpoint(eager=True)
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            norm2(F.col(vec_col)).alias("__qn2"),
        )
    )
    exact = (
        corpus.select(
            F.col(id_col), F.col(vec_col), norm2(F.col(vec_col)).alias("__cn2")
        )
        # candidate list is |queries| · refine_factor · k rows — bounded
        .join(F.broadcast(cands), id_col)
        .join(q, query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(
                cosine_sim_hoisted(
                    dot(F.col(vec_col), F.col("__qvec")),
                    F.col("__cn2"),
                    F.col("__qn2"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    if check_coverage:
        exact = exact.localCheckpoint(eager=True)
        n_cands, n_exact = cands.count(), exact.count()
        if n_exact < n_cands:
            raise ValueError(
                f"ivf_pq_refine_topk coverage shortfall: {n_cands} stage-1 "
                f"candidates but only {n_exact} found in the supplied "
                "corpus — the corpus has drifted from the index at "
                f"{path!r} (every indexed id must be present; see the "
                "docstring contract)"
            )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_neighbors)
        .select(
            query_id_col,
            id_col,
            "cosine",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def append_to_ivf_pq_index(
    batch: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    batch_id: int | None = None,
) -> dict[str, Any]:
    """Append a new vector batch into an existing IVF-PQ index
    WITHOUT retraining: encode with the PERSISTED codebooks, assign
    with the PERSISTED coarse centroids (both sidecar round trips are
    exact — the same float32→JSON→float32 losslessness the probe path
    relies on), co-locate per bucket and add the files to the matching
    ``centroid_id=`` partitions in one swap. Neither kmeans nor PQ
    training re-runs; the only data-proportional work is one
    batch-sized scan (encode+assign, counted by the write itself) and
    a batch-sized narrow shuffle — at 100 TB corpus / 1 GB batch that
    is the difference between an ingest tick and a full rebuild
    (measured in bench.py: append ≪ rebuild at sf0.1).

    Same staleness contract as :func:`append_to_ivf_index` — the
    sidecar accumulates drift, the summary flags
    ``retrain_recommended`` past :data:`RETRAIN_RATIO`, and
    :func:`compact_index` owns the small-file growth.

    Correctness contract (driver-oracled,
    emb_ivf_pq_index_append_topk): probing after build(base) +
    append(batch) is bit-identical to indexing base ∪ batch with
    centroids AND codebooks trained on base only.

    Same swap, replay ledger and exactly-once guarantee as
    :func:`append_to_ivf_index`.
    """
    from .pq import pq_encode

    spark = batch.sparkSession

    def encoded() -> DataFrame:
        cents = load_ivf_centroids(spark, path)
        books = load_pq_codebooks(spark, path)
        assigned = ivf_assign(batch, cents, vec_col=vec_col, id_col=id_col)
        return pq_encode(batch, books, vec_col=vec_col, id_col=id_col).join(
            assigned.select(id_col, "centroid_id"), id_col
        )

    return _append(spark, path, encoded, batch_id)


def compact_index(spark: SparkSession, path: str) -> dict[str, Any]:
    """Per-partition file compaction for an appended index: every
    append adds ≤1 file per touched ``centroid_id=`` bucket, so a long
    append stream accumulates small files — the normal small-file debt,
    owned by a compaction schedule independent of retraining. Rewrites
    the corpus bucket-co-located (one file per bucket) and replaces
    every live file with it in one ``compact.replace_files`` swap, the
    one the appends use; a crash is finished or undone by the next
    writer. The model sidecars and the staleness counters are untouched
    — compaction is layout-only, and the probe result is bit-identical
    before/after (test-pinned).

    The rewrite must hold the sidecar's ``total_records`` rows, or the
    swap is dropped before it commits. The report's ``recovered`` is
    that of ``compact.recover_and_list``.
    """
    with _open_for_write(spark, path) as (root, live, meta, recovered):
        manifest = compact.replace_files(
            spark,
            root,
            live,
            spark.read.parquet(root).repartition("centroid_id"),
            "compact",
            "retain",
            {**meta, "total_records": 0, "file_size_bytes": 0},
            partition_by="centroid_id",
            expect_rows=meta["total_records"],
        )
        files_after = len(manifest["staged"])
        return {
            "path": path,
            "n_rows": manifest["sidecar"]["total_records"],
            "files_before": len(live),
            "files_after": files_after,
            "compacted": files_after < len(live),
            "recovered": recovered,
        }
