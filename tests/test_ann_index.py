"""Persistent IVF index (operators/ann_index.py): the write-time
bucketed layout must (a) return bit-identical results to the in-plan
ivf_topk under the same parameters, and (b) actually PRUNE — the
probed read's plan carries a PartitionFilters predicate on
centroid_id and unprobed bucket directories contribute no files.
Appends and compaction change the files through the hash database's
swap (compact.replace_files): a crash before or after its commit is
replayed exactly once, and its leftovers are invisible to probes.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from shaha_spark.operators.ann_index import (
    build_ivf_index,
    ivf_index_topk,
    load_ivf_centroids,
)
from shaha_spark.operators.kmeans import kmeans_fit
from shaha_spark.operators.similarity import ivf_topk


import pytest

# slow tier (pytest.ini): index build/append/compact lifecycle builds real indexes repeatedly (~4.5 min); run via `make test-slow` (VERDICT r12 #2)
pytestmark = pytest.mark.slow


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _queries(emb):
    return emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_index_roundtrip_matches_inplan_ivf(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivf")
    summary = build_ivf_index(emb, path, k=4, iters=2)
    assert summary["k"] == 4 and summary["n_vectors"] == emb.count()

    got = {
        (r.query_id, r.vec_id): (r.approx_cosine, r.rank)
        for r in ivf_index_topk(
            spark, path, _queries(emb), nprobe=2, k_neighbors=5
        ).collect()
    }
    cents = kmeans_fit(emb, k=4, iters=2)
    expect = {
        (r.query_id, r.vec_id): (r.cosine, r.rank)
        for r in ivf_topk(emb, _queries(emb), cents, k=5, nprobe=2).collect()
    }
    assert got == expect  # bit-identical to the in-plan operator


def test_probed_read_prunes_partitions(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, k=4, iters=2)
    # all 4 bucket dirs exist on disk
    dirs = {d for d in os.listdir(path) if d.startswith("centroid_id=")}
    assert len(dirs) >= 2

    probed = spark.read.parquet(path).filter(F.col("centroid_id").isin([1]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan, plan
    # the pruned scan opens files only under the probed directory
    files = probed.select(F.input_file_name().alias("f")).distinct().collect()
    assert files
    assert all("centroid_id=1" in r.f for r in files)


def test_centroid_sidecar_roundtrip_exact(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, k=4, iters=2)
    fit = {r.centroid_id: list(r.centroid)
           for r in kmeans_fit(emb, k=4, iters=2).collect()}
    loaded = {r.centroid_id: list(r.centroid)
              for r in load_ivf_centroids(spark, path).collect()}
    assert loaded == fit  # JSON float round trip is exact for float32


# ---------------------------------------------------- IVF-PQ index (r9)

def test_pq_index_roundtrip_matches_inplan_ivf_pq(spark, sf_dir, tmp_path):
    from shaha_spark.operators.ann_index import (
        build_ivf_pq_index,
        ivf_pq_index_topk,
        load_pq_codebooks,
    )
    from shaha_spark.operators.pq import ivf_pq_topk, pq_train

    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivfpq")
    summary = build_ivf_pq_index(emb, path, k_coarse=4, m=4, k_sub=4, iters=2)
    assert summary["k_coarse"] == 4 and summary["n_vectors"] == emb.count()

    got = {
        (r.query_id, r.vec_id): (r.approx_cosine, r.rank)
        for r in ivf_pq_index_topk(
            spark, path, _queries(emb), nprobe=2, k_neighbors=5
        ).collect()
    }
    cents = kmeans_fit(emb, k=4, iters=2)
    books = pq_train(emb, m=4, k=4, iters=2)
    expect = {
        (r.query_id, r.vec_id): (r.approx_cosine, r.rank)
        for r in ivf_pq_topk(
            emb, _queries(emb), cents, books, k=5, nprobe=2
        ).collect()
    }
    assert got == expect  # disk round trip changes scan shape, not values

    # codebook sidecar round trip is exact (float32 -> JSON -> float32)
    fit = {(r.sub_id, r.centroid_id): list(r.centroid) for r in books.collect()}
    loaded = {
        (r.sub_id, r.centroid_id): list(r.centroid)
        for r in load_pq_codebooks(spark, path).collect()
    }
    assert loaded == fit


def test_pq_index_scan_reads_codes_not_vectors(spark, sf_dir, tmp_path):
    """The PQ payoff made visible: the probed scan's ReadSchema carries
    the m-int codes + norm, never the full embedding column (which is
    not even on disk), and partition pruning holds."""
    from shaha_spark.operators.ann_index import build_ivf_pq_index

    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(emb, path, k_coarse=4, m=4, k_sub=4, iters=2)

    probed = spark.read.parquet(path).filter(F.col("centroid_id").isin([1]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan, plan
    assert "codes" in plan and "vnorm" in plan
    assert "embedding" not in plan
    files = probed.select(F.input_file_name().alias("f")).distinct().collect()
    assert files and all("centroid_id=1" in r.f for r in files)


# ---- incremental append (round 10, r9 VERDICT #1) -------------------


def _split(emb):
    base = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    return base, batch


def test_ivf_append_matches_full_rebuild_with_base_artifacts(
    spark, sf_dir, tmp_path
):
    """build(base) + append(batch) probes bit-identical to writing
    base ∪ batch in one shot under the SAME base-trained centroids —
    append changes where rows land, never a value."""
    from shaha_spark.operators.ann_index import append_to_ivf_index
    from shaha_spark.operators.similarity import ivf_assign

    emb = _emb(spark, sf_dir)
    base, batch = _split(emb)
    inc = str(tmp_path / "inc")
    build_ivf_index(base, inc, k=4, iters=2)
    summary = append_to_ivf_index(batch, inc)
    assert summary["n_appended"] == batch.count()

    # from-scratch rebuild with the same (base-trained) centroids
    full = str(tmp_path / "full")
    cents = kmeans_fit(base, k=4, iters=2)
    (
        ivf_assign(emb, cents)
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(full)
    )
    import json as _json

    from shaha_spark import io_util
    from shaha_spark.operators.ann_index import CENTROID_SIDECAR

    io_util.write_text(
        spark,
        full + "/" + CENTROID_SIDECAR,
        _json.dumps(
            [
                {
                    "centroid_id": int(r.centroid_id),
                    "centroid": [float(x) for x in r.centroid],
                }
                for r in cents.collect()
            ],
            sort_keys=True,
        ),
    )
    q = _queries(emb)
    got = {
        (r.query_id, r.vec_id): (r.approx_cosine, r.rank)
        for r in ivf_index_topk(spark, inc, q, nprobe=2, k_neighbors=5).collect()
    }
    expect = {
        (r.query_id, r.vec_id): (r.approx_cosine, r.rank)
        for r in ivf_index_topk(spark, full, q, nprobe=2, k_neighbors=5).collect()
    }
    assert got == expect


def test_ivf_pq_append_matches_full_rebuild_with_base_artifacts(
    spark, sf_dir, tmp_path
):
    from shaha_spark.operators.ann_index import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        ivf_pq_index_topk,
        load_append_state,
    )

    import shutil

    from shaha_spark.operators.ann_index import (
        CENTROID_SIDECAR,
        PQ_CODEBOOK_SIDECAR,
        load_ivf_centroids,
        load_pq_codebooks,
    )
    from shaha_spark.operators.pq import pq_encode
    from shaha_spark.operators.similarity import ivf_assign

    emb = _emb(spark, sf_dir)
    base, batch = _split(emb)
    inc = str(tmp_path / "inc")
    build_ivf_pq_index(base, inc, k_coarse=4, m=4, k_sub=4, iters=2)
    append_to_ivf_pq_index(batch, inc)

    # independent one-shot rebuild: encode+assign the WHOLE corpus in
    # one write using the sidecar artifacts the incremental path froze
    full = str(tmp_path / "full")
    cents = load_ivf_centroids(spark, inc)
    books = load_pq_codebooks(spark, inc)
    coded = pq_encode(emb, books).join(
        ivf_assign(emb, cents).select("vec_id", "centroid_id"), "vec_id"
    )
    (
        coded.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(full)
    )
    shutil.copy(os.path.join(inc, CENTROID_SIDECAR),
                os.path.join(full, CENTROID_SIDECAR))
    shutil.copy(os.path.join(inc, PQ_CODEBOOK_SIDECAR),
                os.path.join(full, PQ_CODEBOOK_SIDECAR))
    q = _queries(emb)
    got = sorted(
        map(
            tuple,
            ivf_pq_index_topk(spark, inc, q, nprobe=2, k_neighbors=5).collect(),
        )
    )
    again = sorted(
        map(
            tuple,
            ivf_pq_index_topk(spark, full, q, nprobe=2, k_neighbors=5).collect(),
        )
    )
    assert got == again
    st = load_append_state(spark, inc)
    assert st["appends"] == 1 and st["appended_rows"] == batch.count()
    assert st["trained_rows"] == base.count()


def test_append_updates_staleness_and_recommends_retrain(
    spark, sf_dir, tmp_path
):
    from shaha_spark.operators.ann_index import (
        RETRAIN_RATIO,
        append_to_ivf_index,
        load_append_state,
    )

    emb = _emb(spark, sf_dir)
    base, batch = _split(emb)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, k=4, iters=2)
    assert load_append_state(spark, path) == {
        "trained_rows": base.count(),
        "appended_rows": 0,
        "appends": 0,
    }
    s1 = append_to_ivf_index(batch, path)
    assert s1["appends"] == 1 and not s1["retrain_recommended"]
    # keep appending the same batch until drift crosses the threshold
    s = s1
    for _ in range(20):
        if s["retrain_recommended"]:
            break
        s = append_to_ivf_index(batch, path)
    assert s["retrain_recommended"]
    assert s["staleness"] >= RETRAIN_RATIO
    assert load_append_state(spark, path)["appends"] == s["appends"]


def test_append_bounds_file_growth_per_bucket(spark, sf_dir, tmp_path):
    """repartition(centroid_id) before the partitioned append: each
    append adds at most ONE file per bucket directory, not tasks × k."""
    from shaha_spark.operators.ann_index import append_to_ivf_index

    emb = _emb(spark, sf_dir)
    base, batch = _split(emb)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, k=4, iters=2)

    def files_per_bucket():
        out = {}
        for d in os.listdir(path):
            if d.startswith("centroid_id="):
                out[d] = len(
                    [f for f in os.listdir(os.path.join(path, d))
                     if f.endswith(".parquet")]
                )
        return out

    before = files_per_bucket()
    append_to_ivf_index(batch.repartition(16), path)
    after = files_per_bucket()
    for d, n in after.items():
        assert n <= before.get(d, 0) + 1, (d, before, after)


def test_stream_append_matches_batch_append(spark, sf_dir, tmp_path):
    """Streaming ingest twin (streaming/ann_ingest.py): draining two
    landing files through foreachBatch produces the SAME probed top-k
    as batch-appending the same rows, the staleness counter counts
    every ingested row, and a re-run against the same checkpoint
    re-ingests nothing (exactly-once per file)."""
    from shaha_spark.operators.ann_index import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        ivf_pq_index_topk,
        load_append_state,
    )
    from shaha_spark.streaming.ann_ingest import stream_append_ivf_pq_index

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base, batch = _split(emb)
    b1 = batch.filter(F.col("vec_id") % 20 == 7)
    b2 = batch.filter(F.col("vec_id") % 20 == 17)

    streamed = str(tmp_path / "streamed")
    batched = str(tmp_path / "batched")
    for p in (streamed, batched):
        build_ivf_pq_index(base, p, k_coarse=4, m=4, k_sub=4, iters=2)

    landing = str(tmp_path / "landing")
    b1.coalesce(1).write.mode("append").parquet(landing)
    b2.coalesce(1).write.mode("append").parquet(landing)
    summaries = []
    q = stream_append_ivf_pq_index(
        spark,
        landing,
        streamed,
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
        on_batch=summaries.append,
    )
    q.awaitTermination(120)

    append_to_ivf_pq_index(b1, batched)
    append_to_ivf_pq_index(b2, batched)

    st = load_append_state(spark, streamed)
    assert st["appended_rows"] == batch.count()
    assert sum(s["n_appended"] for s in summaries) == batch.count()

    qs = _queries(emb)
    got = sorted(map(tuple, ivf_pq_index_topk(
        spark, streamed, qs, nprobe=2, k_neighbors=5).collect()))
    want = sorted(map(tuple, ivf_pq_index_topk(
        spark, batched, qs, nprobe=2, k_neighbors=5).collect()))
    assert got == want

    # exactly-once: draining the same checkpoint again ingests nothing
    q2 = stream_append_ivf_pq_index(
        spark,
        landing,
        streamed,
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q2.awaitTermination(120)
    assert load_append_state(spark, streamed)["appended_rows"] == batch.count()


def test_append_ledger_skips_replayed_batch(spark, sf_dir, tmp_path):
    """The replay ledger (r10 ADVICE): re-invoking the append — the
    streaming fold body — with an already-committed batch_id is a
    no-op: nothing lands in the index, the staleness counters do not
    move, and the summary says so (skipped=True)."""
    from shaha_spark.operators.ann_index import (
        append_to_ivf_index,
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        load_append_state,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base, batch = _split(emb)
    for build_fn, append_fn, name in (
        (lambda df, p: build_ivf_index(df, p, k=4, iters=2),
         append_to_ivf_index, "ivf"),
        (lambda df, p: build_ivf_pq_index(df, p, k_coarse=4, m=4, k_sub=4,
                                          iters=2),
         append_to_ivf_pq_index, "ivfpq"),
    ):
        path = str(tmp_path / name)
        build_fn(base, path)
        s1 = append_fn(batch, path, batch_id=0)
        assert not s1["skipped"] and s1["n_appended"] == batch.count()
        n_rows = spark.read.parquet(path).count()
        st1 = load_append_state(spark, path)

        # the crash-replay: same batch, same batch_id
        s2 = append_fn(batch, path, batch_id=0)
        assert s2["skipped"] and s2["n_appended"] == 0
        assert spark.read.parquet(path).count() == n_rows  # no double-append
        assert load_append_state(spark, path) == st1  # counters unchanged
        assert s2["staleness"] == s1["staleness"]

        # the next batch in sequence still lands
        s3 = append_fn(batch, path, batch_id=1)
        assert not s3["skipped"]
        assert load_append_state(spark, path)["last_batch_id"] == 1

        # ad-hoc batch appends (no ledger) never skip
        s4 = append_fn(batch, path)
        assert not s4["skipped"]
        assert load_append_state(spark, path)["last_batch_id"] == 1


def test_append_state_rides_the_sidecar_and_reads_legacy_files(
    spark, sf_dir, tmp_path
):
    """The staleness counters and the replay ledger live in the index's
    sidecar, which the append's swap commits with the batch's files;
    ``appended_rows`` is derived from its totals. An index written
    before the sidecar carried them reads through its older versioned
    (highest version wins) or unversioned state file, and its first
    append writes the sidecar."""
    import json as _json

    from shaha_spark.operators.ann_index import (
        APPEND_STATE_SIDECAR,
        append_to_ivf_index,
        load_append_state,
    )
    from shaha_spark.pipeline.build import read_sidecar

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base, batch = _split(emb)
    n_base, n_batch = base.count(), batch.count()
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, k=4, iters=2)
    append_to_ivf_index(batch, path, batch_id=0)

    meta = read_sidecar(spark, path)
    assert meta["total_records"] == n_base + n_batch
    assert meta["trained_rows"] == n_base
    assert (meta["appends"], meta["last_batch_id"]) == (1, 0)
    assert meta["file_size_bytes"] == sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    assert load_append_state(spark, path) == {
        "trained_rows": n_base,
        "appended_rows": n_batch,
        "appends": 1,
        "last_batch_id": 0,
    }
    assert not [f for f in os.listdir(path) if f.startswith(APPEND_STATE_SIDECAR)]

    # the same index as an older release left it: no sidecar, a stale
    # and a current versioned state file
    os.remove(os.path.join(path, "_shaha_meta.json"))
    old = {"trained_rows": n_base, "appended_rows": n_batch, "appends": 1,
           "last_batch_id": 0}
    for v, state in ((0, {**old, "appended_rows": 0, "appends": 0}), (1, old)):
        with open(os.path.join(path, f"{APPEND_STATE_SIDECAR}.v{v}"), "w") as f:
            f.write(_json.dumps(state))
    assert load_append_state(spark, path) == old
    assert append_to_ivf_index(batch, path, batch_id=0)["skipped"]
    s = append_to_ivf_index(batch, path, batch_id=1)
    assert not s["skipped"] and s["n_appended"] == n_batch
    assert load_append_state(spark, path) == {
        "trained_rows": n_base,
        "appended_rows": 2 * n_batch,
        "appends": 2,
        "last_batch_id": 1,
    }
    assert read_sidecar(spark, path)["total_records"] == n_base + 2 * n_batch

    # the unversioned file of the oldest indexes still reads
    legacy = str(tmp_path / "legacy")
    os.makedirs(legacy)
    with open(os.path.join(legacy, APPEND_STATE_SIDECAR), "w") as f:
        f.write(_json.dumps({"trained_rows": 7, "appended_rows": 3,
                             "appends": 2}))
    assert load_append_state(spark, legacy)["trained_rows"] == 7


def test_build_emits_quantization_distortion_signal(spark, sf_dir, tmp_path):
    """Write-time quality signal (VERDICT r10 #6): the IVF-PQ build
    summary + quality sidecar must flag unclusterable corpora at
    ingest. The near-uniform sf embeddings are PQ's worst case (their
    r9/r10 bench recall@5 was 0.23) — high relative distortion; the
    product-structured clustered fixture is PQ's home turf — low."""
    import json as _json
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from make_clustered_emb import make_clustered_emb

    from shaha_spark.operators.ann_index import (
        PQ_QUALITY_SIDECAR,
        build_ivf_pq_index,
    )

    rnd = _emb(spark, sf_dir).select("vec_id", "embedding")
    p_rnd = str(tmp_path / "rnd")
    s_rnd = build_ivf_pq_index(rnd, p_rnd, k_coarse=4, m=4, k_sub=4, iters=2)
    q_rnd = s_rnd["quantization"]
    assert q_rnd["n_sampled"] > 0

    clus = spark.read.parquet(
        make_clustered_emb(str(tmp_path / "clus.parquet"), n=400)
    ).select("vec_id", "embedding")
    p_clus = str(tmp_path / "clus_idx")
    s_clus = build_ivf_pq_index(
        clus, p_clus, k_coarse=16, m=4, k_sub=16, iters=2
    )
    q_clus = s_clus["quantization"]

    # the signal separates the two regimes, and the flag fires only on
    # the unsuitable corpus
    assert q_rnd["mean_rel_sq_err"] > q_clus["mean_rel_sq_err"]
    assert q_rnd["high_distortion"] and not q_clus["high_distortion"]

    # sidecar round trip: what the summary said is what readers see
    with open(os.path.join(p_rnd, PQ_QUALITY_SIDECAR)) as f:
        assert _json.load(f) == q_rnd


def test_compact_appended_index_roundtrip(spark, sf_dir, tmp_path):
    """Compaction over an appended index (VERDICT r10 #7): fewer
    files, identical probe results, sidecars and append-state
    untouched."""
    from shaha_spark.operators.ann_index import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        compact_index,
        ivf_pq_index_topk,
        load_append_state,
        load_ivf_centroids,
        load_pq_codebooks,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base, batch = _split(emb)
    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(base, path, k_coarse=4, m=4, k_sub=4, iters=2)
    for i, mod in enumerate((3, 5, 7)):
        append_to_ivf_pq_index(
            batch.filter(F.col("vec_id") % 11 == mod), path, batch_id=i
        )
    qs = _queries(emb)
    before = sorted(map(tuple, ivf_pq_index_topk(
        spark, path, qs, nprobe=2, k_neighbors=5).collect()))
    cents_before = sorted(map(tuple, load_ivf_centroids(spark, path).collect()))
    state_before = load_append_state(spark, path)

    summary = compact_index(spark, path)
    assert summary["compacted"]
    assert summary["files_after"] < summary["files_before"]

    after = sorted(map(tuple, ivf_pq_index_topk(
        spark, path, qs, nprobe=2, k_neighbors=5).collect()))
    assert after == before  # probe hash-identity
    assert sorted(
        map(tuple, load_ivf_centroids(spark, path).collect())
    ) == cents_before
    assert load_pq_codebooks(spark, path).count() > 0
    assert load_append_state(spark, path) == state_before


def test_refine_recovers_recall_over_adc(spark, sf_dir, tmp_path):
    """ADC-then-refine (r11): on the near-uniform sf embeddings —
    PQ's worst case, recall@5 ≈ 0.2 from codes alone — re-scoring the
    4×k ADC candidates with exact vectors must strictly improve
    recall vs the pure ADC probe, and every refined hit must carry
    the EXACT brute-force cosine (refine changes scores from
    approximate to exact, never invents candidates)."""
    from shaha_spark.operators.ann_index import (
        build_ivf_pq_index,
        ivf_pq_index_topk,
        ivf_pq_refine_topk,
    )
    from shaha_spark.operators.similarity import (
        brute_force_topk,
        topk_recall,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(emb, path, k_coarse=4, m=4, k_sub=4, iters=2)
    qs = _queries(emb)

    exact = brute_force_topk(emb, qs, k=5).localCheckpoint(eager=True)
    adc = ivf_pq_index_topk(spark, path, qs, nprobe=2, k_neighbors=5)
    ref = ivf_pq_refine_topk(
        spark, path, emb, qs, nprobe=2, k_neighbors=5, refine_factor=4
    ).localCheckpoint(eager=True)

    r_adc = topk_recall(exact, adc, k=5).agg(F.avg("recall")).first()[0]
    r_ref = topk_recall(exact, ref, k=5).agg(F.avg("recall")).first()[0]
    assert r_ref > r_adc, (r_ref, r_adc)

    # refined scores are the exact cosines: every (query, vec) pair
    # present in BOTH refine and brute force agrees bit-for-bit
    ex = {(r.query_id, r.vec_id): r.cosine for r in exact.collect()}
    for r in ref.collect():
        if (r.query_id, r.vec_id) in ex:
            assert r.cosine == ex[(r.query_id, r.vec_id)]


def test_refine_reads_candidates_not_corpus(spark, sf_dir, tmp_path):
    """The refine fetch joins the corpus against a BROADCAST candidate
    list — the executed plan must carry a broadcast hash join, not a
    shuffle of the corpus side."""
    from shaha_spark.operators.ann_index import (
        build_ivf_pq_index,
        ivf_pq_refine_topk,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(emb, path, k_coarse=4, m=4, k_sub=4, iters=2)
    plan = ivf_pq_refine_topk(
        spark, path, emb, _queries(emb), nprobe=2, k_neighbors=5
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ---- the swap: crash recovery of append and compaction --------------


def _fail_renames(monkeypatch, fails):
    """Make ``io_util.rename`` report failure (return False, as
    FileSystem.rename does) whenever ``fails(src, dst)`` says so."""
    from shaha_spark import io_util

    real = io_util.rename

    def rename(spark_, src, dst):
        return False if fails(src, dst) else real(spark_, src, dst)

    monkeypatch.setattr(io_util, "rename", rename)
    return lambda: monkeypatch.setattr(io_util, "rename", real)


def _second_stage_of(verb):
    """Matches the second rename of a written file to its ``_incoming-``
    name: a crash before the manifest commits, one file already staged."""
    seen = []

    def fails(src, dst):
        if os.path.basename(dst).startswith(f"_incoming-{verb}-"):
            seen.append(dst)
            return len(seen) == 2
        return False

    return fails


def _publish_of(verb):
    """Matches the rename that publishes a staged file: a crash after
    the manifest committed."""
    def fails(src, dst):
        return os.path.basename(src).startswith(f"_incoming-{verb}-")

    return fails


def _probe(spark, path, qs, pq):
    from shaha_spark.operators.ann_index import ivf_pq_index_topk

    fn = ivf_pq_index_topk if pq else ivf_index_topk
    return sorted(map(tuple, fn(spark, path, qs, nprobe=2, k_neighbors=5).collect()))


def _leftovers(path):
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.startswith("_incoming-") or "/.__" in d
    ]


@pytest.mark.parametrize("pq", [False, True], ids=["ivf", "ivfpq"])
def test_append_crash_replay_exactly_once(spark, sf_dir, tmp_path, monkeypatch, pq):
    """A ledgered append killed before its swap commits (a stage rename
    fails) or after (a publish rename fails), then replayed with the
    same batch_id: the rows land exactly once, the probe equals a
    never-crashed twin's, and a further replay is skipped. Before the
    replay, the crashed append's staged files are invisible to probes."""
    from shaha_spark.operators import ann_index as ai

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = emb.filter(~(F.col("vec_id") % 10).isin(3, 7))
    batches = [emb.filter(F.col("vec_id") % 10 == m) for m in (7, 3)]
    build = ai.build_ivf_pq_index if pq else ai.build_ivf_index
    append = ai.append_to_ivf_pq_index if pq else ai.append_to_ivf_index
    kw = dict(k_coarse=4, m=4, k_sub=4, iters=2) if pq else dict(k=4, iters=2)
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    for p in (crashed, clean):
        build(base, p, **kw)
    for i, b in enumerate(batches):
        append(b, clean, batch_id=i)
    qs = _queries(emb)
    n = base.count()

    for i, (b, fails) in enumerate(
        zip(batches, (_second_stage_of("append"), _publish_of("append")))
    ):
        before = _probe(spark, crashed, qs, pq)
        restore = _fail_renames(monkeypatch, fails)
        with pytest.raises(IOError):
            append(b, crashed, batch_id=i)
        restore()
        if i == 0:  # not committed: the index is as it was
            assert _leftovers(crashed)
            assert _probe(spark, crashed, qs, pq) == before
            assert ai.load_append_state(spark, crashed).get("last_batch_id", -1) == -1
        replay = append(b, crashed, batch_id=i)
        # committed: the replay's recovery publishes the batch, the
        # ledger then skips it
        assert replay["skipped"] == (i == 1)
        n += b.count()
        assert spark.read.parquet(crashed).count() == n
        assert spark.read.parquet(crashed).select("vec_id").distinct().count() == n
        assert append(b, crashed, batch_id=i)["skipped"]
        assert not _leftovers(crashed)

    assert _probe(spark, crashed, qs, pq) == _probe(spark, clean, qs, pq)
    assert ai.load_append_state(spark, crashed) == ai.load_append_state(spark, clean)


def test_compaction_crash_at_publish_rolls_forward(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A compaction whose publish rename fails has committed its swap:
    the next compaction finishes it first, and the rows, the probe and
    the staleness counters are those before the crash."""
    from shaha_spark.operators.ann_index import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        compact_index,
        load_append_state,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base, batch = _split(emb)
    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(base, path, k_coarse=4, m=4, k_sub=4, iters=2)
    for i, mod in enumerate((3, 5)):
        append_to_ivf_pq_index(batch.filter(F.col("vec_id") % 11 == mod), path, batch_id=i)
    qs = _queries(emb)
    before = _probe(spark, path, qs, True)
    rows = spark.read.parquet(path).count()
    state = load_append_state(spark, path)

    restore = _fail_renames(monkeypatch, _publish_of("compact"))
    with pytest.raises(IOError, match="rolls the swap forward"):
        compact_index(spark, path)
    restore()

    summary = compact_index(spark, path)
    assert summary["recovered"] == {"rolled_forward": 1, "dropped_stages": 0}
    assert summary["n_rows"] == rows
    assert spark.read.parquet(path).count() == rows
    assert _probe(spark, path, qs, True) == before
    assert load_append_state(spark, path) == state
    assert not _leftovers(path)


def test_swap_leftovers_are_probe_invisible(spark, sf_dir, tmp_path):
    """What a crashed swap leaves inside the index root — a temp dir
    ``.__compact_<id>__`` holding bucket directories, an ``_incoming-``
    file staged in a bucket — joins neither partition discovery nor a
    probe; the next writer drops both."""
    import shutil

    from shaha_spark.operators.ann_index import (
        build_ivf_pq_index,
        compact_index,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(emb, path, k_coarse=4, m=4, k_sub=4, iters=2)
    qs = _queries(emb)
    before = _probe(spark, path, qs, True)
    rows = spark.read.parquet(path).count()

    bucket = next(d for d in os.listdir(path) if d.startswith("centroid_id="))
    part = next(
        f for f in os.listdir(os.path.join(path, bucket)) if f.endswith(".parquet")
    )
    temp = os.path.join(path, ".__compact_0123456789ab__")
    shutil.copytree(os.path.join(path, bucket), os.path.join(temp, bucket))
    shutil.copy(
        os.path.join(path, bucket, part),
        os.path.join(path, bucket, "_incoming-compact-0123456789ab-00000.zstd.parquet"),
    )
    assert _probe(spark, path, qs, True) == before
    assert spark.read.parquet(path).count() == rows

    summary = compact_index(spark, path)
    assert summary["recovered"] == {"rolled_forward": 0, "dropped_stages": 1}
    assert summary["n_rows"] == rows
    assert not _leftovers(path)
    assert _probe(spark, path, qs, True) == before


@pytest.mark.parametrize(
    "leftover", ["_ingest_batch_3.manifest.json", ".__compact_bak__", ".__compact_old__"]
)
def test_an_older_release_crash_state_is_refused(spark, sf_dir, tmp_path, leftover):
    """The crash states only older releases' write protocols left (an
    ingest manifest in the root, a compaction backup beside it) are not
    healed: append and compaction raise, naming the README's manual
    recovery, and change nothing."""
    from shaha_spark.operators.ann_index import append_to_ivf_index, compact_index

    path = str(tmp_path / "ivf")
    os.makedirs(path)
    if leftover.startswith("_"):
        marker = os.path.join(path, leftover)
        with open(marker, "w") as f:
            f.write('{"batch_id": 3, "stage": "", "files": []}')
    else:
        marker = path + leftover
        os.makedirs(marker)
    batch = _emb(spark, sf_dir).select("vec_id", "embedding")
    with pytest.raises(RuntimeError, match="README"):
        append_to_ivf_index(batch, path, batch_id=4)
    with pytest.raises(RuntimeError, match="README"):
        compact_index(spark, path)
    assert os.path.exists(marker)
    assert sorted(os.listdir(path)) == ([leftover] if leftover.startswith("_") else [])
