"""Streaming ingest into the persisted ANN indexes.

The batch append (operators/ann_index.append_to_ivf_index /
append_to_ivf_pq_index, r10) is the per-tick kernel; this module is
the continuous form: watch a landing directory for new embedding
parquet files and fold each micro-batch into the index with the FROZEN
sidecar artifacts — no retrain ever on the ingest path.

Delivery contract: foreachBatch is at-least-once, so the fold passes
the micro-batch's ``batch_id`` into the append, which records the last
committed id in the index's sidecar and skips any replayed batch at or
below it (``skipped=True`` in the summary). The append is EXACTLY-once:
it adds the batch's files in one ``compact.replace_files`` swap whose
manifest also carries that ledger entry, so the files and the entry
commit together. A crash before the manifest leaves the index as it
was and the replay appends once; a crash after it is rolled forward by
the next writer, and the replay is skipped (see append_to_ivf_index in
operators/ann_index.py; crash-injection tested for both index kinds).

foreachBatch is the right tool (same rationale as
streaming/build_stream.py): the append is an arbitrary batch
transformation against persisted state (assign/encode through sidecar
models + one swap of the batch's files and the sidecar), which
a plain streaming sink cannot express.

Retraining stays OUT of the stream by design: the per-batch summary's
``retrain_recommended`` flag (appended/trained ≥ RETRAIN_RATIO) is the
hand-off point — a scheduled offline job rebuilds the index from the
accumulated corpus and swaps paths, exactly like compaction. A stream
that retrains inline would re-shuffle the whole corpus mid-ingest.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

#: landing-file schema: the driver testdata embedding shape
DEFAULT_SCHEMA = "vec_id bigint, embedding array<float>"


def _stream_append(
    spark: SparkSession,
    landing_dir: str,
    index_path: str,
    append_fn: Callable[[DataFrame, str], dict],
    *,
    checkpoint_dir: str,
    schema: str = DEFAULT_SCHEMA,
    available_now: bool = False,
    on_batch: Callable[[dict], None] | None = None,
):
    batches = spark.readStream.schema(schema).parquet(landing_dir)

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return  # no rows: do not bump the staleness counter
        # batch_id rides into the append's replay ledger: a replayed
        # (already-committed) micro-batch is skipped, not re-appended
        summary = append_fn(batch, index_path, batch_id=batch_id)
        if on_batch is not None:
            on_batch({"batch_id": batch_id, **summary})

    writer = (
        batches.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_append_ivf_index(
    spark: SparkSession,
    landing_dir: str,
    index_path: str,
    *,
    checkpoint_dir: str,
    schema: str = DEFAULT_SCHEMA,
    available_now: bool = False,
    on_batch: Callable[[dict], None] | None = None,
):
    """Start (and return) the streaming query folding new embedding
    files into an existing IVF index (built by build_ivf_index).
    ``available_now=True`` drains the landing dir and stops — the
    batch-test trigger. ``on_batch`` receives each append summary
    (n_appended, staleness, retrain_recommended) — wire it to the
    rebuild scheduler."""
    from shaha_spark.operators.ann_index import append_to_ivf_index

    return _stream_append(
        spark,
        landing_dir,
        index_path,
        append_to_ivf_index,
        checkpoint_dir=checkpoint_dir,
        schema=schema,
        available_now=available_now,
        on_batch=on_batch,
    )


def stream_append_ivf_pq_index(
    spark: SparkSession,
    landing_dir: str,
    index_path: str,
    *,
    checkpoint_dir: str,
    schema: str = DEFAULT_SCHEMA,
    available_now: bool = False,
    on_batch: Callable[[dict], None] | None = None,
):
    """IVF-PQ variant of :func:`stream_append_ivf_index` — micro-
    batches are PQ-encoded with the frozen codebooks before landing in
    their coarse partitions (codes-only rows, the narrow scan shape
    the probe relies on)."""
    from shaha_spark.operators.ann_index import append_to_ivf_pq_index

    return _stream_append(
        spark,
        landing_dir,
        index_path,
        append_to_ivf_pq_index,
        checkpoint_dir=checkpoint_dir,
        schema=schema,
        available_now=available_now,
        on_batch=on_batch,
    )
