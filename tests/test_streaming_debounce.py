"""Previous-retained debounce (streaming/debounce_stream.py): the
sequential rule batch LAG can't express, run as a stateful stream and
as its applyInPandas batch twin — the two must agree exactly, and the
stream's state store must carry the last-kept timestamp across
micro-batches.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from shaha_spark.streaming import debounce_retained_batch, stream_debounce

GAP = 60_000_000  # 60 s

SCHEMA = "event_id long, user_id long, event_type string, ts_us long"


def _ref(rows, gap=GAP):
    """Driver-side reference: per key, sequential previous-retained."""
    by_key = {}
    for r in sorted(rows, key=lambda r: (r[3], r[0])):
        by_key.setdefault((r[1], r[2]), []).append(r)
    kept = set()
    for key, rs in by_key.items():
        last = None
        for r in rs:
            if last is None or r[3] - last >= gap:
                kept.add(r[0])
                last = r[3]
    return kept


def test_retained_differs_from_lag_debounce(spark):
    # burst a(0s) b(+40s) c(+80s): LAG keeps a,c; previous-retained
    # keeps only a — c is within 60s of... no: c - a = 80s >= 60 keeps c.
    # use a(0) b(40) c(80) d(110): retained keeps a, c; LAG keeps a, c
    # -> need b dropped then c measured vs a. a(0) b(40) c(70):
    # LAG: b dropped (40<60), c kept (c-b=30<60? no -> dropped). hmm.
    # Construct the true divergence: a(0) b(50) c(100).
    #   LAG: b dropped (50), c: c-b=50<60 -> dropped.   kept={a}
    #   retained: b dropped (50<60), c: c-a=100>=60 -> KEPT. kept={a,c}
    rows = [
        (1, 1, "e", 0),
        (2, 1, "e", 50_000_000),
        (3, 1, "e", 100_000_000),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    retained = {r.event_id for r in debounce_retained_batch(df, GAP).collect()}
    assert retained == {1, 3} == _ref(rows)

    from shaha_spark.operators.timeseries import debounce

    lag_kept = {
        r.event_id
        for r in debounce(
            df.withColumnRenamed("ts_us", "tus"), min_gap_us=GAP
        ).collect()
    }
    assert lag_kept == {1}  # the two semantics genuinely differ here


def test_batch_twin_matches_reference_on_fixture(spark, sf_dir):
    from shaha_spark.catalog._tables import _events

    ev = (
        _events(spark, sf_dir)
        .select("event_id", "user_id", "event_type", F.col("tus").alias("ts_us"))
        .limit(3000)
    )
    rows = [tuple(r) for r in ev.collect()]
    got = {r.event_id for r in debounce_retained_batch(ev, GAP).collect()}
    assert got == _ref(rows)


def test_stream_group_larger_than_arrow_batch(spark, tmp_path):
    """A group bigger than the Arrow batch size reaches the update
    function as MULTIPLE chunks; the kernel must concat before sorting
    or a per-chunk sort feeds events out of global time order and the
    stream silently diverges from the batch twin."""
    # 8 events, one key, written to the source file in REVERSE time
    # order so any per-chunk processing sees late events first
    rows = [
        {"event_id": i, "user_id": 1, "event_type": "e", "ts_us": i * 45_000_000}
        for i in range(8)
    ][::-1]
    src = tmp_path / "ev"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        stream = spark.readStream.schema(SCHEMA).json(str(src))
        out = stream_debounce(stream, GAP)
        collected: list = []
        q = (
            out.writeStream.foreachBatch(
                lambda df, _bid: collected.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # 45s gaps with a 60s rule: keep 0, drop 1 (45s), keep 2 (90s), ...
    # -> every even event_id survives, exactly the driver reference
    assert {r.event_id for r in collected} == {0, 2, 4, 6} == _ref(
        [(r["event_id"], r["user_id"], r["event_type"], r["ts_us"]) for r in rows]
    )


def test_stream_matches_batch_and_carries_state(spark, tmp_path):
    rows_b1 = [
        {"event_id": 1, "user_id": 1, "event_type": "e", "ts_us": 0},
        {"event_id": 2, "user_id": 1, "event_type": "e", "ts_us": 50_000_000},
        {"event_id": 3, "user_id": 2, "event_type": "e", "ts_us": 10},
    ]
    # arrives in a LATER micro-batch; within gap of event 1 (kept),
    # so only the state store can know to drop it
    rows_b2 = [
        {"event_id": 4, "user_id": 1, "event_type": "e", "ts_us": 59_000_000},
        {"event_id": 5, "user_id": 1, "event_type": "e", "ts_us": 200_000_000},
    ]
    src = tmp_path / "ev"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows_b1))

    stream = spark.readStream.schema(SCHEMA).json(str(src))
    out = stream_debounce(stream, GAP)
    ckpt = str(tmp_path / "ckpt")
    collected: list = []

    def drain():
        q = (
            out.writeStream.foreachBatch(
                lambda df, _bid: collected.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert {r.event_id for r in collected} == {1, 3}

    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows_b2))
    drain()
    kept_stream = {r.event_id for r in collected}
    assert kept_stream == {1, 3, 5}  # 4 dropped via carried state

    all_rows = [
        (r["event_id"], r["user_id"], r["event_type"], r["ts_us"])
        for r in rows_b1 + rows_b2
    ]
    batch = debounce_retained_batch(
        spark.createDataFrame(all_rows, SCHEMA), GAP
    )
    assert {r.event_id for r in batch.collect()} == kept_stream
