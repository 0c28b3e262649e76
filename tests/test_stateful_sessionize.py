"""Custom stateful streaming sessionization (applyInPandasWithState)
must agree with the window-function batch twin on bounded input."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nursinghome_data_pipeline_spark.sources.tpch import load_tables
from nursinghome_data_pipeline_spark.streaming.ingest_stream import (
    run_stream_to_memory,
)
from nursinghome_data_pipeline_spark.streaming.sessionize import (
    sessionize_stream,
)


def batch_sessionize_twin(events: DataFrame, *, gap_minutes: int = 30) -> DataFrame:
    """Oracle: window-function sessionization (same output schema;
    session_start is the first event ts of each session)."""
    gap_us = gap_minutes * 60 * 1_000_000
    # NTZ-safe cast applied to the COLUMN (not just the gap expression)
    # so session_start comes back LTZ, matching the streaming output
    events = events.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = events.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > gap_us), 1).otherwise(0),
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = flagged.withColumn("session_id", F.sum("new_session").over(wsum))
    return numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
    )


def test_stateful_sessionize_matches_batch_twin(spark, sf_dir, tmp_path):
    events = load_tables(spark, sf_dir, ["events"])["events"].select("user_id", "ts")
    pq_dir = str(tmp_path / "events_sess")
    events.write.parquet(pq_dir)

    stream = sessionize_stream(
        spark.readStream.schema(
            spark.read.parquet(pq_dir).schema
        ).parquet(pq_dir),
        gap_minutes=30,
    )
    assert stream.isStreaming
    run_stream_to_memory(stream, "sessions_stateful", output_mode="update")

    got = {
        (r.user_id, r.session_id): (r.n_events, r.session_start)
        for r in spark.sql("SELECT * FROM sessions_stateful").collect()
    }
    exp = {
        (r.user_id, r.session_id): (r.n_events, r.session_start)
        for r in batch_sessionize_twin(
            spark.read.parquet(pq_dir), gap_minutes=30
        ).collect()
    }
    assert got == exp
    assert len(got) > 0


def test_sessionize_group_spanning_arrow_chunks(spark, tmp_path):
    """A group larger than the Arrow batch size arrives as multiple
    pandas chunks; the fold must sort the WHOLE group once — per-chunk
    sorting would fold later-chunk earlier-timestamp events out of
    order and invent extra sessions."""
    from datetime import datetime, timedelta

    # one user, 12 events over 2 true sessions, written DESCENDING so
    # chunk boundaries put later timestamps first
    base = datetime(2024, 1, 1)
    ts = [base + timedelta(minutes=m) for m in (0, 1, 2, 3, 4, 5)]
    ts += [base + timedelta(hours=5, minutes=m) for m in (0, 1, 2, 3, 4, 5)]
    rows = [(7, t) for t in reversed(ts)]
    pq_dir = str(tmp_path / "chunked_sess")
    spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(
        1
    ).write.parquet(pq_dir)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        stream = sessionize_stream(
            spark.readStream.schema(
                spark.read.parquet(pq_dir).schema
            ).parquet(pq_dir),
            gap_minutes=30,
        )
        run_stream_to_memory(stream, "sessions_chunked", output_mode="update")
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    got = {
        (r.user_id, r.session_id): r.n_events
        for r in spark.sql("SELECT * FROM sessions_chunked").collect()
    }
    assert got == {(7, 1): 6, (7, 2): 6}


def test_sessionize_state_is_measurably_evicted(spark, tmp_path):
    """The fold's state.remove() on timeout is the bounded-state
    guarantee at 100 TB — measure it from the state operator's own
    progress numbers rather than trusting the code path: with event
    time advancing far past watermark+gap each batch, end state must
    hold only the recent users, not every user ever seen."""
    import json
    import os

    src = tmp_path / "sess_src"
    src.mkdir()
    stream = spark.readStream.schema("user_id long, ts timestamp").json(str(src))
    sessions = sessionize_stream(stream, gap_minutes=1, watermark="10 seconds")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            sessions.writeStream.outputMode("update")
            .format("memory")
            .queryName("sess_state_probe")
            .start()
        )
        try:
            n_batches, users_per_batch = 6, 40
            for b in range(n_batches):
                # fresh users each batch; event time jumps 10 min per
                # batch — far past gap(1m)+watermark(10s), so every
                # prior batch's sessions time out and evict
                with open(os.path.join(str(src), f"b{b}.json"), "w") as f:
                    for u in range(users_per_batch):
                        f.write(
                            json.dumps(
                                {
                                    "user_id": b * users_per_batch + u,
                                    "ts": f"2024-01-01T{b:02d}:00:00",
                                }
                            )
                            + "\n"
                        )
                q.processAllAvailable()
            ops = q.lastProgress["stateOperators"]
            assert ops, "no state operator reported progress"
            total_users = n_batches * users_per_batch
            num_rows = ops[0]["numRowsTotal"]
            # recent frontier only: current batch (+ at most one more
            # awaiting its timer) — nowhere near all 240 users
            assert 0 < num_rows <= 2 * users_per_batch, ops
            assert spark.table("sess_state_probe").count() == total_users
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
