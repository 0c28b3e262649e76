"""Structured Streaming ingest (SURVEY §2.8 extension, §7.1 step 9).

The reference's batch CSV ingest (``build.py:59-82``) is manually
triggered; its streaming twin is a file-source ``readStream`` over the
same landing directory — each new file becomes a micro-batch, with the
same conform/lineage treatment, plus watermarked tumbling-window DQ
aggregates over an event stream (late data handled by the watermark).

At scale: file-source streaming checkpoints file lists; the windowed
aggregate keeps state per (window, event_type) only — both bounded.

The exactly-once upsert sink (:func:`streaming_upsert_sink`) commits
each micro-batch with two ``fs.commit_generation`` flips in order: the
merged table as the next generation of ``target/data``, then the
batch id as the next generation of the commit record
``target/_commit`` (:mod:`.commitlog`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DatasetSpec
from ..sources.csv_source import _spark_type, cast_expr


def stream_csv_ingest(
    spark: SparkSession, spec: DatasetSpec, landing_dir: str
) -> DataFrame:
    """File-source streaming variant of the conform step (P1-P4).

    CSV streaming requires a declared schema — normalized names are the
    declared ones, so files must already use normalized headers (the
    batch path handles arbitrary headers; a landing-zone contract is
    the streaming trade-off).
    """
    schema = ", ".join(f"`{c.name}` STRING" for c in spec.columns)
    raw = (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("pathGlobFilter", spec.filename_pattern)
        .csv(landing_dir)
    )
    cols = [cast_expr(F.col(c.name), c.type).alias(c.name) for c in spec.columns]
    return raw.select(
        *cols,
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("source_file"),
        F.current_timestamp().alias("ingestion_ts"),
    )


def windowed_event_aggregates(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event_type.

    Works identically on a batch DataFrame (watermark is a no-op) and a
    stream — tests compare the streaming result against the batch twin.
    """
    # watermarks require TIMESTAMP (LTZ); parquet sources may surface
    # NTZ. Applied on both batch and stream paths so the twins agree.
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp_ltz"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    *,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "90 days",
) -> DataFrame:
    """Streaming exact dedup with bounded state
    (``dropDuplicatesWithinWatermark``).

    The training-pipeline ingest guard: drop re-delivered documents/
    events whose duplicate arrives within ``watermark`` of the
    original. State is evicted once the event-time watermark passes,
    so state size is bounded by the key arrival rate × delay — unlike
    plain ``dropDuplicates`` on a stream, whose state grows forever.

    A duplicate arriving LATER than the watermark delay re-emits (its
    state was evicted) — choose the delay ≥ the real re-delivery bound.
    """
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp_ltz"))
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def run_stream_to_memory(
    df: DataFrame,
    query_name: str,
    *,
    output_mode: str = "append",
    state_partitions: int | None = 8,
) -> None:
    """Drive a streaming DataFrame to completion synchronously into an
    in-memory table (local smoke-test harness).

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    duration of the run (restored after): a stateful stream's state-
    store partition count is frozen from that conf at first start, and
    inheriting a batch-oriented default (e.g. Spark's 200) gives 200
    state-store instances + 200 Python-worker tasks PER MICRO-BATCH
    for what is usually modest keyed state — the standard per-stream
    sizing knob (each stateful query should size its own state layout,
    independent of the session's batch shuffle width). Results are
    partition-count independent (folds are per-key); pass ``None`` to
    inherit the session conf unchanged.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def streaming_upsert_sink(
    stream: DataFrame,
    target_dir: str,
    *,
    keys: list[str],
    checkpoint_dir: str,
    seq_col: str | None = None,
) -> "object":
    """Exactly-once streaming MERGE into a parquet target via
    ``foreachBatch``.

    Each micro-batch is (1) reduced to its latest row per key (the
    batch may itself re-deliver), then (2) merged into the target with
    the same full-outer/COALESCE plan as the batch MERGE
    (registry.merge_upsert_customers), written copy-on-write.

    Intra-batch winner selection is DETERMINISTIC: ``row_number`` over
    ``Window.partitionBy(keys).orderBy(desc(seq_col))`` — never
    ``dropDuplicates``, which keeps a partition-order-dependent row, so
    a micro-batch carrying two updates to one key could let the stale
    value win nondeterministically. Pass ``seq_col`` (an event sequence
    / timestamp column); without one, ALL non-key columns sort
    descending — arbitrary but reproducible. Ties on ``seq_col`` break
    on the remaining columns, again for reproducibility.

    The merged target is committed as the next generation of
    ``target_dir/data`` (``fs.commit_generation`` — one atomic pointer
    creation, crash-safe on every store); read it through
    ``fs.active_data_root(target_dir + "/data")``.

    Exactly-once: Spark's foreachBatch gives at-least-once delivery
    with a stable ``batch_id`` — after the data flip the sink commits
    the batch id as the next generation of the target's commit record
    (:mod:`.commitlog`, ``target_dir/_commit``) and skips re-delivered
    ids, making the merge idempotent. Replacing parquet+record with
    Delta/Iceberg gives the same semantics transactionally; the
    control flow here is identical, which is the point of the design.

    At scale: per batch, one shuffle of the (small) micro-batch plus a
    key-range-pruned rewrite of affected target files — copy-on-write
    merge cost is proportional to touched data, not target size, when
    the target is partitioned by key range (operators/skew.py
    write_time_partitioned is the layout tool).
    """
    from pyspark.sql import SparkSession

    from .. import fs
    from . import commitlog

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        spark = SparkSession.getActiveSession()
        if batch_id <= commitlog.read_record(target_dir)["batch_id"]:
            return  # re-delivered batch: idempotent skip
        from pyspark.sql.window import Window

        non_keys = [c for c in batch.columns if c not in keys]
        order = [F.desc(seq_col)] if seq_col else []
        order += [F.desc(c) for c in non_keys if c != seq_col]
        # keys-only schema: every row per key is identical — any order
        order = order or [F.col(keys[0])]
        w = Window.partitionBy(*keys).orderBy(*order)
        latest = (
            batch.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        data_dir = fs.join(target_dir, "data")
        cur = fs.active_generation(data_dir)
        if cur is not None:
            tgt = spark.read.parquet(cur)
            src = latest.select(
                *[F.col(k).alias(f"__u_{k}") for k in keys],
                *[
                    F.col(c).alias(f"__u_{c}")
                    for c in latest.columns
                    if c not in keys
                ],
            )
            cond = [F.col(k) == F.col(f"__u_{k}") for k in keys]
            merged = tgt.join(src, on=cond[0] if len(cond) == 1 else cond, how="full_outer").select(
                *[
                    F.coalesce(F.col(f"__u_{c}"), F.col(c)).alias(c)
                    for c in tgt.columns
                ]
            )
        else:
            merged = latest
        # the merged table is the next generation of data/ (fs's
        # generation protocol): until the pointer flip the pre-merge
        # generation stays fully active, after it the post-merge one —
        # and a crash between the data flip and the record flip
        # replays the batch, whose re-merge is idempotent
        fs.commit_generation(
            data_dir, lambda d: merged.write.mode("overwrite").parquet(d)
        )
        commitlog.commit_record(target_dir, batch_id)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
