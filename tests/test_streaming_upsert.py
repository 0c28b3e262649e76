"""Exactly-once streaming MERGE sink: upsert semantics across
micro-batches plus idempotent batch re-delivery."""

from __future__ import annotations

import os

from nursinghome_data_pipeline_spark import fs


def _write_batch(spark, path: str, rows, batch_no: int) -> None:
    df = spark.createDataFrame(rows, "k int, v string, seq int")
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, f"b{batch_no}")
    )


def _read_target(spark, target: str) -> dict:
    return {
        r.k: r.v
        for r in spark.read.parquet(
            fs.active_data_root(os.path.join(target, "data"))
        ).collect()
    }


def test_streaming_upsert_merges_microbatches(spark, tmp_path):
    from nursinghome_data_pipeline_spark.streaming.ingest_stream import (
        streaming_upsert_sink,
    )

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "target")
    os.makedirs(landing)

    def open_stream():
        return (
            spark.readStream.schema("k int, v string, seq int")
            .option("recursiveFileLookup", True)
            .parquet(landing)
        )

    _write_batch(spark, landing, [(1, "a", 1), (2, "b", 1)], 0)
    q = streaming_upsert_sink(
        open_stream(),
        target,
        keys=["k"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        seq_col="seq",
    )
    try:
        q.processAllAvailable()
        assert _read_target(spark, target) == {1: "a", 2: "b"}

        # second micro-batch: update k=2, insert k=3 — AND an
        # intra-batch duplicate for k=3 where the higher seq must win
        # regardless of row/partition order (deterministic winner, not
        # dropDuplicates-arbitrary)
        _write_batch(
            spark,
            landing,
            [(2, "B", 2), (3, "stale", 2), (3, "c", 3), (4, "d", 2), (4, "D", 3)],
            1,
        )
        q.processAllAvailable()
        assert _read_target(spark, target) == {1: "a", 2: "B", 3: "c", 4: "D"}
    finally:
        q.stop()

    # the commit record names the last applied batch
    from nursinghome_data_pipeline_spark.streaming import commitlog

    assert commitlog.read_record(target)["batch_id"] >= 1

    # re-delivery: a FRESH checkpoint replays everything as batch 0,
    # which is already committed — the record's skip makes the merge
    # a no-op instead of clobbering the target with stale rows
    q2 = streaming_upsert_sink(
        open_stream(),
        target,
        keys=["k"],
        checkpoint_dir=str(tmp_path / "ckpt2"),
        seq_col="seq",
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert _read_target(spark, target) == {1: "a", 2: "B", 3: "c", 4: "D"}


def test_streaming_upsert_over_file_uri_target(spark, tmp_path):
    """r11: the sink's commit record + generation commit ride the fs
    layer, so a scheme-qualified target works — file:// exercises the
    Hadoop client path for the record, the generation pointer flips,
    and the per-batch merge."""
    from nursinghome_data_pipeline_spark.streaming.ingest_stream import (
        streaming_upsert_sink,
    )

    landing = str(tmp_path / "landing_uri")
    target = f"file://{tmp_path}/target_uri"
    os.makedirs(landing)

    def open_stream():
        return (
            spark.readStream.schema("k int, v string, seq int")
            .option("recursiveFileLookup", True)
            .parquet(landing)
        )

    _write_batch(spark, landing, [(1, "a", 1), (2, "b", 1)], 0)
    q = streaming_upsert_sink(
        open_stream(),
        target,
        keys=["k"],
        checkpoint_dir=str(tmp_path / "ckpt_uri"),
        seq_col="seq",
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, landing, [(2, "B", 2), (3, "c", 2)], 1)
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.k: r.v
        for r in spark.read.parquet(
            fs.active_data_root(fs.join(target, "data"))
        ).collect()
    }
    assert got == {1: "a", 2: "B", 3: "c"}
    # the exactly-once commit record lives at the URI
    from nursinghome_data_pipeline_spark.streaming import commitlog

    assert commitlog.read_record(target)["batch_id"] == 1
