"""Structured Streaming arrival harness: exactly-once extraction over a
landing directory, resumable via checkpoint."""

from __future__ import annotations

from amazon_textract_transformer_pipeline_spark.plans.partitioning import (
    spread_if_narrow,
)
from amazon_textract_transformer_pipeline_spark.sources import synthetic_pages_df
from amazon_textract_transformer_pipeline_spark.streaming.extract_stream import (
    read_pages_stream,
    start_extraction_stream,
)


def test_stream_extracts_and_resumes(spark, tmp_path):
    land = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # first arrival batch: 60 docs
    synthetic_pages_df(spark, 60, seed=5).write.mode("overwrite").parquet(land)
    q = start_extraction_stream(read_pages_stream(spark, land), out, ckpt)
    q.awaitTermination(120)
    got1 = spark.read.parquet(out)
    assert got1.count() == 60

    # second arrival: 30 more docs land (disjoint id range → distinct urls);
    # restart stream → only new files processed
    synthetic_pages_df(spark, 30, seed=5, start=1000).coalesce(2) \
        .write.mode("append").parquet(land)
    q2 = start_extraction_stream(read_pages_stream(spark, land), out, ckpt)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(out)
    assert got2.count() == 60 + 30
    # byte-identical invariant holds through the streaming path
    oracle = (
        synthetic_pages_df(spark, 60, seed=5).select("url", "text")
        .unionByName(synthetic_pages_df(spark, 30, seed=5, start=1000)
                     .select("url", "text"))
    )
    bad = got2.join(oracle, "url").filter("extracted_text <> text").count()
    assert bad == 0


def test_stream_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: simulate a crash between the sink write
    and the checkpoint commit by deleting the checkpoint and re-running the
    same arrival — the batch-id-partitioned overwrite sink must replace its
    own prior output, not append duplicates."""
    import shutil

    land = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    synthetic_pages_df(spark, 40, seed=7).write.mode("overwrite").parquet(land)
    q = start_extraction_stream(read_pages_stream(spark, land), out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 40

    # wipe the checkpoint → the stream replays batch 0 over the same files
    shutil.rmtree(ckpt)
    q2 = start_extraction_stream(read_pages_stream(spark, land), out, ckpt)
    q2.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 40, "replayed micro-batch appended duplicates"
    assert got.select("url").distinct().count() == 40


def test_spread_if_narrow_passes_streams_through(spark, tmp_path):
    """The helper is safe on every caller's streaming input: ``.rdd`` is
    illegal there, so a stream comes back unchanged."""
    land = str(tmp_path / "landing")
    synthetic_pages_df(spark, 4, seed=3, partitions=1).write.parquet(land)
    stream = read_pages_stream(spark, land)
    assert spread_if_narrow(stream, "url") is stream
