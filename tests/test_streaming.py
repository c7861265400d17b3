"""Streaming semantics: checkpointed resume (only unseen input processed on
restart), per-batch lineage + self-metrics, routed counts match batch mode."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from liatrio_otel_collector_spark.sources.sequences import sequences
from liatrio_otel_collector_spark.streaming import StreamingConfig, start_stream


def _write_chunk(spark, input_dir: str, lo: int, hi: int, name: str) -> None:
    df = sequences(spark, hi).filter(F.col("id") >= lo)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(input_dir, name))


def _seq_files(spark, input_dir):
    # file-stream source reads a flat dir of parquet part-dirs; re-point via glob
    return input_dir + "/*"


def test_stream_resume_from_checkpoint(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)

    # chunk 1: rows [0, 2000)
    sequences(spark, 2000).coalesce(1).write.mode("append").parquet(input_dir)

    cfg = StreamingConfig(input_dir=input_dir, output_dir=out, checkpoint_dir=ckpt)
    q = start_stream(spark, cfg, available_now=True)
    assert q.awaitTermination(300)

    logs1 = spark.read.parquet(os.path.join(out, "logs"))
    n_logs_1 = logs1.count()
    assert n_logs_1 == sum(1 for i in range(2000) if i % 5 in (2, 3, 4))
    metrics1 = spark.read.parquet(os.path.join(out, "_metrics"))
    assert metrics1.agg(F.sum("input_rows")).collect()[0][0] == 2000

    # chunk 2: rows [2000, 4000) arrive while the job is down
    sequences(spark, 4000).filter(F.col("id") >= 2000).coalesce(1).write.mode("append").parquet(
        input_dir
    )

    # restart from the same checkpoint: only the new file is processed
    q2 = start_stream(spark, cfg, available_now=True)
    assert q2.awaitTermination(300)

    metrics2 = spark.read.parquet(os.path.join(out, "_metrics"))
    total_input = metrics2.agg(F.sum("input_rows")).collect()[0][0]
    assert total_input == 4000, "restart must process ONLY unseen input (no reprocessing)"

    logs2 = spark.read.parquet(os.path.join(out, "logs"))
    assert logs2.count() == sum(1 for i in range(4000) if i % 5 in (2, 3, 4))
    # no duplicate doc_ids across the restart
    assert logs2.select("doc_id").distinct().count() == logs2.count()

    # batch ids strictly advance across the restart
    bids = sorted(r["batch_id"] for r in metrics2.select("batch_id").collect())
    assert len(bids) == len(set(bids))

    # lineage manifests cover every routed row
    lineage = spark.read.parquet(os.path.join(out, "_lineage", "logs"))
    assert lineage.agg(F.sum("row_count")).collect()[0][0] == logs2.count()


def test_stream_matches_batch_semantics(spark, tmp_path):
    from liatrio_otel_collector_spark.plans.pipeline import build_pipeline

    input_dir = str(tmp_path / "in2")
    out = str(tmp_path / "out2")
    os.makedirs(input_dir)
    sequences(spark, 3000).coalesce(2).write.mode("append").parquet(input_dir)

    cfg = StreamingConfig(
        input_dir=input_dir,
        output_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        max_files_per_trigger=10,
    )
    q = start_stream(spark, cfg, available_now=True)
    assert q.awaitTermination(300)

    stream_metrics = (
        spark.read.parquet(os.path.join(out, "metrics"))
        .groupBy("source", "severity")
        .agg(F.sum("seq_count").alias("seq_count"), F.sum("tok_count").alias("tok_count"))
    )
    batch_metrics = build_pipeline(spark, 3000)["metrics"]
    a = sorted(map(tuple, stream_metrics.collect()))
    b = sorted(map(tuple, batch_metrics.collect()))
    assert a == b


def test_replayed_batch_replaces_its_output(spark, tmp_path):
    """A micro-batch replayed after a crash before its checkpoint commit runs
    the per-batch body again with the same batch_id into the same output
    dir: it must replace that batch's sinks, lineage and _metrics row, not
    duplicate them."""
    from liatrio_otel_collector_spark.plans.pipeline import (
        PipelineConfig,
        flagship_stage,
        write_batch,
    )

    out, cfg = str(tmp_path / "out"), PipelineConfig()
    batch = sequences(spark, 1000)
    for _ in range(2):
        write_batch(spark, [flagship_stage(spark, batch, cfg, out, 3)], out, 3)

    for sink in ("logs", "traces", "metrics", "logs_agg", "traces_agg"):
        assert [d for d in os.listdir(os.path.join(out, sink)) if d.startswith("batch_id=")] == [
            "batch_id=3"
        ]
    logs = spark.read.parquet(os.path.join(out, "logs"))
    assert logs.count() == sum(1 for i in range(1000) if i % 5 in (2, 3, 4))
    lineage = spark.read.parquet(os.path.join(out, "_lineage", "_input"))
    assert lineage.agg(F.sum("row_count")).collect()[0][0] == 1000
    metrics = spark.read.parquet(os.path.join(out, "_metrics"))
    assert [(r["batch_id"], r["input_rows"]) for r in metrics.collect()] == [(3, 1000)]


def test_stream_refuses_another_pipeline_output_dir(spark, tmp_path):
    """Every micro-batch writes to the stream's ``output_dir``, so a pipeline
    config naming another one is refused, not silently ignored; naming the
    same dir in both (as scripts/run_pipeline_job.py does) still runs."""
    from liatrio_otel_collector_spark.plans.pipeline import PipelineConfig

    input_dir, out = str(tmp_path / "in"), str(tmp_path / "out")
    sequences(spark, 200).coalesce(1).write.parquet(input_dir)

    def cfg(pipeline_out):
        return StreamingConfig(
            input_dir=input_dir, output_dir=out, checkpoint_dir=str(tmp_path / "ckpt"),
            pipeline=PipelineConfig(output_dir=pipeline_out),
        )

    with pytest.raises(ValueError, match="output_dir"):
        start_stream(spark, cfg(str(tmp_path / "elsewhere")))
    assert not os.path.exists(out) and not os.path.exists(tmp_path / "elsewhere")

    q = start_stream(spark, cfg(out), available_now=True)
    assert q.awaitTermination(300)
    metrics = spark.read.parquet(os.path.join(out, "_metrics"))
    assert metrics.agg(F.sum("input_rows")).collect()[0][0] == 200
