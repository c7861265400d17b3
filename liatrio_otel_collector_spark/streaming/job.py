"""Structured Streaming wrapper around the batch DAG (SURVEY §2.9).

The reference's runtime model is a ticker-driven scrape loop
(collection_interval, /root/reference/config/config.yaml:24-25) plus
webhook push receivers (trace_receiver.go:70-188) — both map to micro-batch
execution here:

- the source is a replayable stream (file stream over the sequences table;
  maxFilesPerTrigger is the collection-interval analog);
- each micro-batch is one call of the one batch writer
  (:func:`~liatrio_otel_collector_spark.plans.pipeline.write_batch`) on the
  flagship stage (``flagship_stage``): the SAME parse → enrich → route →
  aggregate DAG, staging, sink layout, lineage and ``_metrics`` row as
  batch mode (one code path, two execution modes);
- micro-batch K writes every sink to ``<sink>/batch_id=K/``, every lineage
  manifest to ``_lineage/<sink>/batch_id=K/`` and its ``_metrics`` row to
  ``_metrics/batch_id=K/``, each replacing what that batch wrote before
  (the bookkeeping always as parquet, written by the driver): the checkpoint
  directory makes the job resumable (a restart processes only unseen
  input), and a micro-batch replayed after a crash before its checkpoint
  commit replaces its output instead of appending duplicates.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..plans.pipeline import PipelineConfig, flagship_stage, write_batch

SEQ_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string, id bigint"


@dataclass
class StreamingConfig:
    input_dir: str
    output_dir: str
    checkpoint_dir: str
    max_files_per_trigger: int = 1
    pipeline: PipelineConfig = field(default_factory=PipelineConfig)


def start_query(
    writer: DataStreamWriter, checkpoint_dir: str, available_now: bool
) -> StreamingQuery:
    """Start ``writer`` checkpointed at ``checkpoint_dir`` (a restart resumes
    from it).  ``available_now=True`` drains everything currently in the
    source then stops — the deterministic test/bench mode.  ``False`` runs a
    continuous micro-batch trigger (the production mode).

    ``availableNow`` ends only when no operator asks for more batches: a
    stateful operator with a processing-time timeout, such as
    ``stateful.group_traces_stream``, keeps scheduling no-data micro-batches,
    so its query never stops by itself.  Start such a query with
    ``trigger(once=True)``, or stop it from the caller."""
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime="10 seconds").start()


def start_stream(spark: SparkSession, cfg: StreamingConfig, available_now: bool = True):
    """Start (or resume, if the checkpoint exists) the streaming pipeline;
    ``available_now`` picks the trigger as in :func:`start_query`.  Every
    micro-batch writes to ``cfg.output_dir``, so a ``cfg.pipeline`` naming
    another ``output_dir`` is refused with ``ValueError``."""
    if cfg.pipeline.output_dir not in (None, cfg.output_dir):
        raise ValueError(f"pipeline.output_dir must be unset or {cfg.output_dir!r}")
    raw = (
        spark.readStream.schema(SEQ_SCHEMA)
        .option("maxFilesPerTrigger", cfg.max_files_per_trigger)
        .parquet(cfg.input_dir)
    )
    return start_query(
        raw.writeStream.foreachBatch(
            lambda df, k: write_batch(
                spark, [flagship_stage(spark, df, cfg.pipeline, cfg.output_dir, k)], cfg.output_dir, k
            )
        ),
        cfg.checkpoint_dir,
        available_now,
    )
