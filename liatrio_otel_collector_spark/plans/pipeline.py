"""The flagship DAG: parse → enrich → route → aggregate, multi-sink fan-out.

Re-expresses the reference's pipeline topology
(/root/reference/config/config.yaml:117-136):

    logs:    receiver → [transform/body, filter, transform, gitlab-enrich] → sink
    traces:  receiver → [] → sink
    metrics: receivers (fan-in) → [] → sinks (fan-out)

as one Spark batch DAG over the tokenized-sequence table:

    sequences ──parse(pandas UDF)──► parsed ──broadcast enrich──► enriched
        enriched ──filter severity≥warn────────────► logs    (rows, tokens intact)
        enriched ──filter completed-scope + ids────► traces  (rows, tokens dropped)
        enriched ──groupBy rollups─────────────────► metrics, logs_agg, traces_agg

:func:`build_pipeline` assembles the five sinks; the config processors and
driver queries call its rules, :func:`route_predicates`, :func:`enrich_stage`
and :func:`metrics_rollup`, too.

Scale notes (the part that matters at 10^12 rows):
- the input is **salt-repartitioned at the source** on (source, salt) — the
  `source` column is deliberately skewed ~50% to one value; salting spreads a
  hot key over SALT_BUCKETS reducers (BASELINE-mandated explicit skew
  handling; AQE skew-join is also on as the runtime backstop).
- the enrich dim is tiny (20 rows) ⇒ explicit broadcast() hint: no shuffle
  on the fact side for the join.
- the fan-out stages the enriched frame once and feeds every sink from the
  read-back (the reference's multi-exporter fan-out K3, config.yaml:124).
  One writer, :func:`write_batch`, runs every batch: the flagship's
  (:func:`flagship_stage`) and the config topology's
  (``confmap.config_stages``), in batch mode and in every streaming
  micro-batch.  It stages each frame once, runs :func:`fan_out` on it and
  writes the batch's one ``_metrics`` row (:func:`write_metrics`).  Sinks
  take ``PipelineConfig.sink_format`` (:data:`SINK_FORMAT`, parquet, unless
  set, as the Iceberg fan-out does); the staging tables live under
  :func:`scratch_dir`.
- aggregates are plain groupBy — Spark's partial (map-side) aggregation is
  the analog of the reference's mutex-merged per-goroutine maps
  (github_scraper.go:105-155) and makes the skewed count safe; the salted
  repartition above already bounds per-task input.
"""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass
from typing import Callable, ContextManager, Iterable, Iterator
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.tokens import parse_tokens_expr, parse_tokens_udf
from ..functions.ids import span_id, trace_id
from ..sources.sequences import enrich_dim, sequences
from .lineage import arrow_table, manifest_aggs, manifests, observed_manifest

SALT_BUCKETS = 16

# Parquet settings for the EPHEMERAL staging table only (r6, guide §6): the
# stage lives on fast node-local scratch and is read back exactly once, so
# encode CPU is on the critical path while its byte savings buy little —
# measured at 10M rows: zstd stage write 3.3 s vs snappy 2.3 s (317 MB vs
# 827 MB), and dictionary encoding off 6.4 s → 5.9 s (the token arrays draw
# from a 50k-value space; 871 MB → 1.6 GB).  Durable sinks keep the
# session-wide zstd default and parquet defaults.
STAGE_COMPRESSION = "snappy"
STAGE_DICTIONARY = "false"


def resolve_salt_buckets(spark: "SparkSession") -> int:
    """Bucket count for the skew salt: 16x the cluster's slots (floor
    SALT_BUCKETS).  A fixed count under-spreads once one key dominates —
    with B=16 a 90%-hot source occupies at most 16 of 32 slots (measured
    2.07x e2e slowdown at 10M rows).  The multiple matters twice:
    a 90%-hot key lands on at most B partitions, so B must exceed the slot
    count — AND bucket->partition placement is a hash, so per-partition load
    is ~Poisson(B/slots); B = 16x slots keeps that quantization under ~25%
    while staying tiny relative to data (buckets are a shuffle KEY, not
    state).  Scales with the cluster instead of freezing at a local[32]-era
    constant."""
    return max(SALT_BUCKETS, 16 * spark.sparkContext.defaultParallelism)


# the sink format of a flagship batch and of a config exporter that sets no
# ``format:``
SINK_FORMAT = "parquet"


def scratch_dir() -> str | None:
    """Where the ephemeral staging tables and the output of a batch run
    without an output dir go.  Order matters (VERDICT r2 item: an inherited
    disk TMPDIR silently displacing tmpfs caused the r1 bench gap):
    SPARK_GRAFT_SCRATCH > tmpfs when present > TMPDIR > system tmp."""
    return os.environ.get("SPARK_GRAFT_SCRATCH") or (
        "/dev/shm" if os.path.isdir("/dev/shm") else os.environ.get("TMPDIR")
    )


@dataclass
class PipelineConfig:
    """How the flagship DAG parses and where it writes.  It gates no sink:
    every batch builds and writes all five, ``logs``, ``traces``,
    ``metrics``, ``logs_agg`` and ``traces_agg``, in ``sink_format``
    (:data:`SINK_FORMAT` unless set, e.g. ``"iceberg"``)."""

    use_udf_parse: bool = True
    output_dir: str | None = None
    sink_format: str = SINK_FORMAT


def parse_stage(df: DataFrame, use_udf: bool = True) -> DataFrame:
    """Extract severity/resource/scope attributes from the token stream.

    The Python parse kernel sees only the 3-token marker prefix, not the
    whole array (guide §4.1 "pass only the columns the function needs"):
    the sequence table's token layout (sources/sequences.py) places the
    severity/resource/scope markers at positions 0/1/2 by construction, and
    every later token is opaque payload, so the kernel's first-marker scan
    over the head slice returns exactly what the full-stream scan returns
    for every row this table can contain — while the JVM→Python Arrow
    boundary carries 3 ints per row instead of ~36 (measured at 10M rows:
    parse-over-generation +2.2 s → +1.2 s).  The Catalyst expr twin keeps
    the full-array filter: its HOFs are JVM-side where the slice copy costs
    more than it saves (measured 4.1 s → 6.6 s sliced).  The untouched
    `tokens` column still flows to the sinks for the token-equality
    invariant."""
    head = F.slice("tokens", 1, 3)
    parsed = parse_tokens_udf(head) if use_udf else parse_tokens_expr("tokens")
    return df.withColumn("_p", parsed).select(
        "*", F.col("_p.severity").alias("severity"),
        F.col("_p.resource").alias("resource"),
        F.col("_p.scope").alias("scope"),
    ).drop("_p")


def enrich_stage(df: DataFrame, dim: DataFrame) -> DataFrame:
    """Broadcast-hash enrich (J1: the gitlabprocessor lookup,
    processor/gitlabprocessor/processor.go:32-69) + constant resource
    stamping (J6: github_scraper.go:256-262)."""
    return df.join(F.broadcast(dim), "resource", "left").withColumn(
        "collector_name", F.lit("liatrio-otel-spark")
    )


def route_predicates() -> "dict[str, Column]":
    """The row-sink membership predicates: :func:`build_pipeline` routes by
    them, and ONE manifest pass (:func:`fan_out`) computes every row sink's
    lineage from them instead of one re-scan per sink."""
    return {
        # F8 analog: the OTTL filter keeps only event-bearing records
        "logs": F.col("severity").isin("warn", "error", "fatal"),
        # F4 analog: completed-only gate; webhook source has no trace context
        "traces": F.col("scope").isin("scope-0", "scope-1", "scope-2")
        & (F.col("source") != "webhook"),
    }


def metrics_rollup(df: DataFrame, *keys: str) -> DataFrame:
    """The ``metrics`` rollup: sequences and tokens per ``keys`` (the
    flagship's (source, severity), the config ``rollup`` processor, ``pl1``)."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("seq_count"), F.sum("n_tok").alias("tok_count")
    )


def build_enriched(
    spark: SparkSession,
    n_rows: int,
    cfg: PipelineConfig | None = None,
    source_df: DataFrame | None = None,
) -> DataFrame:
    """The shared upstream: salted repartition → parse → broadcast enrich.
    ``n_rows`` sizes the generated source and is unused with ``source_df``."""
    cfg = cfg or PipelineConfig()
    if source_df is None:
        source_df = sequences(spark, n_rows)
    # explicit salted repartition on the skewed source key
    salted = source_df.repartition(
        F.col("source"),
        F.pmod(F.xxhash64("doc_id"), F.lit(resolve_salt_buckets(spark))),
    )
    parsed = parse_stage(salted, use_udf=cfg.use_udf_parse)
    return enrich_stage(parsed, enrich_dim(spark))


def build_pipeline(
    spark: SparkSession,
    n_rows: int,
    cfg: PipelineConfig | None = None,
    enriched: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The full lazy DAG over ``enriched`` (:func:`build_enriched` when not
    given) as {sink_name: DataFrame}.  ``logs`` and ``traces`` are the rows
    :func:`route_predicates` routes.  Tokens pass through UNTOUCHED on logs
    (the per-row token-array-equality invariant lives there); traces gets
    the X4 ids and NOT the token payload (r6, guide §2.3/§6: a span is ids +
    routing attributes, and the token array was ~90% of its write bytes while
    nothing read it there).  ``metrics``, ``logs_agg`` and ``traces_agg`` are
    the groupBy rollups (SURVEY §2.4): map-side partial → shuffle → final."""
    cfg = cfg or PipelineConfig()
    if enriched is None:
        enriched = build_enriched(spark, n_rows, cfg)
    preds = route_predicates()
    logs = enriched.filter(preds["logs"])
    traces = (
        enriched.filter(preds["traces"])
        .withColumn("trace_id", trace_id("doc_id", "source"))
        .withColumn("span_id", span_id("doc_id", "scope"))
        .drop("tokens")
    )
    return {
        "logs": logs,
        "traces": traces,
        "metrics": metrics_rollup(enriched, "source", "severity"),
        "logs_agg": logs.groupBy("team", "severity").agg(F.count(F.lit(1)).alias("log_count")),
        "traces_agg": traces.groupBy("scope", "tier").agg(F.count(F.lit(1)).alias("span_count")),
    }


def batch_dir(root: str, name: str, batch_id: int) -> str:
    """``<root>/<name>/batch_id=K``: each batch lands in its own hive subdir.
    Readers see batch_id as a partition column (pruned per-batch access), no
    constant column is serialized into every row, a per-batch read-back
    touches ONE batch's files instead of O(batches), and writing it with mode
    "overwrite" makes a replayed batch replace its output."""
    return os.path.join(root, name, f"batch_id={batch_id}")


@contextmanager
def scratch(prefix: str) -> Iterator[str]:
    """A new directory under :func:`scratch_dir`, removed on exit."""
    path = tempfile.mkdtemp(prefix=prefix, dir=scratch_dir())
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def output_dir_or_scratch(output_dir: str | None) -> ContextManager[str]:
    """``output_dir``, or without one a :func:`scratch` directory."""
    return nullcontext(output_dir) if output_dir else scratch("liatrio_sinks_")


@contextmanager
def job_label(spark: SparkSession, batch_id: int, what: str) -> Iterator[None]:
    """Describe the Spark jobs the calling thread runs inside the block, and
    the AQE stage jobs of its writes, as ``write_batch batch K: <what>``."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"write_batch batch {batch_id}: {what}")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", previous)


@contextmanager
def staged(
    spark: SparkSession, df: DataFrame, batch_id: int, stage: int
) -> Iterator[tuple[DataFrame, int]]:
    """Write ``df`` ONCE to a parquet staging table in a :func:`scratch`
    directory and yield its read-back and the row count that write
    observed.  Every consumer of the read-back scans columnar files instead
    of recomputing ``df``.  The read-back takes ``df``'s schema, so it runs
    no schema-inference job."""
    seen = Observation()
    with scratch(f"liatrio_stage_b{batch_id}_") as stage_dir:
        with job_label(spark, batch_id, f"stage/{stage}"):
            df.observe(seen, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").option(
                "compression", STAGE_COMPRESSION
            ).option("parquet.enable.dictionary", STAGE_DICTIONARY).parquet(stage_dir)
        yield spark.read.schema(df.schema).parquet(stage_dir), seen.get["rows"]


def write_batch_table(table: pa.Table, root: str, name: str, batch_id: int) -> None:
    """Write one batch's bookkeeping table (a manifest or the ``_metrics``
    row) from the driver as one parquet file in ``<root>/<name>/batch_id=K/``
    (``root``: a path or an Arrow filesystem URI), replacing what the
    directory held.  The file is renamed into place from a hidden name,
    which Spark and a ``*.parquet`` glob skip, so no reader sees it partial."""
    fs, base = pafs.FileSystem.from_uri(root if urlparse(root).scheme else os.path.abspath(root))
    path = batch_dir(base, name, batch_id)
    fs.delete_dir_contents(path, missing_dir_ok=True)
    fs.create_dir(path)
    pq.write_table(table, f"{path}/.part-00000.tmp", filesystem=fs)
    fs.move(f"{path}/.part-00000.tmp", f"{path}/part-00000.parquet")


@dataclass(frozen=True)
class Sink:
    """``df`` written to every ``(dir, format)`` of ``dests``.  A ROW sink
    sets ``member``, its membership predicate over the staged frame, and
    gets its manifest from one pass over that frame.  A DERIVED sink (no
    ``member``, e.g. a rollup) has exactly one destination and is written
    there as one partition, and its manifest comes from values that write
    observes: re-deriving it from the staged frame would redo the work, and
    reading the written files back would cost jobs for a few rows."""

    df: DataFrame
    dests: tuple[tuple[str, str], ...] = ()
    member: Column | None = None


def fan_out(
    spark: SparkSession, df: DataFrame, sinks: dict[str, Sink], output_dir: str, batch_id: int
) -> dict[str, int]:
    """The fan-out body (the multi-exporter fan-out K3) of :func:`write_batch`
    over one staged frame ``df``: writes every sink to its destinations and its
    manifest, as parquet, to ``<output_dir>/_lineage/<sink>/batch_id=K/``,
    all replacing what the batch wrote before, so a replayed batch replaces
    its output.  Returns row counts per sink.

    Destination writes run CONCURRENTLY, one driver thread each, so Spark
    interleaves their jobs instead of paying each job's scheduling latency
    in turn.  The calling thread runs the row sinks' one manifest pass
    (:func:`~.lineage.manifests`), collects it as Arrow and writes each
    sink's slice, summing its row count.  A derived sink's write observes
    :func:`~.lineage.manifest_aggs`, and the driver writes its manifest row
    from those values (:func:`~.lineage.observed_manifest`): no read-back,
    no Spark job."""
    rows = {n: s.member for n, s in sinks.items() if s.member is not None}
    writes = [(n, s.df, d) for n, s in sinks.items() if n in rows for d in s.dests]
    derived = {n: s for n, s in sinks.items() if n not in rows}
    lineage = os.path.join(output_dir, "_lineage")

    def write(what: str, out: DataFrame, dest: tuple[str, str]) -> None:
        with job_label(spark, batch_id, what):
            out.write.mode("overwrite").format(dest[1]).save(dest[0])

    def derive(name: str, sink: Sink) -> int:
        (dest,), seen = sink.dests, Observation()
        write(f"rollup/{name}", sink.df.coalesce(1).observe(seen, *manifest_aggs(sink.df)), dest)
        values = seen.get
        write_batch_table(observed_manifest(sink.df, values, name), lineage, name, batch_id)
        return values["row_count"]

    with ThreadPoolExecutor(max_workers=max(1, len(writes) + len(derived))) as pool:
        write_futs = [pool.submit(write, f"sink/{n}", out, d) for n, out, d in writes]
        derived_futs = {n: pool.submit(derive, n, s) for n, s in derived.items()}
        with job_label(spark, batch_id, "lineage/" + ",".join(rows)):
            table = manifests(df, rows, batch_id).drop("batch_id").toArrow()
        counts = {}
        for name in rows:
            manifest = table.filter(pc.field("sink") == name)
            write_batch_table(manifest, lineage, name, batch_id)
            counts[name] = sum(manifest["row_count"].to_pylist())
        for f in write_futs:
            f.result()
        return counts | {n: f.result() for n, f in derived_futs.items()}


def write_metrics(
    output_dir: str, batch_id: int, input_rows: int, sink_rows: dict[str, int], process_sec: float
) -> None:
    """Write one batch's self-observability row (the obsreport analog K4) to
    ``_metrics/batch_id=K/`` from values the batch already has."""
    row = (input_rows, sorted(sink_rows.items()), process_sec, input_rows / process_sec,
           datetime.datetime.now(datetime.timezone.utc))
    schema = ("input_rows long, sink_rows map<string,bigint>, process_sec double, "
              "rows_per_sec double, processed_at timestamp")
    write_batch_table(arrow_table([row], schema), output_dir, "_metrics", batch_id)


Stage = tuple[DataFrame, Callable[[DataFrame], dict[str, Sink]]]


def write_batch(
    spark: SparkSession, stages: Iterable[Stage], output_dir: str, batch_id: int,
    timings: dict[str, float] | None = None,
) -> dict[str, int]:
    """The one batch writer, for the flagship (:func:`flagship_stage`) and
    the config topology (``confmap.config_stages``), batch mode and every
    streaming micro-batch.  A stage is a frame and a function from its
    staged read-back to its sinks.  Each frame is staged once
    (:func:`staged`), and one :func:`fan_out` of the read-back writes the
    stage's sinks and manifests; stages run one after another, in order.
    Then one ``_metrics`` row (:func:`write_metrics`).  Sinks keep their own
    formats; the driver writes the bookkeeping (manifests, ``_metrics``) as
    parquet from values Spark computed.  Each Spark job is described
    ``write_batch batch K: <layer>/<sink>`` (:func:`job_label`), layers
    ``stage``, ``sink``, ``rollup`` and ``lineage``.  Returns row counts
    per sink.  ``timings``, when given, gets ``parse_enrich_stage_write_sec``
    (staging) and ``route_aggregate_sinks_sec`` (fan-outs and ``_metrics``).

    Staging beats .persist() for wide token rows (measured 3x at 10M rows:
    the in-memory cache build is GC-bound and anti-scales with cores, while
    the staged write is pure columnar IO), gives every sink predicate
    pushdown + column pruning on the staged scan, and its memory does not
    grow with the batch size."""
    t0, stage_sec, rows, counts = time.time(), 0.0, 0, {}
    for i, (frame, sinks_of) in enumerate(stages):
        t = time.time()
        with staged(spark, frame, batch_id, i) as (read_back, n):
            stage_sec += time.time() - t
            rows += n
            counts |= fan_out(spark, read_back, sinks_of(read_back), output_dir, batch_id)
    write_metrics(output_dir, batch_id, rows, counts, time.time() - t0)
    if timings is not None:
        timings["parse_enrich_stage_write_sec"] = round(stage_sec, 3)
        timings["route_aggregate_sinks_sec"] = round(time.time() - t0 - stage_sec, 3)
    return counts


def flagship_stage(
    spark: SparkSession, source_df: DataFrame, cfg: PipelineConfig, output_dir: str, batch_id: int
) -> Stage:
    """The flagship topology as one :func:`write_batch` stage: the enriched
    frame (:func:`build_enriched`) and, over its read-back, the ``_input``
    manifest (every staged row, no destination) and :func:`build_pipeline`'s
    five sinks, each written to ``<output_dir>/<sink>/batch_id=K/`` in
    ``cfg.sink_format``: ``logs`` and ``traces`` as row sinks with their
    :func:`route_predicates` member, the three rollups as derived sinks."""

    def sinks(enriched: DataFrame) -> dict[str, Sink]:
        preds = route_predicates()
        return {"_input": Sink(enriched, member=F.lit(True))} | {
            n: Sink(df, ((batch_dir(output_dir, n, batch_id), cfg.sink_format),), preds.get(n))
            for n, df in build_pipeline(spark, 0, cfg, enriched=enriched).items()
        }

    return build_enriched(spark, 0, cfg, source_df), sinks


def run_pipeline(
    spark: SparkSession,
    n_rows: int,
    cfg: PipelineConfig | None = None,
    batch_id: int = 0,
    source_df: DataFrame | None = None,
    timings: dict[str, float] | None = None,
) -> dict[str, int]:
    """Batch mode: one :func:`write_batch` of the flagship stage over
    ``source_df`` (or ``n_rows`` generated sequences) into
    ``cfg.output_dir``, or into a scratch directory that is removed
    afterwards.  Returns row counts per sink, ``_input`` left out."""
    cfg = cfg or PipelineConfig()
    if source_df is None:
        source_df = sequences(spark, n_rows)
    with output_dir_or_scratch(cfg.output_dir) as out:
        counts = write_batch(
            spark, [flagship_stage(spark, source_df, cfg, out, batch_id)], out, batch_id, timings
        )
    del counts["_input"]
    return counts
