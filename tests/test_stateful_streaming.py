"""Stateful streaming twins (streaming/stateful.py): the groupbytrace
processor's cross-batch GroupState with its wait_duration flush, and the
interval processor's last value per watermarked window.

These are the §2.9 semantics a batch DAG can't express — per-key GroupState
surviving micro-batches, and engine-managed window state aging."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F


def _write_batch(spark, path, rows, schema, name):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, name)
    )
    time.sleep(1.1)  # distinct mtimes => deterministic file order per trigger


# ---------------------------------------------------------------------------
# Streaming groupbytrace (manifest.yaml groupbytraceprocessor): buffer until
# complete across batches; wait_duration flush for abandoned traces.
# ---------------------------------------------------------------------------

SPAN_SCHEMA = "trace_id string, span_id string, status_code int, n_expected long"


def _run_trace_stream(spark, indir, outdir, ckpt, wait_ms):
    from liatrio_otel_collector_spark.streaming.stateful import group_traces_stream

    stream = (
        spark.readStream.schema(SPAN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir + "/*")
    )
    q = (
        group_traces_stream(stream, wait_duration_ms=wait_ms)
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        # not availableNow: the processing-time timeout keeps that trigger
        # scheduling no-data micro-batches, so the query never ends; a
        # once trigger runs one micro-batch over every new file and stops
        .trigger(once=True)
        .start()
    )
    assert q.awaitTermination(120)


def test_group_traces_stream_cross_batch_completion(spark, tmp_path):
    """Traces complete across micro-batches AND across a restart (GroupState
    survives the checkpoint); incomplete traces stay buffered.  wait_duration
    is 600 s so the give-up path cannot interfere."""
    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(indir)
    # run 1: trace A 2/3 spans (one error), trace B complete 2/2, trace C 1/5
    _write_batch(
        spark,
        indir,
        [
            ("A", "a1", 1, 3), ("A", "a2", 2, 3),
            ("B", "b1", 1, 2), ("B", "b2", 1, 2),
            ("C", "c1", 1, 5),
        ],
        SPAN_SCHEMA,
        "b0",
    )
    _run_trace_stream(spark, indir, outdir, ckpt, wait_ms=600_000)
    out = {r["trace_id"]: r for r in spark.read.parquet(outdir).collect()}
    assert out["B"]["complete"] == 1 and out["B"]["span_count"] == 2
    assert "A" not in out and "C" not in out

    # restart: the new batch completes A with state carried over; C still open
    _write_batch(
        spark, indir, [("A", "a3", 1, 3), ("D", "d1", 1, 1)], SPAN_SCHEMA, "b1"
    )
    _run_trace_stream(spark, indir, outdir, ckpt, wait_ms=600_000)
    out = {r["trace_id"]: r for r in spark.read.parquet(outdir).collect()}
    assert out["A"]["complete"] == 1 and out["A"]["span_count"] == 3
    assert out["A"]["error_span_count"] == 1
    assert out["D"]["complete"] == 1
    assert "C" not in out


def test_group_traces_stream_wait_duration_flush(spark, tmp_path):
    """An abandoned partial trace is flushed with complete=0 once
    wait_duration passes (ProcessingTimeTimeout, surviving restart)."""
    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(indir)
    _write_batch(spark, indir, [("C", "c1", 2, 5)], SPAN_SCHEMA, "b0")
    _run_trace_stream(spark, indir, outdir, ckpt, wait_ms=1_000)
    time.sleep(1.5)  # strictly exceed the wait duration
    _write_batch(spark, indir, [("D", "d1", 1, 1)], SPAN_SCHEMA, "b1")
    _run_trace_stream(spark, indir, outdir, ckpt, wait_ms=1_000)
    out = {r["trace_id"]: r for r in spark.read.parquet(outdir).collect()}
    assert out["D"]["complete"] == 1
    assert out["C"]["complete"] == 0
    assert out["C"]["span_count"] == 1 and out["C"]["error_span_count"] == 1


# ---------------------------------------------------------------------------
# Streaming intervalprocessor twin: last value per identity per tumbling
# interval, emitted on watermark close (batch twin = grouping.interval_last).
# ---------------------------------------------------------------------------

IV_SCHEMA = "user_id bigint, event_type string, value double, event_ts timestamp"


def test_interval_last_stream(spark, tmp_path):
    from datetime import datetime

    from liatrio_otel_collector_spark.streaming.stateful import interval_last_stream

    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(indir)
    ts = lambda m, s=0: datetime(2024, 1, 1, 11, m, s)  # noqa: E731
    # identity (1,'cpu'): three datapoints in the 11:00 interval — only the
    # LAST (11:00:50, value 3.0) may survive; (2,'cpu') has one datapoint
    _write_batch(
        spark,
        indir,
        [
            (1, "cpu", 1.0, ts(0, 10)),
            (1, "cpu", 2.0, ts(0, 30)),
            (1, "cpu", 3.0, ts(0, 50)),
            (2, "cpu", 9.0, ts(0, 20)),
        ],
        IV_SCHEMA,
        "b0",
    )
    # advance the watermark far past 11:00+interval so the window emits
    _write_batch(spark, indir, [(1, "cpu", 4.0, ts(30))], IV_SCHEMA, "b1")
    _write_batch(spark, indir, [(1, "cpu", 5.0, ts(45))], IV_SCHEMA, "b2")
    stream = (
        spark.readStream.schema(IV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir + "/*")
    )
    q = (
        interval_last_stream(stream)
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    out = spark.read.parquet(outdir)
    eleven = {
        (r["user_id"], r["event_type"]): r
        for r in out.filter(F.col("interval_start") == ts(0, 0)).collect()
    }
    assert eleven[(1, "cpu")]["last_value"] == 3.0  # max_by kept the latest
    assert eleven[(1, "cpu")]["last_ts"] == ts(0, 50)
    assert eleven[(2, "cpu")]["last_value"] == 9.0


def test_group_traces_stream_late_span_after_complete(spark, tmp_path):
    """Tombstone (advice r3): a span arriving AFTER its trace emitted
    complete=1 must be dropped — no fresh state, no duplicate undercounted
    row for the same trace_id."""
    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(indir)
    _write_batch(
        spark, indir, [("B", "b1", 1, 2), ("B", "b2", 2, 2)], SPAN_SCHEMA, "b0"
    )
    _run_trace_stream(spark, indir, outdir, ckpt, wait_ms=600_000)
    # late straggler for the already-complete trace + a control trace
    _write_batch(
        spark, indir, [("B", "b3", 1, 2), ("E", "e1", 1, 1)], SPAN_SCHEMA, "b1"
    )
    _run_trace_stream(spark, indir, outdir, ckpt, wait_ms=600_000)
    rows = spark.read.parquet(outdir).collect()
    b_rows = [r for r in rows if r["trace_id"] == "B"]
    assert len(b_rows) == 1  # exactly one emission, never a duplicate
    assert b_rows[0]["complete"] == 1 and b_rows[0]["span_count"] == 2
    assert b_rows[0]["error_span_count"] == 1
    assert {r["trace_id"] for r in rows} == {"B", "E"}


def test_interval_last_stream_deterministic_tie(spark, tmp_path):
    """Equal timestamps in one interval: the (ts DESC, value DESC) struct-max
    rule must pick ONE row — last_value and last_ts from the same row, the
    larger value winning — matching the batch twin's explicit tiebreak."""
    from datetime import datetime

    from liatrio_otel_collector_spark.streaming.stateful import interval_last_stream

    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(indir)
    tied = datetime(2024, 1, 1, 11, 0, 40)
    _write_batch(
        spark,
        indir,
        [(1, "cpu", 2.0, tied), (1, "cpu", 7.0, tied), (1, "cpu", 5.0, datetime(2024, 1, 1, 11, 0, 10))],
        IV_SCHEMA,
        "b0",
    )
    # push the watermark past the 11:00 interval so it closes and emits
    _write_batch(spark, indir, [(1, "cpu", 0.0, datetime(2024, 1, 1, 11, 45))], IV_SCHEMA, "b1")
    stream = (
        spark.readStream.schema(IV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir + "/*")
    )
    q = (
        interval_last_stream(stream)
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    out = spark.read.parquet(outdir).collect()
    row = [r for r in out if r["interval_start"].minute == 0][0]
    assert row["last_value"] == 7.0 and row["last_ts"] == tied
