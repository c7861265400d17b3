"""Stateful streaming operators: cross-batch dedup (applyInPandasWithState)
and watermarked windowed counts with late-data drop (streaming/stateful.py).

These are the §2.9 semantics a batch DAG can't express — per-key GroupState
surviving micro-batches, and engine-managed window state aging."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from liatrio_otel_collector_spark.streaming.stateful import (
    dedup_by_key_stream,
    windowed_counts,
)

DEDUP_SCHEMA = "doc_id string, n_tok int, source string, id bigint"
WIN_SCHEMA = "doc_id string, source string, event_ts timestamp"


def _write_batch(spark, path, rows, schema, name):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, name)
    )
    time.sleep(1.1)  # distinct mtimes => deterministic file order per trigger


def test_cross_batch_dedup(spark, tmp_path):
    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(indir)
    # batch 0: d0..d9 (d3 duplicated in-batch); batch 1: d5..d14 overlap
    _write_batch(
        spark,
        indir,
        [(f"d{i}", 10 + i, "api", 0) for i in range(10)] + [("d3", 99, "api", 0)],
        DEDUP_SCHEMA,
        "b0",
    )
    _write_batch(
        spark,
        indir,
        [(f"d{i}", 20 + i, "webhook", 1) for i in range(5, 15)],
        DEDUP_SCHEMA,
        "b1",
    )
    stream = (
        spark.readStream.schema(DEDUP_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir + "/*")
    )
    q = (
        dedup_by_key_stream(stream)
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    out = spark.read.parquet(outdir)
    rows = {r["doc_id"]: r for r in out.collect()}
    # every key exactly once
    assert sorted(rows) == sorted(f"d{i}" for i in range(15))
    assert out.count() == 15
    # overlap keys kept their FIRST (batch-0) arrival
    for i in range(5, 10):
        assert rows[f"d{i}"]["first_batch"] == 0
        assert rows[f"d{i}"]["source"] == "api"
    for i in range(10, 15):
        assert rows[f"d{i}"]["first_batch"] == 1
    # the in-batch duplicate d3 kept the first row (n_tok 13, not 99)
    assert rows["d3"]["n_tok"] == 13


def test_watermark_drops_late_rows(spark, tmp_path):
    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(indir)
    from datetime import datetime

    ts = lambda h, m: datetime(2024, 1, 1, h, m, 0)  # noqa: E731
    # batch 0: two 11:00-window events + a 12:00 event (watermark advances
    # to 11:50 after this batch commits)
    _write_batch(
        spark,
        indir,
        [("a", "api", ts(11, 0)), ("b", "api", ts(11, 4)), ("c", "api", ts(12, 0))],
        WIN_SCHEMA,
        "b0",
    )
    # batch 1: on-time only — the 11:00 window finalizes + emits here, and
    # the watermark propagates (under availableNow the filter in batch N uses
    # the watermark established by batch N-2, verified via
    # numRowsDroppedByWatermark in StreamingQueryProgress)
    _write_batch(spark, indir, [("x", "api", ts(12, 10))], WIN_SCHEMA, "b1")
    # batch 2: a LATE 11:02 event into the ALREADY-EMITTED 11:00 window —
    # the engine must DROP it (append-mode windows never re-emit) — plus an
    # on-time 12:20 event
    _write_batch(
        spark,
        indir,
        [("late", "api", ts(11, 2)), ("y", "api", ts(12, 20))],
        WIN_SCHEMA,
        "b2",
    )
    stream = (
        spark.readStream.schema(WIN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir + "/*")
    )
    q = (
        windowed_counts(stream)
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    out = sorted(
        (str(r["window_start"]), r["n"]) for r in spark.read.parquet(outdir).collect()
    )
    # the late 11:02 row was DROPPED by the watermark (engine-counted), the
    # 11:00 window emitted EXACTLY ONCE with the on-time count only, and no
    # window row was ever duplicated/updated after emission
    assert dropped == 1
    assert out.count(("2024-01-01 11:00:00", 2)) == 1
    assert len([1 for s, _ in out if s == "2024-01-01 11:00:00"]) == 1


def test_dedup_state_survives_restart(spark, tmp_path):
    """GroupState is checkpoint-backed: a SECOND availableNow run (fresh
    query object, same checkpoint) must still drop keys emitted by the
    first run — the resume property that makes webhook replays idempotent."""
    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(indir)
    _write_batch(
        spark, indir, [(f"k{i}", i, "api", 0) for i in range(5)], DEDUP_SCHEMA, "b0"
    )

    def run_once():
        stream = (
            spark.readStream.schema(DEDUP_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(indir + "/*")
        )
        q = (
            dedup_by_key_stream(stream)
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run_once()  # emits k0..k4, state persisted
    # new input: 3 replayed keys + 2 fresh ones, processed by a RESTARTED query
    _write_batch(
        spark,
        indir,
        [("k1", 99, "webhook", 1), ("k3", 99, "webhook", 1), ("k4", 99, "webhook", 1),
         ("k5", 15, "webhook", 1), ("k6", 16, "webhook", 1)],
        DEDUP_SCHEMA,
        "b1",
    )
    run_once()
    rows = {r["doc_id"]: r for r in spark.read.parquet(outdir).collect()}
    assert sorted(rows) == [f"k{i}" for i in range(7)]
    # replayed keys kept their ORIGINAL first-run rows
    for i in (1, 3, 4):
        assert rows[f"k{i}"]["first_batch"] == 0 and rows[f"k{i}"]["n_tok"] == i
    assert rows["k5"]["first_batch"] == 1 and rows["k6"]["first_batch"] == 1


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


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """session_counts (native session_window, append mode) emits exactly the
    sessions the batch sessionize operator derives, once the watermark has
    passed them.  Two availableNow invocations: the sentinel in the first
    advances the watermark, the second's extra batch flushes the aged-out
    session state (watermark is applied one batch behind its source rows)."""
    from datetime import timedelta

    from pyspark.sql import Window

    from liatrio_otel_collector_spark.operators.temporal import sessionize
    from liatrio_otel_collector_spark.sources.tables import load_tables
    from liatrio_otel_collector_spark.streaming.stateful import session_counts

    events = load_tables(spark, "/root/testdata/sf0.001")["events"].select("user_id", "ts")
    gap_s = 1800
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    # the two operators diverge only on exact-gap adjacent pairs (see the
    # session_counts docstring) — assert this input has none
    w = Window.partitionBy("user_id").orderBy("ts")
    exact = (
        events.withColumn("_d", us - F.lag(us).over(w))
        .filter(F.col("_d") == gap_s * 1_000_000)
        .count()
    )
    assert exact == 0

    indir, outdir, ckpt = (str(tmp_path / n) for n in ("in", "out", "ckpt"))
    os.makedirs(indir)
    events.coalesce(1).write.parquet(os.path.join(indir, "b0"))
    max_ts = events.agg(F.max("ts")).first()[0]

    def _sentinel(uid: int, days: int, name: str) -> None:
        row = [(uid, max_ts + timedelta(days=days))]
        spark.createDataFrame(row, events.schema).coalesce(1).write.parquet(
            os.path.join(indir, name)
        )

    def _run() -> None:
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(indir + "/*")
        )
        q = (
            session_counts(stream, gap="30 minutes")
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    _sentinel(999_999, 10, "b1")
    _run()
    _sentinel(999_998, 20, "b2")
    _run()

    got = (
        spark.read.parquet(outdir)
        .filter(F.col("user_id") < 999_000)
        .select(
            "user_id",
            F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
            "n_events",
            (
                F.unix_micros(F.col("session_end").cast("timestamp")) - gap_s * 1_000_000
            ).alias("last_us"),
        )
    )
    exp = (
        sessionize(events, ("user_id",), "ts", gap_s)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min(us).alias("start_us"),
            F.count(F.lit(1)).alias("n_events"),
            F.max(us).alias("last_us"),
        )
        .select("user_id", "start_us", "n_events", "last_us")
    )
    got_rows = sorted(map(tuple, got.collect()))
    exp_rows = sorted(map(tuple, exp.collect()))
    assert len(got_rows) > 0
    assert got_rows == exp_rows
