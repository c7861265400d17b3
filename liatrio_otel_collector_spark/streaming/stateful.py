"""Custom stateful streaming operators (SURVEY §2.9 / brief: "watermarks +
windowed aggs for late data; applyInPandasWithState for custom stateful
operators").

Two operators the batch DAG cannot express:

- :func:`dedup_by_key_stream` — exactly-once-per-key across micro-batches
  via ``applyInPandasWithState``: the first row of each key is emitted, every
  later arrival (same batch or any later batch) is dropped.  This is the
  streaming analog of dd1 exact-dedup and the guard the collector's
  webhook receivers get from deterministic ids (X4): replays collapse.
  State per key is one boolean — at 10^12 keys state size is bounded by
  distinct keys, and the shuffle is the same hash-on-key the sink write
  needs anyway.
- :func:`windowed_counts` — watermarked tumbling-window counts per source:
  late rows beyond the watermark are DROPPED by the engine (the
  collection_interval rollup analog with bounded state).

Worker fns are self-contained closures (pickle-by-value) per the repo rule:
executors may not be able to import this package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DEDUP_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("n_tok", IntegerType()),
        StructField("source", StringType()),
        StructField("first_batch", LongType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("seen", IntegerType())])


def dedup_by_key_stream(stream: DataFrame, batch_id_col: str = "id") -> DataFrame:
    """Streaming exact-dedup on doc_id: emit the FIRST arrival of each key,
    drop all later duplicates across micro-batches (GroupState survives the
    checkpoint, so a restart keeps deduping where it left off)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        import pandas as _pd

        if state.exists:
            # key already emitted in an earlier batch: consume + drop
            for _ in pdfs:
                pass
            return
        first = None
        for pdf in pdfs:
            if len(pdf) and first is None:
                first = pdf.iloc[[0]]
        if first is None:
            return
        state.update((1,))
        yield _pd.DataFrame(
            {
                "doc_id": first["doc_id"].values,
                "n_tok": first["n_tok"].values,
                "source": first["source"].values,
                "first_batch": first["id"].astype("int64").values,
            }
        )

    return (
        stream.groupBy("doc_id")
        .applyInPandasWithState(
            fn,
            outputStructType=DEDUP_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


TRACE_OUT_SCHEMA = StructType(
    [
        StructField("trace_id", StringType()),
        StructField("span_count", LongType()),
        StructField("error_span_count", LongType()),
        StructField("complete", IntegerType()),
    ]
)

_TRACE_STATE_SCHEMA = StructType(
    [
        StructField("span_count", LongType()),
        StructField("error_count", LongType()),
        StructField("expected", LongType()),
        StructField("done", LongType()),
    ]
)


def group_traces_stream(stream: DataFrame, wait_duration_ms: int = 60_000) -> DataFrame:
    """Streaming groupbytraceprocessor (manifest.yaml:45): buffer spans per
    trace until the trace is COMPLETE (all ``n_expected`` spans arrived —
    possibly across micro-batches), then emit the whole-trace summary row
    with complete=1.  Traces still open after ``wait_duration_ms`` of
    processing time are flushed with complete=0 — the processor's
    ``wait_duration`` give-up path, expressed as a GroupState
    ProcessingTimeTimeout.  State per open trace is three longs, so state
    size is bounded by OPEN traces, not spans; the shuffle key (trace_id)
    is the same key the trace sink is laid out on.

    The batch twin is plans/grouping.py::group_by_trace (bounded input =
    every trace complete).

    A query using it never ends under an ``availableNow`` trigger: the
    ProcessingTimeTimeout keeps Spark scheduling no-data micro-batches, and
    ``processAllAvailable`` does not return either.  Run such a query with
    ``trigger(once=True)``, or have whoever starts it stop it."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        import pandas as _pd

        def emit(sc, ec, complete):
            return _pd.DataFrame(
                {
                    "trace_id": [key[0]],
                    "span_count": [sc],
                    "error_span_count": [ec],
                    "complete": [complete],
                }
            )

        if state.hasTimedOut:
            sc, ec, _, done = state.get
            state.remove()
            if not done:  # tombstone timeout: already emitted, just clean up
                yield emit(sc, ec, 0)
            return
        sc, ec, exp, done = state.get if state.exists else (0, 0, -1, 0)
        if done:
            # Tombstone (advice r3): the trace already emitted complete=1 —
            # without this, late spans would RE-OPEN fresh state and emit a
            # duplicate undercounted row for the same trace_id.  Drop the
            # stragglers, keep the tombstone until its timeout reclaims it.
            state.setTimeoutDuration(wait_duration_ms)
            return
        for pdf in pdfs:
            if len(pdf):
                sc += len(pdf)
                ec += int((pdf["status_code"] == 2).sum())
                exp = int(pdf["n_expected"].iloc[0])
        if 0 <= exp <= sc:
            # keep a done-marker instead of remove() so late arrivals can't
            # restart the trace; state stays three longs + flag, reclaimed
            # by the same processing-time timeout as the give-up path
            state.update((sc, ec, exp, 1))
            state.setTimeoutDuration(wait_duration_ms)
            yield emit(sc, ec, 1)
        else:
            state.update((sc, ec, exp, 0))
            state.setTimeoutDuration(wait_duration_ms)

    return stream.groupBy("trace_id").applyInPandasWithState(
        fn,
        outputStructType=TRACE_OUT_SCHEMA,
        stateStructType=_TRACE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def interval_last_stream(
    stream: DataFrame,
    identity: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "event_ts",
    value_col: str = "value",
    watermark: str = "10 minutes",
    interval: str = "60 seconds",
) -> DataFrame:
    """Streaming twin of plans/grouping.py::interval_last (the
    intervalprocessor): the LAST datapoint per metric identity per tumbling
    interval, emitted when the watermark closes the window.  ``max_by``
    keeps the latest value without any row_number (unsupported in
    streaming); state is one (ts, value) pair per open (identity, window) —
    bounded by the watermark, exactly the processor's interval buffer.

    The winner is ``max(struct(ts, value))`` — ONE row chosen by the
    deterministic (ts DESC, value DESC) rule, so ``last_value`` and
    ``last_ts`` always come from the same row even under timestamp ties,
    matching the batch twin interval_last's explicit tiebreak (advice r3:
    separate max_by(value, ts) + max(ts) could mix rows on equal ts)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), interval).alias("w"), *identity)
        .agg(
            F.max(
                F.struct(F.col(ts_col).alias("ts"), F.col(value_col).alias("v"))
            ).alias("_last")
        )
        .select(
            F.col("w.start").alias("interval_start"),
            *identity,
            F.col("_last.v").alias("last_value"),
            F.col("_last.ts").alias("last_ts"),
        )
    )


def session_counts(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Watermarked session-window aggregation: Spark's native
    ``session_window`` merges events whose inter-arrival gap is under
    ``gap`` — the streaming twin of ``operators.temporal.sessionize``.

    Boundary fine print: ``session_window`` treats an event arriving at
    EXACTLY ``gap`` after the previous one as a new session (windows are
    ``[ts, ts+gap)`` and merge on overlap), while the batch operator keeps
    it (splits strictly on ``> gap``).  The two agree on every input with
    no exact-gap adjacent pair — asserted, not assumed, in
    ``tests/test_stateful_streaming.py``.

    State is one ``(start, end, count)`` per open session per key, aged out
    by the watermark — bounded at unbounded input.  Append mode emits a
    session only once it can no longer grow (watermark past its close),
    which is exactly the training-pipeline contract: emitted sessions are
    final, replays and stragglers inside the gap fold in before emission.
    """
    # watermarks require TIMESTAMP (not NTZ); the session timezone is pinned
    # UTC (session.py) so the cast is value-preserving
    return (
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "event_ts",
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per source: the engine ages out
    window state past the watermark and silently drops later-than-watermark
    rows — bounded state at unbounded input."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "source",
            "n",
        )
    )
