"""Streaming twins of the two stateful collector processors, for a stream
where a trace or a metric interval spans micro-batches (SURVEY §2.9:
"watermarks + windowed aggs for late data; applyInPandasWithState for
custom stateful operators"):

- :func:`group_traces_stream` — the groupbytraceprocessor: GroupState per
  open trace, buffered until complete or flushed after ``wait_duration``;
  batch twin ``plans/grouping.py::group_by_trace``.
- :func:`interval_last_stream` — the intervalprocessor: last datapoint per
  metric identity per watermarked tumbling window; batch twin
  ``plans/grouping.py::interval_last``.

No pipeline calls them yet: ``confmap.start_config_stream`` refuses a
``groupbytrace`` or ``interval`` processor behind its streaming receiver
until they are wired in front of ``foreachBatch``.

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


def interval_last_stream(stream: DataFrame) -> DataFrame:
    """Streaming twin of plans/grouping.py::interval_last (the
    intervalprocessor): the LAST ``value`` per metric identity
    ``(user_id, event_type)`` per 60-second tumbling window of ``event_ts``,
    emitted when the 10-minute watermark closes the window.  ``max_by``
    keeps the latest value without any row_number (unsupported in
    streaming); state is one (ts, value) pair per open (identity, window) —
    bounded by the watermark, exactly the processor's interval buffer.

    The winner is ``max(struct(ts, value))`` — ONE row chosen by the
    deterministic (ts DESC, value DESC) rule, so ``last_value`` and
    ``last_ts`` always come from the same row even under timestamp ties,
    matching the batch twin interval_last's explicit tiebreak (advice r3:
    separate max_by(value, ts) + max(ts) could mix rows on equal ts)."""
    identity = ("user_id", "event_type")
    return (
        stream.withWatermark("event_ts", "10 minutes")
        .groupBy(F.window(F.col("event_ts"), "60 seconds").alias("w"), *identity)
        .agg(
            F.max(
                F.struct(F.col("event_ts").alias("ts"), F.col("value").alias("v"))
            ).alias("_last")
        )
        .select(
            F.col("w.start").alias("interval_start"),
            *identity,
            F.col("_last.v").alias("last_value"),
            F.col("_last.ts").alias("last_ts"),
        )
    )
