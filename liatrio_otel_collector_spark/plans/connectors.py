"""Connector analogs: countconnector + spanmetricsconnector (SURVEY §2 /
VERDICT r1 item 9).

The distro palette ships both (/root/reference/config/manifest.yaml:66-68):
connectors consume one pipeline's output and re-emit it into another —
traces in, metrics out. Re-expressed over the span frames our receivers
produce (plans/traces.py SPAN_COLS or any frame with the dimension columns):

- ``count_connector``: the countconnector's default ``trace.span.count``
  metric — one counter datapoint per distinct dimension-set value.
- ``spanmetrics_connector``: the spanmetricsconnector's RED metrics —
  ``calls`` (count), ``duration`` sum, and a CUMULATIVE explicit-bounds
  histogram (prometheus ``le`` semantics) per (service.name, span.name,
  status.code).

Both are pure groupBy aggregates over whatever span frame is piped in —
map-side partial aggregation, one shuffle on the dimension key, no UDFs —
so at 100 TB they cost one pass over the routed traces sink.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.ids import span_id, trace_id

# the spanmetrics connector's default explicit bucket bounds, in ms
# (connector/spanmetricsconnector defaults: 2ms..15s)
DEFAULT_BOUNDS_MS: tuple[int, ...] = (
    2, 4, 6, 8, 10, 50, 100, 250, 500, 1000, 2500, 5000, 10000, 15000,
)


def count_connector(
    spans: DataFrame, dims: tuple[str, ...] = ("service_name", "span_name")
) -> DataFrame:
    """countconnector: trace.span.count per dimension-set value."""
    return spans.groupBy(*dims).agg(F.count(F.lit(1)).alias("span_count"))


def spanmetrics_connector(spans: DataFrame) -> DataFrame:
    """spanmetricsconnector: calls + duration sum + cumulative histogram per
    (service_name, span_name, status_code).

    Input needs columns: service_name, span_name, status_code, and the exact
    integer duration_ms.  Histogram columns le_<bound> hold cumulative
    counts (``duration <= bound``); calls doubles as the +Inf bucket.
    """
    dur: Column = F.col("duration_ms")
    les = [
        F.sum(F.when(dur <= b, 1).otherwise(0)).cast("bigint").alias(f"le_{b}")
        for b in DEFAULT_BOUNDS_MS
    ]
    return spans.groupBy("service_name", "span_name", "status_code").agg(
        F.count(F.lit(1)).alias("calls"),
        F.sum(dur).cast("bigint").alias("duration_sum_ms"),
        *les,
    )


def spans_from_events(events: DataFrame) -> DataFrame:
    """Deterministic span frame over the events table — the driver-facing
    input for the connector queries (ids via the X4 sha256 scheme; duration
    quantized exact-int so the DuckDB twin reproduces every value)."""
    return events.select(
        trace_id("event_id").alias("trace_id"),
        span_id("event_id", "event_type").alias("span_id"),
        F.concat(F.lit("svc-"), (F.col("user_id") % 5).cast("string")).alias("service_name"),
        F.col("event_type").alias("span_name"),
        F.when(F.col("event_type") == "error", F.lit(2)).otherwise(F.lit(1)).alias("status_code"),
        F.floor(F.col("value") * 100).cast("bigint").alias("duration_ms"),
    )
