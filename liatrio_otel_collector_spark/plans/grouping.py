"""Grouping / compaction processor analogs — the last three distro-palette
processors (/root/reference/config/manifest.yaml:42,45-46:
groupbyattrsprocessor, groupbytraceprocessor, intervalprocessor).

All three are pure Catalyst groupBy/window plans — one shuffle each, on the
key the downstream sink is laid out on, with map-side partial aggregation:

- :func:`group_by_attrs`: the groupbyattrs processor re-associates records to
  resources keyed by chosen record attributes (the promoted attrs move from
  record scope to resource scope) and COMPACTS records under identical
  resource key-sets.  Records where the key attribute is missing keep their
  original resource grouping — the contrib processor's documented rule.
- :func:`group_by_trace`: the groupbytrace processor buffers spans until a
  trace is complete, then emits the whole trace as one batch.  In a bounded
  batch the corpus IS the complete trace set, so completion-buffering
  degenerates to an exact groupBy(trace_id); in streaming the same plan runs
  under `applyInPandasWithState` (see streaming/stateful.py) with the wait
  duration as the state timeout.
- :func:`interval_last`: the interval processor holds cumulative metric
  streams and emits only the LAST datapoint per metric identity per interval
  tick.  Expressed as a tumbling-interval bucket + row_number() window keyed
  on (identity, bucket) — deterministic tie-break so the DuckDB oracle
  reproduces the exact survivor set.

Scale shape at 10^12 rows: group_by_attrs / group_by_trace are single hash
aggregates (partial combine upstream of the shuffle); interval_last shuffles
on (identity, bucket) — time-bucketing splits any hot identity across
buckets, which bounds per-task input the same way the pipeline's salted
repartition does.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def group_by_attrs(
    records: DataFrame,
    keys: Sequence[str],
    fallback_resource: str,
) -> DataFrame:
    """Re-key records to resources by the promoted attribute set.

    ``keys`` are record-scope attribute columns to promote; records where
    EVERY key is null stay grouped under their original resource column
    (``fallback_resource``) — mirroring groupbyattrsprocessor, which only
    moves a record when at least one grouping attribute is present.

    Output: one row per new resource key-set with the compacted record
    count and distinct original-resource count (how many source resources
    were merged into the group).
    """
    any_key = F.coalesce(*[F.col(k).cast("string") for k in keys], F.lit(None))
    keyed = records.withColumn(
        "_grouped", any_key.isNotNull()
    )
    group_cols = [
        F.when(F.col("_grouped"), F.col(k).cast("string")).alias(k) for k in keys
    ] + [
        F.when(~F.col("_grouped"), F.col(fallback_resource).cast("string"))
        .alias("fallback_" + fallback_resource)
    ]
    return (
        keyed.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("record_count"),
            F.countDistinct(fallback_resource).alias("merged_resource_count"),
        )
    )


def group_by_trace(spans: DataFrame) -> DataFrame:
    """Emit one row per COMPLETE trace: span count, error count, distinct
    span names — the batch equivalent of groupbytraceprocessor's
    buffer-until-complete emit (bounded input = every trace is complete)."""
    return spans.groupBy("trace_id").agg(
        F.count(F.lit(1)).alias("span_count"),
        F.sum(F.when(F.col("status_code") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("error_span_count"),
        F.countDistinct("span_name").alias("span_name_count"),
    )


def interval_last(
    metrics: DataFrame,
    identity: Sequence[str],
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Last datapoint per metric identity per 60-second tumbling interval
    (intervalprocessor: aggregate datapoints between ticks, emit the latest
    state at each tick).

    The bucket is integer epoch arithmetic (``floor(epoch/interval) *
    interval``) rather than F.window() so the oracle reproduces it with the
    same expression; the row_number tie-break is (ts DESC, tiebreak DESC) —
    fully deterministic.
    """
    bucket = (
        (F.unix_timestamp(F.col("ts")) / 60).cast("bigint") * 60
    ).alias("interval_start")
    order = [F.col("ts").desc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).desc())
    w = Window.partitionBy(*identity, "interval_start").orderBy(*order)
    return (
        metrics.select(*identity, bucket, "ts", *( [order_tiebreak] if order_tiebreak else [] ), "value")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            *identity,
            "interval_start",
            F.floor(F.col("value") * 100).cast("bigint").alias("last_value_cents"),
        )
    )
