"""Sampling processor analogs (distro palette, config/manifest.yaml:44-46:
probabilisticsamplerprocessor + tailsamplingprocessor).

- :func:`probabilistic_sample`: CONSISTENT hash-based sampling — the keep
  decision is a pure function of trace_id, so every span of a trace (and
  every re-delivery of the same webhook) lands on the same side of the cut,
  with no coordination between executors.  The hash is the first 8 hex
  chars of md5 (not xxhash64) so the DuckDB oracle reproduces the exact
  sampled set.
- :func:`tail_sample_errors`: tail-based sampling — keep ONLY complete
  traces that satisfy a policy (here: contain at least one ERROR span).
  Expressed as a semi-join of spans against the qualifying trace-id set:
  one shuffle on trace_id, the same key the trace sink is laid out on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sample_key(trace_id: Column) -> Column:
    """Deterministic sampling bucket in [0, 10 000): md5-hex prefix as int."""
    return F.conv(F.substring(F.md5(trace_id), 1, 8), 16, 10).cast("bigint") % 10_000


def probabilistic_sample(spans: DataFrame, percent: float = 25.0) -> DataFrame:
    """Keep spans whose trace falls in the sampled fraction (consistent:
    whole traces survive or drop together)."""
    threshold = int(percent * 100)  # buckets = 10_000 => basis points
    return spans.filter(sample_key(F.col("trace_id")) < threshold)


def tail_sample_errors(spans: DataFrame) -> DataFrame:
    """Keep every span of traces containing >= 1 ERROR (status_code 2) span."""
    bad = (
        spans.filter(F.col("status_code") == 2)
        .select(F.col("trace_id").alias("_t"))
        .distinct()
    )
    return spans.join(bad, spans["trace_id"] == F.col("_t"), "left_semi")
