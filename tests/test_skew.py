"""Skew-handling evidence (north rule: explicit salted repartition).

The source is deliberately skewed: ~50% of rows share source='github'
(FIXTURES.md §1). Without salting, a partition-by-source shuffle puts half
the table in one task. These tests show the salt actually spreads the hot
key and that results are unaffected by it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from liatrio_otel_collector_spark.plans.pipeline import SALT_BUCKETS
from liatrio_otel_collector_spark.sources.sequences import sequences

N = 100_000


def test_source_is_skewed(spark):
    counts = {r["source"]: r["n"] for r in sequences(spark, N).groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["github"] == N // 2  # the hot key


def test_salt_spreads_hot_key(spark):
    salted = sequences(spark, N).repartition(
        32, F.col("source"), F.pmod(F.xxhash64("doc_id"), F.lit(SALT_BUCKETS))
    )
    sizes = [
        r["n"]
        for r in salted.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    # unsalted-by-source would give one partition ~N/2; salted must cap the
    # largest partition well below that (hot key split across SALT_BUCKETS)
    assert max(sizes) < N // 2 * 0.3, f"max partition {max(sizes)} too large: {sorted(sizes)[-5:]}"


def test_unsalted_baseline_is_pathological(spark):
    """Negative control: partitioning on source alone concentrates the hot
    key in a single partition — the problem the salt exists to solve."""
    plain = sequences(spark, N).repartition(32, F.col("source"))
    sizes = [
        r["n"]
        for r in plain.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert max(sizes) >= N // 2  # hot key all in one place


def test_adaptive_salt_covers_slots_under_extreme_skew(spark):
    """r4: a 90%-hot key must still feed (nearly) every slot.  A FIXED
    16-bucket salt caps the hot key at 16 partitions — at local[32] half the
    cores idle (measured 2.07x e2e).  The adaptive bucket count (4x slots)
    must land hot-key rows on >= 90% of the shuffle partitions."""
    from liatrio_otel_collector_spark.plans.pipeline import resolve_salt_buckets

    slots = spark.sparkContext.defaultParallelism
    buckets = resolve_salt_buckets(spark)
    assert buckets >= 16 * slots
    skewed = sequences(spark, N).withColumn(
        "source",
        F.expr("CASE WHEN id % 10 < 9 THEN 'github' ELSE 'webhook' END"),
    )
    salted = skewed.repartition(
        slots, F.col("source"), F.pmod(F.xxhash64("doc_id"), F.lit(buckets))
    )
    hot = (
        salted.filter(F.col("source") == "github")
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(hot) >= int(0.9 * slots), f"hot key on only {len(hot)}/{slots} partitions"
    sizes = [r["n"] for r in hot]
    mean = sum(sizes) / len(sizes)
    assert max(sizes) < 2 * mean, f"hot-key imbalance: {sorted(sizes)}"
