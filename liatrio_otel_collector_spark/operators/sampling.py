"""Deterministic corpus sampling (training-data curation).

The apply step behind source-mixing weights (pl9): cap each source's
contribution with a stateless hash gate instead of a per-source sort/rank.
A rank cap (`row_number() <= cap`) would shuffle-sort every source's full
partition — at 100 TB that is a corpus-wide sort to throw most rows away.
The hash gate needs one tiny per-source count aggregate, a broadcast join,
and a scan-side filter; it is reproducible run-to-run and composable with
any upstream/downstream plan.

Semantics are EXPECTED-cap: each doc is kept with probability
min(1, cap/n_source) via a uniform 32-bit hash of its id, so kept counts
are binomial around the cap (exact caps need the sort this avoids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def source_downsample(docs: DataFrame, cap: int) -> DataFrame:
    """Keep each row iff the first 32 bits of md5(doc_id) fall under the
    per-source threshold floor(cap*2^32 / n_source).

    Overflow safety: the comparison is h32 < threshold with threshold
    computed by division on the (tiny) count frame — every intermediate is
    <= cap*2^32, safe for any source size up to int64 (h32 * n_source, the
    naive cross-multiplied form, overflows at ~2*10^9 rows per source).
    Output keeps the original columns plus the gate hash `h32` so the
    decision is auditable."""
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    thr = F.floor(F.lit(cap) * F.lit(1 << 32) / F.col("n_src")).cast("bigint")
    h32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    return (
        docs.join(F.broadcast(per.withColumn("thr", thr)), "source")
        .withColumn("h32", h32)
        .filter(F.col("h32") < F.col("thr"))
        .drop("n_src", "thr")
    )


def train_val_test_split(docs: DataFrame) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment: bucket = first 32
    md5 bits of doc_id mod 100.  Stateless and stable across runs, machines, and
    engine versions — re-running the pipeline on a grown corpus never moves
    an existing doc between splits (the property random() splits lack, and
    the reason leakage-free splits hash ids instead of sampling).  Pure
    map-side expression: no shuffle, composable with any scan."""
    h32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    bucket = h32 % 100
    return docs.withColumn(
        "split",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test"),
    )
