"""Per-partition lineage manifests (north-rule resume requirement).

Each sink write is accompanied by a manifest DataFrame with one row per
Spark partition: (sink, batch_id, partition_id, row_count, min_doc_id,
max_doc_id, token_checksum).  The checksum is a commutative 64-bit fold of
xxhash64(doc_id, tokens) so a resumed/replayed batch can be verified
idempotent without re-reading sink data — the Spark analog of the
collector's self-observability obsreport counters
(/root/reference/receiver/githubreceiver/trace_receiver.go:135,187).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType


def _hashable(dt) -> bool:
    if isinstance(dt, MapType):
        return False
    if hasattr(dt, "fields"):  # StructType
        return all(_hashable(f.dataType) for f in dt.fields)
    if hasattr(dt, "elementType"):  # ArrayType
        return _hashable(dt.elementType)
    return True


def _checksum(df: DataFrame) -> Column:
    """The per-row hash the manifest folds: xxhash64(doc_id, tokens) when the
    frame carries tokens.  Otherwise the hashable columns — xxhash64 rejects
    MAP-typed inputs (map iteration order is not canonical), and
    OTTL-compiled frames carry attrs/resource maps; a map's CONTENT is still
    covered indirectly wherever it was derived from hashed scalar columns."""
    if "tokens" in df.columns:
        return F.xxhash64("doc_id", "tokens")
    cols = [f.name for f in df.schema.fields if _hashable(f.dataType)]
    return F.xxhash64(*cols) if cols else F.lit(0).cast("bigint")


def manifests(df: DataFrame, members: dict[str, Column], batch_id: int = 0) -> DataFrame:
    """Manifests for every sink in ``members`` ({sink: membership predicate
    over ``df``}) in ONE scan of ``df``.

    Each predicate becomes a conditional aggregate: count, min and max skip
    the rows a ``when`` leaves NULL, and so does bit_xor, so sink ``s``'s rows
    equal ``lineage_manifest(df.filter(members[s]), s)`` exactly — a filter
    keeps ``df``'s partitioning, so spark_partition_id is the same on both.
    One manifest per sink would re-read the wide token column once per sink
    instead.  The explode unpivots the per-partition aggregates, so the heavy
    aggregation stays ONE plan node however many sinks there are."""
    key = F.col("doc_id") if "doc_id" in df.columns else F.lit(None).cast("string")
    names = list(members)
    base = df.select(
        key.alias("_key"),
        _checksum(df).alias("_h"),
        F.spark_partition_id().alias("_pid"),
        *[members[n].alias(f"_in{i}") for i, n in enumerate(names)],
    )
    aggs = []
    for i in range(len(names)):
        inside = F.col(f"_in{i}")
        aggs += [
            F.count(F.when(inside, 1)).alias(f"rc{i}"),
            F.min(F.when(inside, F.col("_key"))).alias(f"mn{i}"),
            F.max(F.when(inside, F.col("_key"))).alias(f"mx{i}"),
            # BIT XOR is commutative+associative => order/partition independent
            F.bit_xor(F.when(inside, F.col("_h"))).cast("bigint").alias(f"ck{i}"),
        ]
    per_sink = [
        F.struct(
            F.lit(n).alias("sink"),
            F.col(f"rc{i}").alias("row_count"),
            F.col(f"mn{i}").alias("min_doc_id"),
            F.col(f"mx{i}").alias("max_doc_id"),
            F.col(f"ck{i}").alias("token_checksum"),
        )
        for i, n in enumerate(names)
    ]
    return (
        base.groupBy("_pid")
        .agg(*aggs)
        .select("_pid", F.explode(F.array(*per_sink)).alias("_m"))
        .filter(F.col("_m.row_count") > 0)
        .select(
            "_m.sink",
            F.lit(batch_id).cast("long").alias("batch_id"),
            F.col("_pid").alias("partition_id"),
            "_m.row_count",
            "_m.min_doc_id",
            "_m.max_doc_id",
            "_m.token_checksum",
        )
    )


def lineage_manifest(df: DataFrame, sink: str, batch_id: int = 0) -> DataFrame:
    """``df``'s manifest as sink ``sink``: every row is a member."""
    return manifests(df, {sink: F.lit(True)}, batch_id)
