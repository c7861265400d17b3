"""Per-partition lineage manifests (north-rule resume requirement).

Each sink write is accompanied by a manifest with one row per Spark
partition: (sink, batch_id, partition_id, row_count, min_doc_id,
max_doc_id, token_checksum).  The checksum is a commutative 64-bit fold of
xxhash64(doc_id, tokens) so a resumed/replayed batch can be verified
idempotent without re-reading sink data — the Spark analog of the
collector's self-observability obsreport counters
(/root/reference/receiver/githubreceiver/trace_receiver.go:135,187).
Spark computes the values; the batch writer writes each sink's few rows
from the driver as one parquet file (plans/pipeline.py ``fan_out``).

``partition_id`` is the split index of the frame the manifest was taken
over.  For a row sink that is the staged read-back, whose splits Spark
orders by file size, and the stage files' sizes vary with shuffle fetch
order: so ``partition_id`` is not stable across runs of the same batch.
Compare a replayed batch's manifest with the original's as a multiset of
``(sink, row_count, min_doc_id, max_doc_id, token_checksum)``, not row for
row by ``partition_id``.  A derived sink (a rollup) is written as one
partition, and its one manifest row is built on the driver from values its
own write observed (:func:`manifest_aggs`, :func:`observed_manifest`).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import MapType, StructType


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


def _key(df: DataFrame) -> Column:
    return F.col("doc_id") if "doc_id" in df.columns else F.lit(None).cast("string")


def _folds(key: Column, h: Column, inside: Column) -> list[Column]:
    """The manifest values over the rows where ``inside`` holds: row count,
    min and max key, and the checksum fold.  count, min and max skip the rows
    a ``when`` leaves NULL, and so does bit_xor, which is commutative and
    associative, so the fold is order- and partition-independent."""
    return [
        F.count(F.when(inside, 1)),
        F.min(F.when(inside, key)),
        F.max(F.when(inside, key)),
        F.bit_xor(F.when(inside, h)).cast("bigint"),
    ]


_VALUES = ("row_count", "min_doc_id", "max_doc_id", "token_checksum")


def manifests(df: DataFrame, members: dict[str, Column], batch_id: int = 0) -> DataFrame:
    """Manifests for every sink in ``members`` ({sink: membership predicate
    over ``df``}) in ONE scan of ``df``.

    Each predicate becomes a set of conditional aggregates (:func:`_folds`),
    so sink ``s``'s rows equal ``lineage_manifest(df.filter(members[s]), s)``
    exactly — a filter keeps ``df``'s partitioning, so spark_partition_id is
    the same on both.  One manifest per sink would re-read the wide token
    column once per sink instead.  The explode unpivots the per-partition
    aggregates, so the heavy aggregation stays ONE plan node however many
    sinks there are."""
    names = list(members)
    base = df.select(
        _key(df).alias("_key"),
        _checksum(df).alias("_h"),
        F.spark_partition_id().alias("_pid"),
        *[members[n].alias(f"_in{i}") for i, n in enumerate(names)],
    )
    aggs = [
        fold.alias(f"{v}{i}")
        for i in range(len(names))
        for fold, v in zip(_folds(F.col("_key"), F.col("_h"), F.col(f"_in{i}")), _VALUES)
    ]
    per_sink = [
        F.struct(F.lit(n).alias("sink"), *[F.col(f"{v}{i}").alias(v) for v in _VALUES])
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
            *[f"_m.{v}" for v in _VALUES],
        )
    )


def manifest_aggs(df: DataFrame) -> list[Column]:
    """``df``'s manifest values over the whole frame as aggregates, for
    ``DataFrame.observe``: the write of a ONE-partition frame that observes
    them sees exactly its manifest's one row (:func:`observed_manifest`)."""
    return [
        fold.alias(v)
        for fold, v in zip(_folds(_key(df), _checksum(df), F.lit(True)), _VALUES)
    ]


def arrow_table(rows: list[tuple], schema: str) -> pa.Table:
    """``rows``, typed by the DDL ``schema`` as Spark maps it to Arrow, for
    the driver to write: a timestamp is tz-aware UTC, so it reads back as
    ``timestamp``, not ``timestamp_ntz``."""
    arrow = to_arrow_schema(StructType.fromDDL(schema))
    return pa.Table.from_pylist([dict(zip(arrow.names, r, strict=True)) for r in rows], arrow)


def observed_manifest(df: DataFrame, seen: dict, sink: str) -> pa.Table:
    """The manifest of ``df`` written as ONE partition, from ``seen``, the
    values :func:`manifest_aggs` observed on that write: one row for
    partition 0, none when the frame was empty.  It equals
    ``lineage_manifest`` over the read-back of that write, in every column
    but ``batch_id`` (which the path holds), without the read-back."""
    key = df.select(_key(df)).schema[0].dataType.simpleString()
    return arrow_table(
        [(sink, 0, *(seen[v] for v in _VALUES))] if seen["row_count"] > 0 else [],
        f"sink string, partition_id int, row_count long, "
        f"min_doc_id {key}, max_doc_id {key}, token_checksum long",
    )


def lineage_manifest(df: DataFrame, sink: str, batch_id: int = 0) -> DataFrame:
    """``df``'s manifest as sink ``sink``: every row is a member."""
    return manifests(df, {sink: F.lit(True)}, batch_id)
