"""Flagship-pipeline tests: routing semantics, token-array-equality
invariant, lineage manifests, parse-path parity (UDF vs Catalyst expr)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from liatrio_otel_collector_spark.plans.pipeline import (
    PipelineConfig,
    build_pipeline,
    flagship_stage,
    run_pipeline,
    write_batch,
)
from liatrio_otel_collector_spark.plans.lineage import lineage_manifest, manifests
from liatrio_otel_collector_spark.sources.sequences import sequences

N = 4000


def test_routing_counts(spark):
    sinks = build_pipeline(spark, N)
    # logs = severity in (warn, error, fatal); severity = id%5 in {2,3,4}
    assert sinks["logs"].count() == sum(1 for i in range(N) if i % 5 in (2, 3, 4))
    # traces = scope in scope-0..2 (id%8 in 0..2) and source != webhook (id%10 != 9)
    assert sinks["traces"].count() == sum(
        1 for i in range(N) if i % 8 in (0, 1, 2) and i % 10 != 9
    )
    # metrics rollup total == input rows
    total = sinks["metrics"].agg(F.sum("seq_count")).collect()[0][0]
    assert total == N


def test_token_array_equality_invariant(spark):
    """Routed LOG rows must carry the input token arrays byte-for-byte.
    The traces sink deliberately does NOT carry the token payload (r6:
    spans are ids + attributes; the wide array was ~90% of that sink's
    write bytes with no reader) — asserted below so it cannot silently
    creep back in."""
    src = sequences(spark, N)
    sinks = build_pipeline(spark, N)
    routed = sinks["logs"].select("doc_id", F.col("tokens").alias("routed_tokens"))
    joined = routed.join(src.select("doc_id", "tokens"), "doc_id", "inner")
    mismatches = joined.filter(F.col("routed_tokens") != F.col("tokens")).count()
    assert mismatches == 0
    assert joined.count() == routed.count()
    assert "tokens" not in sinks["traces"].columns


def test_parse_udf_vs_expr_parity(spark):
    a = build_pipeline(spark, N, PipelineConfig(use_udf_parse=True))
    b = build_pipeline(spark, N, PipelineConfig(use_udf_parse=False))
    ra = sorted(map(tuple, a["metrics"].collect()))
    rb = sorted(map(tuple, b["metrics"].collect()))
    assert ra == rb


def test_deterministic_ids(spark):
    tr = build_pipeline(spark, 100)["traces"].select("doc_id", "trace_id", "span_id")
    rows = {r["doc_id"]: (r["trace_id"], r["span_id"]) for r in tr.collect()}
    import hashlib

    for doc_id, (tid, sid) in list(rows.items())[:5]:
        src = "github" if int(doc_id) % 10 < 5 else None
        if src is None:
            continue
        digest = hashlib.sha256(f"{doc_id}|{src}".encode()).hexdigest()
        assert tid == digest[:32]
        scope = f"scope-{int(doc_id) % 8}"
        sdigest = hashlib.sha256(f"{doc_id}|{scope}".encode()).hexdigest()
        assert sid == sdigest[16:32]


def test_lineage_manifest(spark):
    src = sequences(spark, N).repartition(4)
    m = lineage_manifest(src, "logs", batch_id=7).collect()
    assert sum(r["row_count"] for r in m) == N
    assert all(r["sink"] == "logs" and r["batch_id"] == 7 for r in m)
    # checksum is partition-layout-independent in aggregate: recompute with
    # a different partitioning and compare the XOR-fold of all partitions
    m2 = lineage_manifest(src.repartition(9), "logs", batch_id=7).collect()
    xor1 = 0
    for r in m:
        xor1 ^= r["token_checksum"]
    xor2 = 0
    for r in m2:
        xor2 ^= r["token_checksum"]
    assert xor1 == xor2


@pytest.mark.parametrize("frame", ["tokens", "map column"])
def test_manifests_equal_per_sink_manifests(spark, frame):
    """The combined pass over several membership predicates gives, row for
    row, the union of one manifest per filtered sink — both with the
    doc_id+tokens checksum and with the hashable-columns checksum of a frame
    that carries a map column and no tokens."""
    src = sequences(spark, N).repartition(5, "doc_id")
    if frame == "map column":
        src = src.drop("tokens").withColumn("attrs", F.create_map(F.lit("src"), F.col("source")))
    p = F.col("n_tok") % 2 == 0
    q = F.col("source") == "github"
    combined = manifests(src, {"a": p, "b": q}, 7).collect()
    per_sink = lineage_manifest(src.filter(p), "a", 7).union(
        lineage_manifest(src.filter(q), "b", 7)
    ).collect()
    assert {r["sink"] for r in combined} == {"a", "b"}
    assert sorted(map(tuple, combined)) == sorted(map(tuple, per_sink))


def test_run_pipeline_writes_sinks(spark, tmp_path):
    cfg = PipelineConfig(output_dir=str(tmp_path))
    counts = run_pipeline(spark, 1000, cfg)
    assert counts["logs"] == sum(1 for i in range(1000) if i % 5 in (2, 3, 4))
    # one batch_id=K directory per sink, no source= layout
    assert sorted(p.name for p in (tmp_path / "logs").iterdir()) == ["batch_id=0"]
    assert (tmp_path / "_lineage" / "logs").exists()
    lineage = spark.read.parquet(str(tmp_path / "_lineage" / "logs"))
    assert lineage.agg(F.sum("row_count")).collect()[0][0] == counts["logs"]


def _columns(df) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def _flagship_batch(spark, src, out: str, batch_id: int, **cfg) -> dict[str, int]:
    """One flagship batch of ``src`` through the one batch writer."""
    stage = flagship_stage(spark, src, PipelineConfig(output_dir=out, **cfg), out, batch_id)
    return write_batch(spark, [stage], out, batch_id)


@pytest.mark.parametrize("rows", ["all", "no warn/error/fatal"])
def test_rollup_manifests_equal_read_back_manifests(spark, tmp_path, rows):
    """A rollup's manifest is built from values its own write observed; it
    equals, row for row and in every column, the manifest of the rollup's
    read-back.  Without warn/error/fatal rows ``logs_agg`` is empty: its
    manifest has no row and its count is 0.  A row sink's manifest comes
    from the staged frame, whose ``partition_id`` is not stable (see
    ``plans/lineage.py``): its row count and checksum fold equal those of
    the sink's read-back, and ``_input`` counts every input row."""
    src = sequences(spark, N)
    if rows != "all":
        src = src.filter(F.col("doc_id").cast("long") % 5 < 2)
    out = str(tmp_path)
    counts = _flagship_batch(spark, src, out, 5)
    for agg in ("metrics", "logs_agg", "traces_agg"):
        got = spark.read.parquet(f"{out}/_lineage/{agg}/batch_id=5")
        want = lineage_manifest(spark.read.parquet(f"{out}/{agg}/batch_id=5"), agg, 5)
        want = want.drop("batch_id")
        assert _columns(got) == _columns(want), agg
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())), agg
        assert counts[agg] == sum(r["row_count"] for r in got.collect()), agg
    if rows != "all":
        assert counts["logs_agg"] == 0
        assert spark.read.parquet(f"{out}/_lineage/logs_agg/batch_id=5").count() == 0

    def folds(df):
        return tuple(df.agg(F.sum("row_count"), F.bit_xor("token_checksum")).first())

    # the traces sink drops ``tokens``; the manifest hashes the staged
    # doc_id and tokens, so the read-back gets its tokens back by doc_id
    tokens = src.select("doc_id", "tokens")
    for sink, read_back in (
        ("logs", spark.read.parquet(f"{out}/logs/batch_id=5")),
        ("traces", spark.read.parquet(f"{out}/traces/batch_id=5").join(tokens, "doc_id")),
    ):
        got = spark.read.parquet(f"{out}/_lineage/{sink}/batch_id=5")
        assert folds(got) == folds(lineage_manifest(read_back, sink, 5)), sink
        assert counts[sink] == read_back.count(), sink
    inputs = spark.read.parquet(f"{out}/_lineage/_input/batch_id=5")
    assert folds(inputs)[0] == counts["_input"] == src.count()


def test_bookkeeping_is_parquet_whatever_the_sink_format(spark, tmp_path):
    """Sinks take ``sink_format``; the lineage manifests and ``_metrics``
    are parquet with the same columns and types in every format."""
    out = str(tmp_path)
    counts = _flagship_batch(spark, sequences(spark, 1000), out, 3, sink_format="json")
    parts = list((tmp_path / "logs" / "batch_id=3").glob("part-*"))
    assert parts and all(p.suffix == ".json" for p in parts)
    assert spark.read.json(f"{out}/logs/batch_id=3").count() == counts["logs"]
    assert _columns(spark.read.parquet(f"{out}/_lineage/logs/batch_id=3")) == [
        ("sink", "string"),
        ("partition_id", "int"),
        ("row_count", "bigint"),
        ("min_doc_id", "string"),
        ("max_doc_id", "string"),
        ("token_checksum", "bigint"),
    ]
    assert _columns(spark.read.parquet(f"{out}/_metrics/batch_id=3")) == [
        ("input_rows", "bigint"),
        ("sink_rows", "map<string,bigint>"),
        ("process_sec", "double"),
        ("rows_per_sec", "double"),
        ("processed_at", "timestamp"),
    ]


def test_metrics_row_round_trips(spark, tmp_path):
    """The flagship ``_metrics`` row reads back with its column names, types
    and values."""
    import datetime

    out = str(tmp_path)
    before = datetime.datetime.now()
    counts = _flagship_batch(spark, sequences(spark, 1000), out, 2)
    m = spark.read.parquet(f"{out}/_metrics/batch_id=2")
    assert _columns(m) == [
        ("input_rows", "bigint"),
        ("sink_rows", "map<string,bigint>"),
        ("process_sec", "double"),
        ("rows_per_sec", "double"),
        ("processed_at", "timestamp"),
    ]
    (r,) = m.collect()
    assert (r["input_rows"], r["sink_rows"]["logs"], r["sink_rows"]["traces"]) == (
        1000, counts["logs"], counts["traces"]
    )
    assert r["sink_rows"] == counts
    assert r["process_sec"] > 0
    assert r["rows_per_sec"] == pytest.approx(1000 / r["process_sec"])
    assert before - datetime.timedelta(minutes=1) <= r["processed_at"] <= datetime.datetime.now()
