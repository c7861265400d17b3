"""Multimodal plumbing tests: binary columns, Arrow-batched mapInPandas
feature extraction (deterministic fake codec) and the frame-sample grid."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

from liatrio_otel_collector_spark.operators.multimodal import (
    FEATURE_DIM,
    fake_decode_features,
    frame_sample_plan,
    synthetic_media,
)


def test_media_schema_and_payloads(spark):
    m = synthetic_media(spark, 30)
    assert dict(m.dtypes)["payload"] == "binary"
    row = m.filter(F.col("media_id") == "4").collect()[0]
    expected = (hashlib.sha256(b"4").hexdigest()[:16] * 5).encode()
    assert bytes(row["payload"]) == expected


def test_feature_extraction_deterministic(spark):
    feats = fake_decode_features(synthetic_media(spark, 50))
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 50
    r = rows["4"]
    payload = (hashlib.sha256(b"4").hexdigest()[:16] * 5).encode()
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr % FEATURE_DIM, minlength=FEATURE_DIM).astype(np.float32) / len(arr)
    assert r["n_bytes"] == len(payload)
    assert np.allclose(r["features"], hist)
    # repartitioning doesn't change results (batch-shape independence)
    rows2 = {
        r["media_id"]: r
        for r in fake_decode_features(synthetic_media(spark, 50).repartition(7)).collect()
    }
    assert all(rows2[k]["features"] == rows[k]["features"] for k in rows)


def test_frame_sample_grid(spark):
    grid = frame_sample_plan(synthetic_media(spark, 30), every_ms=500)
    per_vid = {r["media_id"]: r["n"] for r in grid.groupBy("media_id").agg(F.count("*").alias("n")).collect()}
    # id=2 -> duration 1002ms -> frames at 0,500,1000 = 3
    assert per_vid["2"] == 3
    # only videos (id % 3 == 2) appear
    assert all(int(k) % 3 == 2 for k in per_vid)
