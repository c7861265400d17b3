"""The streaming layer, driven as the collector runs it: one small file per
tick, stopped half way and resumed from its checkpoint.

The round stages the first half of the seeded ticks, drains them with
``start_stream(available_now=True)`` (one file per micro-batch), stages the
second half, restarts the stream on the same checkpoint and drains the
rest.  Spark's own per-batch timings come from
``StreamingQuery.recentProgress``; the sinks are checked batch by batch
after the resume.  ``batch_fanout``'s traced run calls :func:`measure`.
"""

from __future__ import annotations

import os
import time

from liatrio_otel_collector_spark.streaming.job import StreamingConfig, start_stream

from . import gate, inputs
from .harness import Tracer, dir_bytes, median

N_TICKS = 6
ROWS_PER_TICK = 10_000
DURATIONS = {
    "streaming.add_batch_s": "addBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
    "streaming.latest_offset_s": "latestOffset",
}
LAYER_UNITS = {
    "streaming.microbatch_p50_s": "s",
    "streaming.seq_per_s": "1/s",
    **dict.fromkeys(DURATIONS, "s"),
    "streaming.jobs_per_batch": "count",
    "streaming.stages_per_batch": "count",
    "streaming.tasks_per_batch": "count",
    "streaming.rows_per_batch": "count",
    "streaming.resume_s": "s",
    "streaming.sink_bytes_per_seq": "bytes",
}


def _drain(spark, cfg: StreamingConfig, tracer: Tracer, name: str):
    """Run one available-now stream to completion.  Returns its data-bearing
    progress events, its wall time and the delay until its first progress
    event."""
    with tracer.span(name, counters=True) as t:
        q = start_stream(spark, cfg, available_now=True)
        t0 = time.perf_counter()
        while q.isActive and not q.recentProgress:
            time.sleep(0.01)
        first_progress = time.perf_counter() - t0
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    events = [p for p in q.recentProgress if p["numInputRows"] > 0]
    return events, t["s"], first_progress


def measure(spark, work: str, seed: int, tracer: Tracer) -> tuple[int, int, list[str], dict[str, float]]:
    """One stream round with a restart.  Returns (micro-batches attempted,
    micro-batches failed, problems, layer metrics)."""
    n_rows = N_TICKS * ROWS_PER_TICK
    seq = inputs.make_sequences(seed, n_rows)
    half = N_TICKS // 2
    base = os.path.join(work, "stream")
    cfg = StreamingConfig(
        input_dir=os.path.join(base, "in"),
        output_dir=os.path.join(base, "out"),
        checkpoint_dir=os.path.join(base, "checkpoint"),
    )
    try:
        inputs.write_ticks(seq, cfg.input_dir, N_TICKS, 0, half)
        first, wall1, _ = _drain(spark, cfg, tracer, "streaming.first_half")
        inputs.write_ticks(seq, cfg.input_dir, N_TICKS, half, N_TICKS)
        second, wall2, resume = _drain(spark, cfg, tracer, "streaming.resumed_half")
    except Exception as e:  # a failed round fails all its batches
        return N_TICKS, N_TICKS, [f"stream raised {type(e).__name__}: {e}"], {}

    events = first + second
    ticks = [
        gate.expected_from_parquet(os.path.join(cfg.input_dir, f"tick-{k:05d}.parquet"))
        for k in range(N_TICKS)
    ]
    found = gate.check_stream_output(cfg.output_dir, ticks)
    if len(events) != N_TICKS:
        found.setdefault(-1, []).append(f"{len(events)} micro-batches, expected {N_TICKS}")
    failed = N_TICKS if -1 in found else len(found)
    problems = [f"stream: {p}" for msgs in found.values() for p in msgs]

    layers = {
        "streaming.microbatch_p50_s": median(
            e["durationMs"]["triggerExecution"] / 1000 for e in events
        ),
        "streaming.seq_per_s": n_rows / (wall1 + wall2),
        "streaming.rows_per_batch": median(e["numInputRows"] for e in events),
        "streaming.resume_s": resume,
        "streaming.sink_bytes_per_seq": dir_bytes(cfg.output_dir) / n_rows,
    }
    for name, key in DURATIONS.items():
        layers[name] = median(e["durationMs"].get(key, 0) / 1000 for e in events)
    spans = tracer.named("streaming.first_half") + tracer.named("streaming.resumed_half")
    for unit in ("jobs", "stages", "tasks"):
        layers[f"streaming.{unit}_per_batch"] = sum(
            s.counters[f"spark.{unit}"] for s in spans
        ) / max(len(events), 1)
    return N_TICKS, failed, problems, layers
