"""Workload ``receiver_mix``: a fixed list of receiver-domain queries over
seeded star-schema tables, in an order the seed permutes.

One closed-loop client runs the list once to warm up, then runs it again
for a fixed number of passes sized from the run's seconds (the JIT is still
warming between passes, so a count that depended on the clock would change
what a run measures).  A query's latency is its median over the passes.
An operation is one query: its DataFrame constructor from
``entry_queries.QUERIES`` plus ``collect``.  Every collected result is
compared with the query's DuckDB twin in ``entry_queries.ORACLES`` through
``oracle.compare``, after the timed passes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from liatrio_otel_collector_spark import oracle
from liatrio_otel_collector_spark.entry_queries import ORACLES, QUERIES

from . import gate, inputs
from .harness import COUNTER_NAMES, Outcome, Tracer, geomean, median

# pl1_parse_route_aggregate sizes its generated input from the name of the
# tables directory (sources.sequences.rows_for_sf) and its oracle is fixed
# at sf0.01, so the tables live in a directory named for this scale
SF = 0.01
MIX = (
    "a3_change_count",
    "a12_deployment_count",
    "s26_ado_spans",
    "s27_actions_job_spans",
    "cn2_spanmetrics",
    "u3_receiver_fan_in",
    "j1_broadcast_enrich_join",
    "pl1_parse_route_aggregate",
    "cm2_ottl_compiled_pipeline",
    "cm3_ottl_span_pipeline",
    "cm4_ottl_datapoint_pipeline",
    "gk1_grok_parse",
    "gk2_grok_apache_log",
    "x16_multi_format_timestamps",
    "w1_unique_step_names",
)
PHASES = ("mix.build_s", "mix.plan_s", "mix.exec_s")
LAYER_UNITS = {**{f"query.{q}_s": "s" for q in MIX}, **dict.fromkeys(PHASES, "s")}
# timed passes per 10 s of --seconds: a pass takes 10-16 s on the 4-core box
# the benchmark was sized on, but one sample per query is too few; a second
# warm-up pass would not fit the 3420 s a full measurement (48 runs) may take
PASSES_PER_10_S = 3


def _query(spark, tables: str, name: str, tracer: Tracer, span: str):
    """One operation.  Traced, the constructor, physical planning and
    execution are timed apart; untraced, only the whole call is."""
    with tracer.span(span, counters=span != "warmup") as t:
        if tracer.enabled:
            with tracer.span("mix.build_s"):
                df = QUERIES[name](spark, tables)
            with tracer.span("mix.plan_s"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("mix.exec_s"):
                rows = df.collect()
        else:
            df = QUERIES[name](spark, tables)
            rows = df.collect()
    return gate.Collected(df.columns, [tuple(r) for r in rows]), t["s"]


def run(spark, work: str, seed: int, seconds: float, tracer: Tracer, memory_sampler) -> Outcome:
    tables = os.path.join(work, f"sf{SF}")
    inputs.write_receiver_tables(seed, SF, tables)
    table_rows = sum(
        pq.ParquetFile(os.path.join(tables, f)).metadata.num_rows for f in os.listdir(tables)
    )
    order = [MIX[i] for i in np.random.default_rng(seed).permutation(len(MIX))]

    for name in order:
        _query(spark, tables, name, tracer, "warmup")

    memory_sampler.start()
    passes, problems, crashed = [], [], 0
    for _ in range(max(1, round(seconds * PASSES_PER_10_S / 10))):
        results = {}
        try:
            for name in order:
                results[name] = _query(spark, tables, name, tracer, f"query.{name}_s")
        except Exception as e:  # the failing query counts; the pass ends
            problems.append(f"pass {len(passes)} raised {type(e).__name__}: {e}")
            crashed += 1
            break
        passes.append(results)
    memory = memory_sampler.stop()
    overhead = tracer.overhead_s

    con = oracle.duckdb_connection(tables)
    failed = crashed
    for p, results in enumerate(passes):
        for name, (collected, _) in results.items():
            ok, msg = oracle.compare(collected, con, ORACLES[name])
            if not ok:
                failed += 1
                problems.append(f"pass {p} {name}: {msg}")

    per_query = {name: median(r[name][1] for r in passes) for name in MIX} if passes else {}
    pass_times = [sum(t for _, t in r.values()) for r in passes]
    e2e = {
        "rows_per_s": table_rows * len(passes) / sum(pass_times) if pass_times else 0.0,
        "op_latency_s": geomean(per_query.values()),
        "memory_mb": memory,
    }
    layers: dict[str, float] = {}
    if tracer.enabled and passes:
        layers.update({f"query.{n}_s": v for n, v in per_query.items()})
        n_passes = len(passes)
        for phase in PHASES:
            spans = [s for s in tracer.named(phase) if s.parent != "warmup"]
            layers[phase] = sum(s.seconds for s in spans) / n_passes
        totals = dict.fromkeys(COUNTER_NAMES, 0.0)
        for name in MIX:
            for k, v in tracer.counter_totals(f"query.{name}_s").items():
                totals[k] += v
        layers.update({k: v / (n_passes * len(MIX)) for k, v in totals.items()})
        layers["trace.overhead_s"] = overhead
        layers["trace.op_latency_s"] = e2e["op_latency_s"]
    return Outcome(len(MIX) * len(passes) + crashed, failed, problems, e2e, layers)
