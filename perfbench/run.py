"""Entry point of the telemetry pipeline benchmark.

    python3 perfbench/run.py --workload batch_fanout --seed 1 --seconds 10 --trace 0

Runs one workload from the root of a checkout, checks its outputs, prints a
readable report and, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
Metric names, units and workloads are those of ``BENCHMARK.json``; see
``perfbench/README.md`` for what each one measures.

Exit status: 0 when every operation was correct, 1 when the correctness
gate failed, 2 when the benchmark could not run at all.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "liatrio_otel_collector_spark"
WORKLOADS = ("batch_fanout", "receiver_mix")

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "op_latency_s": "s",
    "memory_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric, in the order ``BENCHMARK.json`` lists them.
    A workload reports 0 for a layer it does not exercise."""
    from perfbench import batch_fanout, receiver_mix, stream_ticks
    from perfbench.harness import COUNTER_NAMES, MEMORY_NAMES

    units = {
        "session.start_s": "s",
        "session.first_job_s": "s",
        **batch_fanout.LAYER_UNITS,
        **stream_ticks.LAYER_UNITS,
        **receiver_mix.LAYER_UNITS,
    }
    for name in COUNTER_NAMES:
        units[name] = "s" if name.endswith("_s") else ("bytes" if name.endswith("_bytes") else "count")
    units.update(dict.fromkeys(MEMORY_NAMES, "MB"))
    units.update({"trace.overhead_s": "s", "trace.op_latency_s": "s"})
    return units


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import harness

    work = harness.prepare_environment(ROOT)
    from perfbench import batch_fanout, receiver_mix

    workload = {"batch_fanout": batch_fanout, "receiver_mix": receiver_mix}[args.workload]

    spark, times = harness.start_session(work)
    run_id = f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    tracer = harness.Tracer(spark, enabled=bool(args.trace), run_id=run_id)
    sampler = harness.MemorySampler(spark, with_jvm=bool(args.trace))
    try:
        outcome = workload.run(spark, work, args.seed, args.seconds, tracer, sampler)
    finally:
        harness.stop_session(spark)

    if args.trace:
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        values.update({"session.start_s": times.start_s, "session.first_job_s": times.first_job_s})
        values.update(outcome.per_layer)
        values.update(sampler.parts)
        tracer.write(os.path.join(ROOT, ".perfbench_out", f"spans-{run_id}.jsonl"))
    else:
        units = END_TO_END
        values = {"setup_s": times.setup_s, **outcome.end_to_end}
    unknown = set(values) - set(units)
    if unknown:
        raise RuntimeError(f"unregistered metrics: {sorted(unknown)}")

    correct = outcome.failed == 0 and not outcome.problems
    for p in outcome.problems[:20]:
        print(f"GATE FAIL {p}")
    error_rate = outcome.failed / outcome.attempted if outcome.attempted else 1.0
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print(f"  {'error_rate':<36} {error_rate:>16.6g} ratio  ({outcome.failed}/{outcome.attempted})")
    for name, unit in units.items():
        print(f"  {name:<36} {values[name]:>16.6g} {unit}")
    if not args.trace:
        print("  memory parts: " + ", ".join(f"{k} {v:.0f}" for k, v in sampler.parts.items()))
    if args.trace:
        print(f"  tracing overhead: {values['trace.overhead_s']:.3f} s spent reading counters "
              "inside the timed window; compare trace.op_latency_s with op_latency_s "
              "of an untraced run for the end-to-end difference")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(outcome.attempted, 1),
                "failed": outcome.failed,
                "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
            }
        )
    )
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        code = main(sys.argv[1:])
    except Exception:
        traceback.print_exc()
        code = 2
    finally:
        import shutil

        shutil.rmtree(os.path.join(ROOT, ".perfbench_work"), ignore_errors=True)
    sys.exit(code)
