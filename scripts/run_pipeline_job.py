"""spark-submit entry point for the telemetry pipeline.

Cluster usage (the north-rule packaging requirement):

    python scripts/package.py                       # -> dist/liatrio_otel_collector_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/liatrio_otel_collector_spark.zip \\
        scripts/run_pipeline_job.py \\
        --rows 1000000000 --output /data/sinks [--streaming --input DIR --checkpoint DIR]

Batch mode runs parse→enrich→route→aggregate once and writes all sinks +
lineage; streaming mode runs the checkpointed micro-batch job over a
file-stream input (resumable: re-submitting with the same --checkpoint
processes only unseen input).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# local-run convenience; on a cluster --py-files makes the package importable
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--rows", type=int, default=1_000_000)
    p.add_argument("--output", default=None,
                   help="sink dir; omit to write the sinks to a scratch dir that is "
                   "removed afterwards (throughput measurement)")
    p.add_argument("--streaming", action="store_true")
    p.add_argument("--input", help="input dir of sequence parquet (streaming mode)")
    p.add_argument("--checkpoint", help="checkpoint dir (streaming mode)")
    p.add_argument("--no-udf-parse", action="store_true", help="use the Catalyst-expr parse path")
    args = p.parse_args()

    from liatrio_otel_collector_spark.plans.pipeline import PipelineConfig, run_pipeline
    from liatrio_otel_collector_spark.session import get_spark

    spark = get_spark(app_name="liatrio-otel-pipeline")
    if args.streaming and not args.output:
        sys.exit("--streaming requires --output")
    cfg = PipelineConfig(output_dir=args.output, use_udf_parse=not args.no_udf_parse)

    if args.streaming:
        if not (args.input and args.checkpoint):
            sys.exit("--streaming requires --input and --checkpoint")
        from liatrio_otel_collector_spark.streaming import StreamingConfig, start_stream

        scfg = StreamingConfig(
            input_dir=args.input,
            output_dir=args.output,
            checkpoint_dir=args.checkpoint,
            pipeline=cfg,
        )
        q = start_stream(spark, scfg, available_now=True)
        q.awaitTermination()
        print(json.dumps({"mode": "streaming", "status": "drained"}))
    else:
        # throughput (no --output): one warmup + best-of-2 measured runs, the
        # same steady-state methodology as bench.py / scaling_bench.py
        if not args.output:
            run_pipeline(spark, args.rows, cfg)
            runs = []
            for _ in range(2):
                spark.sparkContext._jvm.System.gc()
                t0 = time.time()
                counts = run_pipeline(spark, args.rows, cfg)
                runs.append(time.time() - t0)
            dt = min(runs)
            print(json.dumps({
                "mode": "batch-throughput", "rows": args.rows,
                "sec": round(dt, 2), "runs_sec": [round(r, 2) for r in runs],
                "routed_sequences_per_sec": round(args.rows / dt, 1),
                "sink_counts": counts,
            }))
            spark.stop()
            return
        t0 = time.time()
        counts = run_pipeline(spark, args.rows, cfg)
        dt = time.time() - t0
        print(
            json.dumps(
                {
                    "mode": "batch",
                    "rows": args.rows,
                    "sec": round(dt, 2),
                    "routed_sequences_per_sec": round(args.rows / dt, 1),
                    "sink_counts": counts,
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
