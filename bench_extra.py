"""Extra measurement harness for optimization work (guide §1).

NOT the frozen bench: bench.py is the driver's timed artifact and stays
untouched.  This file exists so optimization evidence (per-query timings at
arbitrary SF, repeat counts, noop-sink isolation) can be produced without
editing the frozen methodology.  Usage:

    python bench_extra.py [--sf-dir D] [--queries a,b,c] [--reps N] [--noop]

Prints one JSON line: {"sf_dir": ..., "queries": {name: [sec, ...]}}.
Timing methodology per query matches bench.py exactly (System.gc() before
each leg, `.count()` action) unless --noop is given, which swaps the action
for a noop-sink write (materializes EVERY column — guide §1.4).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default="")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--noop", action="store_true")
    args = ap.parse_args()

    from liatrio_otel_collector_spark.entry_queries import QUERIES
    from liatrio_otel_collector_spark.session import get_spark

    if os.path.isdir("/dev/shm") and "SPARK_LOCAL_DIRS" not in os.environ:
        import tempfile

        os.environ["SPARK_LOCAL_DIRS"] = tempfile.mkdtemp(
            prefix="bench-extra-", dir="/dev/shm"
        )
        os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"]

    spark = get_spark(app_name="bench_extra")
    spark.sparkContext.setLogLevel("ERROR")

    names = [q for q in args.queries.split(",") if q] or list(QUERIES)

    def _gc() -> None:
        spark.sparkContext._jvm.System.gc()

    out: dict[str, list[float]] = {}
    for name in names:
        samples = []
        for _ in range(args.reps):
            _gc()
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            df = QUERIES[name](spark, args.sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            samples.append(round(time.time() - t0, 3))
        out[name] = samples
        print(f"# {name}: {samples}", file=sys.stderr)
    print(json.dumps({"sf_dir": args.sf_dir, "noop": args.noop, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
