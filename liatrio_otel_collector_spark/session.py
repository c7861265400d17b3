"""SparkSession factory with scale-oriented defaults.

The reference collector hand-tunes concurrency (bounded goroutine fan-out,
``github_scraper.go:105-127``) and batching (``config/manifest.yaml:33``
batch processor).  On Spark those responsibilities move to AQE + shuffle
partition sizing, configured once here so every entry point (tests, bench,
driver contract, spark-submit main) shares one tuned profile.

Designed for a 1000-executor cluster; the local[] master is only the sandbox
stand-in.  Nothing here is local-mode-specific except the master default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "liatrio-otel-collector-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's tuned defaults.

    - AQE on (runtime coalesce + skew-join splitting: the BASELINE-mandated
      "AQE-tuned shuffle for the enrich join").
    - Arrow on (the token-parse stage is a pandas UDF over Arrow batches).
    - UTC session tz (the reference pins/ignores timestamps in goldens;
      we pin the zone so oracle comparisons are deterministic).
    - shuffle partitions sized to parallelism (2x cores locally; on a real
      cluster AQE coalesces the initial 2x-cores value downward as needed).
    """
    cpus = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", 2 * cpus)), 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 8k-row Arrow batches: token arrays make rows wide, and big batches
        # (64k) cause multi-second first-batch stalls across 32 concurrent
        # Python workers (measured 5x slower cold); 8k keeps transfer + NumPy
        # working sets cache-friendly with no steady-state penalty.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # zstd halves staged/sink bytes vs snappy for token arrays — IO is
        # the scarce resource, not CPU
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    # Iceberg: when the runtime jar has been vendored into dist/ (see
    # scripts/fetch_iceberg_jar.sh — this sandbox has no network route, so
    # the fetch runs on a connected host), wire the jar + SQL extensions so
    # tests/test_iceberg.py's skips become passes without any spark-submit
    # flags.  Absent jar -> no-op, identical session.
    from pathlib import Path as _Path

    _dist = _Path(__file__).resolve().parent.parent / "dist"
    _ice = sorted(str(p) for p in _dist.glob("iceberg-spark-runtime-*.jar"))
    if _ice:
        b = b.config("spark.jars", ",".join(_ice)).config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def ship_package(spark: SparkSession) -> None:
    """Distribute this package to executors via addPyFile (zip built once).

    On a real cluster this is what ``spark-submit --py-files`` does; calling
    it makes any externally-created session (the driver harness hands us one)
    able to run our Python UDFs regardless of executor PYTHONPATH.
    """
    import hashlib
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent
    marker = "_liatrio_pkg_shipped"
    if spark.conf.get(f"spark.{marker}", None) == "1":
        return
    # content-hashed zip name: a cached zip from before a source edit must
    # never ship stale code, and concurrent users can't collide on the path
    files = sorted(pkg_dir.rglob("*.py"))
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(pkg_dir)).encode())
        h.update(f.read_bytes())
    zpath = (
        Path(tempfile.gettempdir())
        / f"liatrio_otel_collector_spark-{h.hexdigest()[:16]}.zip"
    )
    if not zpath.exists():
        with zipfile.ZipFile(zpath, "w") as z:
            for f in files:
                z.write(f, f"{pkg_dir.name}/{f.relative_to(pkg_dir)}")
    spark.sparkContext.addPyFile(str(zpath))
    spark.conf.set(f"spark.{marker}", "1")
