"""Physical-plan assertions: the optimizations the engine claims must be
visible in the executed plan (the 100 TB story is checked here, not assumed).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from liatrio_otel_collector_spark.plans.pipeline import (
    PipelineConfig,
    build_pipeline,
    flagship_stage,
    write_batch,
)
from liatrio_otel_collector_spark.sources.sequences import sequences
from liatrio_otel_collector_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_enrich_join_is_broadcast_no_smj(spark):
    plan = _plan(build_pipeline(spark, 10_000)["metrics"])
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_parse_runs_on_arrow(spark):
    plan = _plan(build_pipeline(spark, 10_000)["logs"])
    assert "ArrowEvalPython" in plan or "EvalPython" in plan


def _jobs_of(spark, fn) -> set[int]:
    """The ids of the Spark jobs ``fn`` runs, read from the status store
    after its listener bus has drained."""
    sc = spark.sparkContext

    def ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    before = ids()
    fn()
    return ids() - before


def _flagship_batch(spark, out: str, batch_id: int):
    """One flagship batch of 2 000 generated rows, as a function to run."""
    src, cfg = sequences(spark, 2000), PipelineConfig(output_dir=out)

    def batch():
        write_batch(spark, [flagship_stage(spark, src, cfg, out, batch_id)], out, batch_id)

    return batch


def test_write_batch_job_budget(spark, tmp_path):
    """Per-batch fixed cost: one flagship batch runs at most 13 Spark jobs.
    No written output is read back: each rollup's manifest comes from values
    its own write observed, the stage read-back takes its schema from the
    staged frame, and the driver writes the manifests and the ``_metrics``
    row itself, with no Spark write job."""
    assert len(_jobs_of(spark, _flagship_batch(spark, str(tmp_path), 0))) <= 13


def test_write_batch_labels_every_job(spark, tmp_path):
    """Every Spark job of a flagship batch, the AQE stage jobs of its
    writes included, is described ``write_batch batch K: <layer>/<sink>``."""
    store = spark.sparkContext._jsc.sc().statusStore()

    def description(job: int) -> str:
        d = store.job(job).description()
        return d.get() if d.isDefined() else ""

    jobs = _jobs_of(spark, _flagship_batch(spark, str(tmp_path), 7))
    labels = {j: description(j) for j in jobs}
    assert jobs and all(d.startswith("write_batch batch 7: ") for d in labels.values()), labels
    layers = {d.split(": ", 1)[1].split("/", 1)[0] for d in labels.values()}
    assert layers == {"stage", "sink", "rollup", "lineage"}


def test_write_config_batch_job_budget(spark, tmp_path):
    """One config batch of one pipeline and one exporter runs at most 4
    Spark jobs: the stage write, the exporter write and the manifest pass's
    two; the driver writes the manifest and the ``_metrics`` row."""
    from liatrio_otel_collector_spark.confmap import (
        AssembleContext,
        config_stages,
        load_config,
    )

    cfg = load_config(
        """
receivers:
  sequences:
    n_rows: 500
exporters:
  file/out: {}
service:
  pipelines:
    seqs:
      receivers: [sequences]
      processors: []
      exporters: [file/out]
"""
    )
    out = str(tmp_path)

    def batch():
        stages = config_stages(spark, cfg, AssembleContext(), cfg.pipelines, out, 0)
        write_batch(spark, stages, out, 0)

    assert len(_jobs_of(spark, batch)) <= 4


def test_filter_pushdown_to_parquet(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.filter(F.col("l_shipdate") >= "1995-01-01").select("l_orderkey", "l_quantity")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_column_pruning_to_parquet(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    # ReadSchema must contain only the two needed columns
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_returnflag" in read and "l_quantity" in read
    assert "l_extendedprice" not in read and "l_comment" not in read


def test_wholestage_codegen_in_aggregate(spark):
    df = build_pipeline(spark, 10_000, PipelineConfig(use_udf_parse=False))["metrics"]
    df.collect()  # AQE finalizes the plan (and codegen spans) on execution
    plan = _plan(df)
    # '*(n)' prefixes mark whole-stage-codegen stages in the final plan
    assert "*(" in plan and "HashAggregate" in plan


def test_salted_repartition_present(spark):
    plan = _plan(build_pipeline(spark, 10_000)["metrics"])
    # the explicit salt expression appears in the exchange
    assert "xxhash64" in plan and "pmod" in plan


def test_broadcast_in_similarity_topk(spark):
    from liatrio_otel_collector_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, SF, "embeddings")
    plan = _plan(brute_force_topk(emb))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_spanmetrics_single_shuffle(spark):
    """cn2 must be ONE hash-aggregate pass (partial + final = one exchange):
    calls, sum, and every histogram bucket ride the same groupBy."""
    from liatrio_otel_collector_spark.plans.connectors import (
        spanmetrics_connector,
        spans_from_events,
    )

    spans = spans_from_events(load_table(spark, SF, "events"))
    plan = _plan(spanmetrics_connector(spans))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_actions_completed_gate_before_explode(spark):
    """The F4 completed filter must run BEFORE the step explode — dropped
    events must never pay the fan-out (generate sits above the filter)."""
    from liatrio_otel_collector_spark.plans.actions_traces import actions_job_spans

    raw = spark.createDataFrame([("x",)], "payload string")
    plan = _plan(actions_job_spans(raw))
    gen = plan.find("Generate posexplode")
    filt = plan.find(".workflow_job.status = completed", gen)
    # executedPlan prints top-down: the Generate (later stage) must appear
    # ABOVE a Filter carrying the completed gate (i.e. the gate is found
    # again BELOW the generate's offset)
    assert gen != -1 and filt != -1


def test_lsh_topk_no_cartesian(spark):
    """sim2's candidate join must be a broadcast hash join on the probe
    bucket — never a cartesian/BNL product (sim1 alone owns that baseline)."""
    from liatrio_otel_collector_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(lsh_topk(emb))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_sampler_whole_trace_consistency(spark):
    """Probabilistic sampling must keep or drop WHOLE traces (the decision
    is a pure function of trace_id); tail sampling must return complete
    traces that each contain >=1 error span."""
    from liatrio_otel_collector_spark.plans.samplers import (
        probabilistic_sample,
        tail_sample_errors,
    )

    spans = spark.createDataFrame(
        [(f"t{i % 10}", f"s{i}", 2 if i % 7 == 0 else 1) for i in range(100)],
        "trace_id string, span_id string, status_code int",
    )
    kept = probabilistic_sample(spans, percent=40.0)
    per_trace = kept.groupBy("trace_id").count().collect()
    full = {r["trace_id"]: r["count"] for r in spans.groupBy("trace_id").count().collect()}
    for r in per_trace:  # no partial traces
        assert r["count"] == full[r["trace_id"]]
    tails = tail_sample_errors(spans)
    by_trace = {
        r["trace_id"]: r for r in tails.groupBy("trace_id").agg(
            F.count(F.lit(1)).alias("n"), F.max("status_code").alias("mx")
        ).collect()
    }
    for t, r in by_trace.items():
        assert r["mx"] == 2 and r["n"] == full[t]


def test_interval_last_single_shuffle(spark):
    """iv1: bucket + row_number plan shuffles ONCE (hashpartitioning on the
    identity+interval window key) and never sort-merge-joins."""
    from liatrio_otel_collector_spark.plans.grouping import interval_last

    events = load_table(spark, SF, "events")
    df = interval_last(
        events, identity=("user_id", "event_type"), order_tiebreak="event_id"
    )
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan


def test_group_by_attrs_partial_aggregation(spark):
    """gb1: one hash-aggregate pair (partial map-side combine before the
    shuffle, final after) — a single Exchange, no sort."""
    from liatrio_otel_collector_spark.plans.grouping import group_by_attrs

    events = load_table(spark, SF, "events").withColumn(
        "k_attr",
        F.when(F.col("event_type") != "view",
               (F.regexp_extract("props", r'"k": (\d+)', 1).cast("bigint") % 10).cast("string")),
    )
    df = group_by_attrs(events, keys=["k_attr"], fallback_resource="event_type")
    plan = _plan(df)
    # merged_resource_count is a COUNT DISTINCT: Spark's two-phase distinct
    # aggregate is exactly 2 exchanges — (keys, distinct-col) partial dedup,
    # then keys — each preceded by a map-side partial HashAggregate. More
    # than 2 would mean the fallback CASE keys broke partial aggregation.
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("HashAggregate") >= 4
    assert "SortAggregate" not in plan


def test_contamination_scan_no_shuffle(spark):
    """dd6: the Aho-Corasick corpus pass is shuffle-free — scan, one Python
    stage, project; hits flow straight out of the mapInPandas kernel."""
    from liatrio_otel_collector_spark.operators.dedup import contamination_scan

    docs = load_table(spark, SF, "documents")
    plan = _plan(contamination_scan(docs))
    assert "Exchange hashpartitioning" not in plan.replace(
        "Exchange RoundRobinPartitioning", ""
    ), plan
    assert "MapInPandas" in plan


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Bucketing co-locates a repeated join: two tables bucketed on the join
    key join WITHOUT any exchange (the pre-partitioned-join lever the 100 TB
    plan relies on for fact-fact joins that recur across queries)."""
    import uuid

    # warehouse.dir is static per-JVM; managed tables land in the session
    # default and are DROPped (files removed) in the finally block
    a, b = f"ba_{uuid.uuid4().hex[:8]}", f"bb_{uuid.uuid4().hex[:8]}"
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    od = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    try:
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(a)
        od.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(b)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(a).join(
            spark.table(b), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = _plan(j)
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {a}")
        spark.sql(f"DROP TABLE IF EXISTS {b}")


def test_pl8_single_window_exchange(spark):
    """pl8 token packing: the pack assignment is ONE window over a
    source-partitioned exchange (no per-pack loop, no extra shuffle before
    the window) — the property that makes offset-bucket packing linear at
    100 TB."""
    from liatrio_otel_collector_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["pl8_token_packing"](spark, SF))
    assert plan.count("Window") >= 1, plan
    assert "hashpartitioning(source" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ts7_freq_join_not_nested_loop(spark):
    """ts7 rare-word stats: the word-frequency join must be a keyed join
    (broadcast-hash here, shuffle-hash at scale) — never a nested loop; and
    the plan must not force a broadcast hint (a Zipf vocabulary at 100 TB
    exceeds any broadcast budget, so the optimizer has to stay free to pick
    the shuffle strategy)."""
    from liatrio_otel_collector_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["ts7_rare_word_stats"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    assert "Join" in plan or "join" in plan


def test_pl10_count_join_is_broadcast(spark):
    """pl10 downsampling: the per-source count frame (one row per source)
    must broadcast back onto the corpus — a sort-merge join here would
    shuffle-sort the full documents table just to attach 20 thresholds —
    and the hash gate itself must stay a scan-side Filter, not a join."""
    from liatrio_otel_collector_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["pl10_source_downsample"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mm2_frame_grid_no_join(spark):
    """mm2 frame sampling: the per-video timestamp grid is a generated
    explode over carried columns — no join, no shuffle anywhere in the
    plan (the stubbed decode is row-local)."""
    from liatrio_otel_collector_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["mm2_frame_sample"](spark, SF))
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_emb1_quantization_is_map_only(spark):
    # int8 quantization must stay a pure projection: no Exchange, no
    # aggregation, no Python — parquet-scan speed at 100 TB
    from liatrio_otel_collector_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["emb1_int8_quant"](spark, SF))
    assert "Exchange" not in plan
    assert "HashAggregate" not in plan
    assert "Python" not in plan


def test_shared_explode_exchange_reuse(spark):
    # dd9/ts9/ts10 consume their exploded frame in two branches (frequency
    # + join-back); the pre-aggregated form must let AQE reuse the exchange
    # so the corpus is scanned and exploded exactly ONCE per query
    from liatrio_otel_collector_spark.entry_queries import QUERIES

    for name in ["dd9_dup_chunk_stats", "ts9_unigram_surprisal", "ts10_tfidf_topk"]:
        df = QUERIES[name](spark, SF)
        df.collect()  # AQE finalizes reuse at execution
        plan = _plan(df)
        assert "ReusedExchange" in plan, name


def test_no_cartesian_products_anywhere(spark):
    # sweeping invariant over the FULL registry: no plan may contain a
    # CartesianProduct, and BroadcastNestedLoopJoin is allowed only where
    # the build side is a 1-row aggregate (ts9/ts10 corpus totals) or a
    # labeled exact/assignment baseline (sim1 brute force, sim3/sim4 N x K
    # centroid assignment).  PLANS.md (scripts/plan_audit.py) is the
    # human-readable evidence behind this gate.
    from liatrio_otel_collector_spark.entry_queries import QUERIES

    bnlj_ok = {
        "sim1_brute_force_topk",
        "sim3_ivf_topk",
        "sim4_ivf_kmeans_topk",
        "ts9_unigram_surprisal",
        "ts10_tfidf_topk",
    }
    for name, fn in QUERIES.items():
        plan = _plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, name
        if name not in bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, name
