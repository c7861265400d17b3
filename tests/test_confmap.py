"""Config-driven DAG assembly (VERDICT r2 item 4): the reference's own
config.yaml topology (config/config.yaml:117-136), re-expressed over the
Spark engine, must drive a full pipeline run; invalid configs must fail
validation the way the collector's strict unmarshal does
(receiver/githubreceiver/config.go:34-50, config_test.go)."""

from __future__ import annotations

import json

import pytest

from liatrio_otel_collector_spark.confmap import (
    AssembleContext,
    ConfigError,
    assemble,
    expand_env,
    load_config,
    run_config_pipelines,
)
from liatrio_otel_collector_spark.entry_queries import _ado_raw
from liatrio_otel_collector_spark.plans.ado_traces import ado_trace_pipeline
from liatrio_otel_collector_spark.plans.logs import log_pipeline
from liatrio_otel_collector_spark.sources.tables import load_tables

SF = "/root/testdata/sf0.001"

# config/config.yaml re-expressed: same component ids, same service wiring,
# the logs processors' OTTL programs verbatim (webhookevent uncommented so
# the logs pipeline has its declared receiver; otlphttp swapped for a file
# sink — no network in batch).
REFERENCE_TOPOLOGY = """
extensions:
  bearertokenauth/github:
    token: ${env:GH_PAT:-unused}

receivers:
  azuredevops:
    initial_delay: 10s
    collection_interval: 6000s
    scrapers:
      azuredevops:
        organization: ${env:ADO_ORG:-my-ado-org}
        project: proj
  gitlab:
    initial_delay: 10s
    collection_interval: 60s
    scrapers:
      gitlab:
        gitlab_org: ${env:GL_ORG:-my-gl-org}
  github:
    initial_delay: 10s
    collection_interval: 60s
    scrapers:
      scraper:
        github_org: ${env:GH_ORG:-my-gh-org}
  webhookevent: {}

processors:
  transform/body:
    error_mode: ignore
    log_statements: ['set(log.body, ParseJSON(log.body)) where log.body != nil']
  filter/gitlabpipelineevents:
    error_mode: ignore
    logs:
      log_record:
        - not IsMatch(body["object_kind"], "pipeline")
  transform/gitlabpipelineevents:
    log_statements:
      - context: log
        statements:
          - keep_keys(log.body, ["object_kind", "project", "object_attributes"])
          - keep_keys(log.body["project"], ["id", "name", "namespace", "path_with_namespace", "web_url"]) where log.body["project"] != nil
          - keep_keys(log.body["object_attributes"], ["id", "ref", "sha", "url", "status"]) where log.body["object_attributes"] != nil
          - set(log.attributes["event.name"], Concat(["pipeline", log.body["project"]["id"], log.body["object_attributes"]["id"]], "_")) where log.body["project"]["id"] != nil and log.body["object_attributes"]["id"] != nil
          - set(log.attributes["vcs.repository.owner"], log.body["project"]["namespace"]) where log.body["project"]["namespace"] != nil
          - set(log.attributes["vcs.repository.url.full"], log.body["project"]["web_url"]) where log.body["project"]["web_url"] != nil
          - set(log.attributes["vcs.ref.head.name"], log.body["object_attributes"]["ref"]) where log.body["object_attributes"]["ref"] != nil
          - set(log.attributes["vcs.ref.head.revision"], log.body["object_attributes"]["sha"]) where log.body["object_attributes"]["sha"] != nil
          - set(log.attributes["vcs.repository.name"], log.body["project"]["path_with_namespace"]) where log.body["project"]["path_with_namespace"] != nil
          - set(log.attributes["vcs.repository.id"], Concat(["", log.body["project"]["id"]], "")) where log.body["project"]["id"] != nil
          - set(resource.attributes["service.namespace"], "gitlab")
          - set(resource.attributes["service.name"], log.body["project"]["name"]) where log.body["project"]["name"] != nil
  gitlab: {}

exporters:
  debug: {}
  otlphttp/openobserve: {}

service:
  extensions: [bearertokenauth/github]
  pipelines:
    metrics:
      receivers: [azuredevops, github, gitlab]
      processors: []
      exporters: [debug, otlphttp/openobserve]
    logs:
      receivers: [webhookevent]
      processors:
        - transform/body
        - filter/gitlabpipelineevents
        - transform/gitlabpipelineevents
        - gitlab
      exporters: [debug]
    traces:
      receivers: [azuredevops]
      processors: []
      exporters: [debug]
"""


def _pipeline_body(kind="pipeline"):
    return json.dumps(
        {
            "object_kind": kind,
            "project": {
                "id": 42,
                "name": "My Project",
                "namespace": "my-group",
                "path_with_namespace": "my-group/my-project",
                "web_url": "https://gitlab.com/my-group/my-project",
            },
            "object_attributes": {
                "id": 1001,
                "ref": "main",
                "sha": "abc123",
                "url": "u",
                "status": "success",
            },
        }
    )


def _ctx(spark, tmp_path=None):
    raw_logs = spark.createDataFrame(
        [(1, _pipeline_body("pipeline")), (2, _pipeline_body("push")), (3, None)],
        "ts long, body_raw string",
    )
    dim = spark.createDataFrame(
        [("my-group/my-project", "abc123", {"comps/test": "2.0.0"})],
        "repo_name string, revision string, components map<string,string>",
    )
    # the azuredevops receiver's webhook payloads, for the traces pipeline
    ado_raw = _ado_raw(load_tables(spark, SF)["events"])
    return AssembleContext(
        sf_dir=SF,
        frames={"webhookevent": raw_logs, "azuredevops": ado_raw},
        components_dim=dim,
        output_dir=str(tmp_path) if tmp_path is not None else None,
    ), raw_logs, dim


def test_reference_topology_runs(spark, tmp_path):
    cfg = load_config(REFERENCE_TOPOLOGY)
    assert set(cfg.pipelines) == {"metrics", "logs", "traces"}
    ctx, raw_logs, dim = _ctx(spark, tmp_path)
    counts = run_config_pipelines(spark, cfg, ctx)

    # logs pipeline == the hand-wired log_pipeline plan
    expected_logs = log_pipeline(raw_logs, dim).count()
    assert counts["logs"]["debug"] == expected_logs == 1

    # metrics pipeline = 3-receiver fan-in; both exporters saw the same rows
    assert counts["metrics"]["debug"] == counts["metrics"]["otlphttp/openobserve"] > 0

    # traces pipeline = the single ado receiver's frame: its webhook
    # payloads as spans, not the scrape
    assembled = assemble(spark, cfg, ctx)
    assert counts["traces"]["debug"] == assembled["traces"].count() > 0
    want_spans = ado_trace_pipeline(ctx.frames["azuredevops"])
    assert counts["traces"]["debug"] == want_spans.count()
    spans = assembled["traces"].select("trace_id", "span_id").collect()
    assert all(r["trace_id"] and r["span_id"] for r in spans)
    assert sorted(map(tuple, spans)) == sorted(
        map(tuple, want_spans.select("trace_id", "span_id").collect())
    )

    # fan-in really is the sum of the per-receiver snapshots
    per_receiver = sum(
        assemble(
            spark,
            load_config(
                REFERENCE_TOPOLOGY.replace(
                    "receivers: [azuredevops, github, gitlab]", f"receivers: [{r}]"
                )
            ),
            ctx,
        )["metrics"].count()
        for r in ("azuredevops", "github", "gitlab")
    )
    assert counts["metrics"]["debug"] == per_receiver

    # file-style exporter wrote a readable sink
    written = spark.read.parquet(str(tmp_path / "metrics" / "otlphttp_openobserve"))
    assert written.count() == counts["metrics"]["debug"]


def test_azuredevops_traces_needs_webhook_frame(spark):
    """In a traces pipeline the azuredevops receiver reads its injected
    webhook payloads, not the scrape; without them assembly refuses."""
    cfg = load_config(
        """
receivers:
  azuredevops: {}
exporters:
  debug: {}
service:
  pipelines:
    traces:
      receivers: [azuredevops]
      processors: []
      exporters: [debug]
"""
    )
    with pytest.raises(ConfigError, match="webhook frame"):
        assemble(spark, cfg, AssembleContext(sf_dir=SF))


@pytest.mark.parametrize(
    "rtype, scraper", [("github", "scraper"), ("gitlab", "gitlab"), ("azuredevops", "azuredevops")]
)
def test_null_scrapers_read_as_absent(spark, rtype, scraper):
    """A scraper receiver whose `scrapers:` (or scraper) is null assembles
    like one that leaves it out: the org falls back to its default."""
    cfg = load_config(
        f"""
receivers:
  {rtype}:
    scrapers:
  {rtype}/named:
    scrapers:
      {scraper}:
exporters:
  debug: {{}}
service:
  pipelines:
    metrics:
      receivers: [{rtype}, {rtype}/named]
      processors: []
      exporters: [debug]
"""
    )
    assert cfg.receivers[rtype]["scrapers"] == {}
    df = assemble(spark, cfg, AssembleContext(sf_dir=SF))["metrics"]
    orgs = {r[0] for r in df.select(df["resource"]["organization.name"]).distinct().collect()}
    assert orgs == {"org"}


def test_groupbyattrs_needs_fallback(spark):
    cfg = load_config(
        """
receivers:
  webhookevent: {}
processors:
  groupbyattrs:
    keys: [k]
exporters:
  debug: {}
service:
  pipelines:
    logs:
      receivers: [webhookevent]
      processors: [groupbyattrs]
      exporters: [debug]
"""
    )
    frame = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ConfigError, match="groupbyattrs.*fallback"):
        assemble(spark, cfg, AssembleContext(frames={"webhookevent": frame}))


def test_logs_pipeline_output_matches_direct_plan(spark):
    cfg = load_config(REFERENCE_TOPOLOGY)
    ctx, raw_logs, dim = _ctx(spark)
    got = assemble(spark, cfg, ctx)["logs"].collect()
    want = log_pipeline(raw_logs, dim).collect()
    assert [r["attrs"] for r in got] == [r["attrs"] for r in want]
    assert got[0]["attrs"]["component.comps/test.version"] == "2.0.0"


def test_env_expansion():
    env = {"GH_ORG": "liatrio"}
    assert expand_env("${env:GH_ORG}", env) == "liatrio"
    assert expand_env("${env:MISSING:-fallback}", env) == "fallback"
    assert expand_env({"a": ["${env:GH_ORG}"]}, env) == {"a": ["liatrio"]}
    with pytest.raises(ConfigError, match="MISSING"):
        expand_env("${env:MISSING}", env)
    cfg = load_config(REFERENCE_TOPOLOGY, env={"GH_ORG": "liatrio"})
    assert cfg.receivers["github"]["scrapers"]["scraper"]["github_org"] == "liatrio"


@pytest.mark.parametrize(
    "mutation, match",
    [
        # config_test.go analog: unknown key inside a receiver is rejected
        (("  github:\n", "  github:\n    bogus_key: 1\n"), "unknown key"),
        # config.go:34-50: scrapers map key must name a defined scraper
        (("    scrapers:\n      scraper:\n", "    scrapers:\n      notascraper:\n"), "unknown scraper"),
        # undeclared component referenced from a pipeline
        (("receivers: [webhookevent]", "receivers: [nosuchreceiver]"), "undeclared receiver"),
        # unknown component type entirely
        (("  webhookevent: {}", "  kafkametrics: {}"), "unknown receiver type"),
        # pipeline without exporters
        (("      exporters: [debug]\n", "      exporters: []\n"), ">=1 receiver and >=1 exporter"),
    ],
)
def test_invalid_configs_fail_validation(mutation, match):
    old, new = mutation
    bad = REFERENCE_TOPOLOGY.replace(old, new, 1)
    assert bad != REFERENCE_TOPOLOGY
    with pytest.raises(ConfigError, match=match):
        load_config(bad)


def test_unknown_top_level_section_fails():
    with pytest.raises(ConfigError, match="unknown top-level"):
        load_config(REFERENCE_TOPOLOGY + "\nnot_a_section: {}\n")


def test_generic_where_and_set_processors(spark):
    """The generic OTTL-analog clauses compile to Catalyst expressions."""
    cfg = load_config(
        """
receivers:
  sequences:
    n_rows: 200
processors:
  filter/sev:
    where: "n_tok > 10"
  transform/flag:
    set:
      is_long: "n_tok > 50"
  attributes/stamp:
    insert:
      collector_name: liatrio-otel-spark
exporters:
  debug: {}
service:
  pipelines:
    seqs:
      receivers: [sequences]
      processors: [filter/sev, transform/flag, attributes/stamp]
      exporters: [debug]
"""
    )
    df = assemble(spark, cfg, AssembleContext())["seqs"]
    assert df.filter("n_tok <= 10").count() == 0
    assert {"is_long", "collector_name"} <= set(df.columns)
    assert df.select("collector_name").distinct().collect()[0][0] == "liatrio-otel-spark"


FLAGSHIP_TOPOLOGY = """
receivers:
  sequences:
    n_rows: 5000
processors:
  parse_tokens: {}
  enrich: {}
  filter/logs:
    where: "severity IN ('warn','error','fatal')"
  filter/traces:
    where: "scope IN ('scope-0','scope-1','scope-2') AND source <> 'webhook'"
  trace_ids: {}
  rollup/metrics:
    group_by: [source, severity]
exporters:
  debug: {}
service:
  pipelines:
    logs:
      receivers: [sequences]
      processors: [parse_tokens, enrich, filter/logs]
      exporters: [debug]
    traces:
      receivers: [sequences]
      processors: [parse_tokens, enrich, filter/traces, trace_ids]
      exporters: [debug]
    metrics:
      receivers: [sequences]
      processors: [parse_tokens, enrich, rollup/metrics]
      exporters: [debug]
"""


def test_flagship_topology_from_yaml(spark):
    """The north-star parse->enrich->route->aggregate DAG declared in YAML
    produces exactly the hand-wired build_pipeline sinks (row counts on the
    row sinks, value-exact datapoints on the metrics rollup)."""
    from liatrio_otel_collector_spark.plans.pipeline import PipelineConfig, build_pipeline

    cfg = load_config(FLAGSHIP_TOPOLOGY)
    got = assemble(spark, cfg, AssembleContext())
    want = build_pipeline(spark, 5000, PipelineConfig())

    assert got["logs"].count() == want["logs"].count() > 0
    assert got["traces"].count() == want["traces"].count() > 0
    # trace ids identical, not just counted: same deterministic kernel
    g = {r["doc_id"]: r["trace_id"] for r in got["traces"].select("doc_id", "trace_id").collect()}
    w = {r["doc_id"]: r["trace_id"] for r in want["traces"].select("doc_id", "trace_id").collect()}
    assert g == w
    gm = sorted(map(tuple, got["metrics"].collect()))
    wm = sorted(map(tuple, want["metrics"].collect()))
    assert gm == wm


def test_connector_bridges_pipelines(spark):
    """Collector connector semantics: spanmetrics is an EXPORTER of the
    traces pipeline and a RECEIVER of the metrics pipeline; the bridged
    frame equals calling the connector on the traces output directly."""
    from liatrio_otel_collector_spark.plans.connectors import (
        spanmetrics_connector,
        spans_from_events,
    )
    from liatrio_otel_collector_spark.sources.tables import load_table

    cfg = load_config(
        """
receivers:
  webhookevent: {}
connectors:
  spanmetrics: {}
exporters:
  debug: {}
service:
  pipelines:
    traces:
      receivers: [webhookevent]
      processors: []
      exporters: [debug, spanmetrics]
    metrics:
      receivers: [spanmetrics]
      processors: []
      exporters: [debug]
"""
    )
    spans = spans_from_events(load_table(spark, SF, "events"))
    built = assemble(spark, cfg, AssembleContext(frames={"webhookevent": spans}))
    got = sorted(map(tuple, built["metrics"].collect()))
    want = sorted(map(tuple, spanmetrics_connector(spans).collect()))
    assert got == want and len(got) > 0


def test_connector_cycle_rejected(spark):
    cfg = load_config(
        """
connectors:
  count: {}
exporters:
  debug: {}
service:
  pipelines:
    loopy:
      receivers: [count]
      processors: []
      exporters: [count]
"""
    )
    with pytest.raises(ConfigError, match="cycle"):
        assemble(spark, cfg, AssembleContext())


def test_undeclared_connector_reference_fails():
    with pytest.raises(ConfigError, match="undeclared"):
        load_config(
            """
receivers:
  sequences: {}
exporters:
  debug: {}
service:
  pipelines:
    p:
      receivers: [sequences]
      processors: []
      exporters: [spanmetrics]
"""
        )


def test_file_exporter_honors_configured_path(spark, tmp_path):
    cfg = load_config(
        f"""
receivers:
  sequences:
    n_rows: 100
exporters:
  file/out:
    path: {tmp_path / "explicit"}
service:
  pipelines:
    seqs:
      receivers: [sequences]
      processors: []
      exporters: [file/out]
"""
    )
    counts = run_config_pipelines(spark, cfg, AssembleContext())
    assert counts["seqs"]["file/out"] == 100
    assert spark.read.parquet(str(tmp_path / "explicit" / "seqs")).count() == 100


SEQS_TO_FILE = """
receivers:
  sequences:
    n_rows: 100
exporters:
  file/out: {}
service:
  pipelines:
    seqs:
      receivers: [sequences]
      processors: []
      exporters: [file/out]
"""


def _config_batch(spark, cfg, out: str, batch_id: int) -> dict[str, int]:
    """One config batch of every pipeline through the one batch writer."""
    from liatrio_otel_collector_spark.confmap import config_stages
    from liatrio_otel_collector_spark.plans.pipeline import write_batch

    stages = config_stages(spark, cfg, AssembleContext(), cfg.pipelines, out, batch_id)
    return write_batch(spark, stages, out, batch_id)


def test_config_metrics_row_round_trips(spark, tmp_path):
    """The config batch's ``_metrics`` row reads back with its column names,
    types and values."""
    cfg = load_config(SEQS_TO_FILE)
    _config_batch(spark, cfg, str(tmp_path), 4)
    m = spark.read.parquet(str(tmp_path / "_metrics" / "batch_id=4"))
    assert [(f.name, f.dataType.simpleString()) for f in m.schema.fields] == [
        ("input_rows", "bigint"),
        ("sink_rows", "map<string,bigint>"),
        ("process_sec", "double"),
        ("rows_per_sec", "double"),
        ("processed_at", "timestamp"),
    ]
    (r,) = m.collect()
    assert r["input_rows"] == 100 and r["sink_rows"] == {"seqs": 100}
    assert r["process_sec"] > 0
    assert r["rows_per_sec"] == pytest.approx(100 / r["process_sec"])
    assert r["processed_at"] is not None


def test_flagship_and_config_metrics_share_one_schema(spark, tmp_path):
    """A flagship batch and a config batch write ``_metrics`` rows of one
    schema: the same writer writes both."""
    from liatrio_otel_collector_spark.plans.pipeline import PipelineConfig, run_pipeline

    flag, conf = str(tmp_path / "flagship"), str(tmp_path / "config")
    counts = run_pipeline(spark, 500, PipelineConfig(output_dir=flag), batch_id=1)
    _config_batch(spark, load_config(SEQS_TO_FILE), conf, 1)
    a = spark.read.parquet(f"{flag}/_metrics/batch_id=1")
    b = spark.read.parquet(f"{conf}/_metrics/batch_id=1")
    assert a.schema == b.schema
    ra, rb = a.first(), b.first()
    assert (ra["input_rows"], rb["input_rows"]) == (500, 100)
    assert ra["sink_rows"] == counts | {"_input": 500}
    assert rb["sink_rows"] == {"seqs": 100}


def test_connector_merges_multiple_producers(spark):
    """Two pipelines exporting into the SAME connector must both feed the
    consumer — the collector merges every producer's stream into the
    connector; last-writer-wins would silently drop one side (advice r3).
    The bridged count must equal the connector applied to the union."""
    from liatrio_otel_collector_spark.plans.connectors import (
        count_connector,
        spans_from_events,
    )
    from liatrio_otel_collector_spark.operators.setops import fan_in
    from liatrio_otel_collector_spark.sources.tables import load_table

    cfg = load_config(
        """
receivers:
  webhookevent: {}
  webhookevent/b: {}
connectors:
  count: {}
exporters:
  debug: {}
service:
  pipelines:
    traces/a:
      receivers: [webhookevent]
      processors: []
      exporters: [count]
    traces/b:
      receivers: [webhookevent/b]
      processors: []
      exporters: [count]
    metrics:
      receivers: [count]
      processors: []
      exporters: [debug]
"""
    )
    events = load_table(spark, SF, "events")
    spans_a = spans_from_events(events.filter("event_id % 2 = 0"))
    spans_b = spans_from_events(events.filter("event_id % 2 = 1"))
    built = assemble(
        spark,
        cfg,
        AssembleContext(frames={"webhookevent": spans_a, "webhookevent/b": spans_b}),
    )
    got = sorted(map(tuple, built["metrics"].collect()))
    want = sorted(map(tuple, count_connector(fan_in(spans_a, spans_b)).collect()))
    assert got == want and len(got) > 0


def test_config_driven_streaming(spark, tmp_path):
    """start_config_stream: the YAML topology runs CONTINUOUSLY — each
    micro-batch re-assembles the declared pipelines with the batch frame
    injected as the push receiver; sinks accumulate across batches and a
    resumed run (same checkpoint) processes only unseen input.  A static
    pipeline in the same config is NOT re-materialized per batch."""
    import os as _os
    import time as _time

    from liatrio_otel_collector_spark.confmap import start_config_stream

    yaml_text = """
receivers:
  webhookevent: {}
  sequences:
    n_rows: 100
processors:
  parse_tokens: {}
  filter/logs:
    where: "severity IN ('warn','error','fatal')"
  rollup/static:
    group_by: [source]
exporters:
  file: {}
service:
  pipelines:
    logs:
      receivers: [webhookevent]
      processors: [parse_tokens, filter/logs]
      exporters: [file]
    static:
      receivers: [sequences]
      processors: [parse_tokens, rollup/static]
      exporters: [file]
"""
    cfg = load_config(yaml_text)
    indir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _os.makedirs(indir)
    from liatrio_otel_collector_spark.sources.sequences import sequences

    seq_schema = "doc_id string, tokens array<int>, n_tok int, source string, id bigint"
    sequences(spark, 1000).coalesce(1).write.parquet(_os.path.join(indir, "b0"))
    _time.sleep(1.1)
    stream = (
        spark.readStream.schema(seq_schema).option("maxFilesPerTrigger", 1).parquet(indir + "/*")
    )
    ctx = AssembleContext(output_dir=out)
    q = start_config_stream(spark, cfg, ctx, "webhookevent", stream, ckpt)
    assert q.awaitTermination(120)

    logs = spark.read.parquet(_os.path.join(out, "logs", "file"))
    n1 = logs.count()
    assert n1 > 0
    # the static (non-streamed) pipeline was not written by the stream run
    assert not _os.path.exists(_os.path.join(out, "static"))

    # resume: a second input file, same checkpoint -> only the new rows land
    spark.createDataFrame(
        [("extra-1", [1, 2, 3], 3, "github", 99991)], seq_schema
    ).coalesce(1).write.parquet(_os.path.join(indir, "b1"))
    stream2 = (
        spark.readStream.schema(seq_schema).option("maxFilesPerTrigger", 1).parquet(indir + "/*")
    )
    q2 = start_config_stream(spark, cfg, ctx, "webhookevent", stream2, ckpt)
    assert q2.awaitTermination(120)
    logs2 = spark.read.parquet(_os.path.join(out, "logs", "file"))
    n2 = logs2.count()
    assert n2 - n1 in (0, 1)  # the one extra row, if its severity routes to logs
    # batch twin equality on the first batch's rows: same filter, same parse
    from pyspark.sql import functions as F
    from liatrio_otel_collector_spark.plans.pipeline import parse_stage

    want = (
        parse_stage(sequences(spark, 1000))
        .filter(F.expr("severity IN ('warn','error','fatal')"))
        .count()
    )
    assert n1 == want
    # batch ids recorded on every sink row
    assert set(r["batch_id"] for r in logs2.select("batch_id").distinct().collect()) <= {0, 1}
    # self-observability: lineage manifests cover every routed row, and the
    # _metrics table carries one row per batch (same contract as the
    # flagship streaming job)
    lineage = spark.read.parquet(_os.path.join(out, "_lineage", "logs"))
    assert lineage.agg(F.sum("row_count")).first()[0] == n2
    metrics = spark.read.parquet(_os.path.join(out, "_metrics"))
    assert metrics.count() >= 1
    assert metrics.agg(F.sum("input_rows")).first()[0] >= n2


def test_config_stream_replay_replaces_its_batch(spark, tmp_path):
    """A micro-batch replayed after a crash before its checkpoint commit
    (commits/0 gone, sinks already written) must replace its output, not
    append a second copy: one batch_id=0 dir per exporter, one batch's rows
    in it and in the pipeline's lineage, and one _metrics row.  The stream also honours a file
    exporter's configured ``path:``."""
    import os as _os

    from pyspark.sql import functions as F

    from liatrio_otel_collector_spark.confmap import start_config_stream
    from liatrio_otel_collector_spark.plans.pipeline import parse_stage
    from liatrio_otel_collector_spark.sources.sequences import sequences

    explicit = tmp_path / "explicit"
    cfg = load_config(
        f"""
receivers:
  webhookevent: {{}}
processors:
  parse_tokens: {{}}
  filter/logs:
    where: "severity IN ('warn','error','fatal')"
exporters:
  file: {{}}
  file/explicit:
    path: {explicit}
service:
  pipelines:
    logs:
      receivers: [webhookevent]
      processors: [parse_tokens, filter/logs]
      exporters: [file]
    raw:
      receivers: [webhookevent]
      processors: []
      exporters: [file/explicit]
"""
    )
    indir, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    seq_schema = "doc_id string, tokens array<int>, n_tok int, source string, id bigint"
    sequences(spark, 1000).coalesce(1).write.parquet(_os.path.join(indir, "b0"))
    ctx = AssembleContext(output_dir=out)

    def run_once():
        stream = spark.readStream.schema(seq_schema).parquet(indir + "/*")
        assert start_config_stream(
            spark, cfg, ctx, "webhookevent", stream, ckpt
        ).awaitTermination(120)

    run_once()
    # crash after the sink writes, before the commit: batch 0 replays
    for f in ("0", ".0.crc"):
        _os.remove(_os.path.join(ckpt, "commits", f))
    run_once()

    want_logs = (
        parse_stage(sequences(spark, 1000))
        .filter(F.expr("severity IN ('warn','error','fatal')"))
        .count()
    )
    for sink, lineage, want in (
        (_os.path.join(out, "logs", "file"), "logs", want_logs),
        (str(explicit / "raw"), "raw", 1000),
    ):
        assert spark.read.parquet(sink).count() == want
        manifest = spark.read.parquet(_os.path.join(out, "_lineage", lineage))
        assert manifest.agg(F.sum("row_count")).first()[0] == want
        assert sorted(d for d in _os.listdir(sink) if d.startswith("batch_id=")) == [
            "batch_id=0"
        ]
    # the configured path replaces the default <output_dir>/<pipeline>/<id> dir
    assert not _os.path.exists(_os.path.join(out, "raw"))
    metrics = spark.read.parquet(_os.path.join(out, "_metrics"))
    assert [(r["batch_id"], r["input_rows"]) for r in metrics.collect()] == [
        (0, want_logs + 1000)
    ]


def test_config_stream_builds_only_its_pipelines(spark, tmp_path):
    """A micro-batch assembles only the pipelines downstream of the
    streaming receiver: a ``traces`` pipeline whose azuredevops receiver
    has no webhook frame is neither built nor written, and the ``logs``
    pipeline is."""
    from liatrio_otel_collector_spark.confmap import start_config_stream
    from liatrio_otel_collector_spark.sources.sequences import sequences

    cfg = load_config(
        """
receivers:
  webhookevent: {}
  azuredevops: {}
exporters:
  file: {}
service:
  pipelines:
    logs:
      receivers: [webhookevent]
      processors: []
      exporters: [file]
    traces:
      receivers: [azuredevops]
      processors: []
      exporters: [file]
"""
    )
    indir, out = tmp_path / "in", tmp_path / "out"
    seq_schema = "doc_id string, tokens array<int>, n_tok int, source string, id bigint"
    sequences(spark, 300).coalesce(1).write.parquet(str(indir / "b0"))
    stream = spark.readStream.schema(seq_schema).parquet(f"{indir}/*")
    ctx = AssembleContext(output_dir=str(out))
    q = start_config_stream(spark, cfg, ctx, "webhookevent", stream, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    assert spark.read.parquet(str(out / "logs" / "file")).count() == 300
    assert spark.read.parquet(str(out / "_lineage" / "logs")).count() >= 1
    assert not (out / "traces").exists()
    assert not (out / "_lineage" / "traces").exists()


@pytest.mark.parametrize(
    "pipelines",
    [
        # the processor directly after the streaming receiver
        """
    traces:
      receivers: [webhookevent]
      processors: [groupbytrace]
      exporters: [file]
""",
        # behind a connector bridge
        """
    traces:
      receivers: [webhookevent]
      processors: []
      exporters: [count]
    metrics:
      receivers: [count]
      processors: [interval]
      exporters: [file]
""",
    ],
)
def test_config_stream_refuses_cross_batch_processors(spark, tmp_path, pipelines):
    """groupbytrace and interval keep state across batches, and a config
    stream runs their batch twins on one micro-batch at a time: a trace with
    spans in two micro-batches would land as two partial rows.  The stream
    refuses them anywhere downstream of its receiver."""
    from liatrio_otel_collector_spark.confmap import start_config_stream

    cfg = load_config(
        """
receivers:
  webhookevent: {}
processors:
  groupbytrace: {}
  interval: {}
connectors:
  count: {}
exporters:
  file: {}
service:
  pipelines:"""
        + pipelines
    )
    indir = tmp_path / "in"
    spark.createDataFrame(
        [("T", "s1"), ("T", "s2")], "trace_id string, span_id string"
    ).write.parquet(str(indir / "b0"))
    stream = spark.readStream.schema("trace_id string, span_id string").parquet(f"{indir}/*")
    ctx = AssembleContext(output_dir=str(tmp_path / "out"))
    with pytest.raises(ConfigError, match="across micro-batches"):
        start_config_stream(spark, cfg, ctx, "webhookevent", stream, str(tmp_path / "ckpt"))


def test_duplicate_pipeline_refs_rejected():
    """A duplicated connector exporter would feed the connector the same
    frame twice and silently double every downstream count (review finding
    r4) — duplicates in any pipeline component list are config errors."""
    with pytest.raises(ConfigError, match="duplicate exporters"):
        load_config(
            """
receivers:
  webhookevent: {}
connectors:
  count: {}
exporters:
  debug: {}
service:
  pipelines:
    traces:
      receivers: [webhookevent]
      processors: []
      exporters: [count, count, debug]
    metrics:
      receivers: [count]
      processors: []
      exporters: [debug]
"""
        )


def test_file_receiver(spark, tmp_path):
    """file receiver: a columnar table path is the batch-mode socket; the
    declared pipeline reads it like any other receiver."""
    import os as _os

    p = str(tmp_path / "events_in")
    spark.createDataFrame(
        [("d1", 3, "github"), ("d2", 5, "gitlab")], "doc_id string, n_tok int, source string"
    ).write.parquet(p)
    cfg = load_config(
        f"""
receivers:
  file/in:
    path: {p}
processors: {{}}
exporters:
  debug: {{}}
service:
  pipelines:
    logs:
      receivers: [file/in]
      processors: []
      exporters: [debug]
"""
    )
    built = assemble(spark, cfg, AssembleContext())
    assert built["logs"].count() == 2
    assert set(built["logs"].columns) == {"doc_id", "n_tok", "source"}
