"""Generic OTTL frontend (ottl.py): the reference's ACTUAL transform/filter
statements (/root/reference/config/config.yaml:80-108), loaded from YAML —
not the named analogs — must compile to Catalyst and reproduce the
plans/logs.py output bit-for-bit."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from liatrio_otel_collector_spark import ottl
from liatrio_otel_collector_spark.confmap import (
    AssembleContext,
    ConfigError,
    assemble,
    load_config,
)

# the reference statements, verbatim modulo YAML re-flowing (config.yaml:80-108)
REFERENCE_OTTL_YAML = """
receivers:
  webhookevent: {}
processors:
  transform/body:
    error_mode: ignore
    log_statements: ['set(log.body, ParseJSON(log.body)) where log.body != nil']
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
  filter/gitlabpipelineevents:
    error_mode: ignore
    logs:
      log_record:
        - not IsMatch(body["object_kind"], "pipeline")
exporters:
  debug: {}
service:
  pipelines:
    logs:
      receivers: [webhookevent]
      processors: [transform/body, filter/gitlabpipelineevents, transform/gitlabpipelineevents]
      exporters: [debug]
"""


def _pipeline_body(kind="pipeline", pid=42):
    return json.dumps(
        {
            "object_kind": kind,
            "project": {
                "id": pid,
                "name": "My Project",
                "namespace": "my-group",
                "path_with_namespace": "my-group/my-project",
                "web_url": "https://gitlab.com/my-group/my-project",
                "secret_field": "DROP-ME",
            },
            "object_attributes": {
                "id": 1001,
                "ref": "main",
                "sha": "abc123",
                "url": "https://gitlab.com/my-group/my-project/-/pipelines/1001",
                "status": "success",
                "noise": "DROP-ME",
            },
        }
    )


def test_reference_statements_match_analog(spark):
    """The full reference OTTL program, loaded from YAML, equals the
    plans/logs.py analog chain (ottl_parse_body → filter → promote)."""
    from liatrio_otel_collector_spark.plans.logs import (
        ottl_filter_pipeline_events,
        ottl_parse_body,
        ottl_promote_attrs,
    )

    raw = spark.createDataFrame(
        [
            (1, _pipeline_body("pipeline")),
            (2, _pipeline_body("push")),
            (3, _pipeline_body("note")),
            (4, None),
        ],
        "ts long, body_raw string",
    )
    cfg = load_config(REFERENCE_OTTL_YAML)
    built = assemble(spark, cfg, AssembleContext(frames={"webhookevent": raw}))
    got = built["logs"].collect()
    want = ottl_promote_attrs(ottl_filter_pipeline_events(ottl_parse_body(raw))).collect()
    assert len(got) == len(want) == 1
    g, w = got[0], want[0]
    assert g["attrs"] == w["attrs"]
    assert g["resource"] == w["resource"]
    assert g["ts"] == w["ts"]
    # keep_keys enforced at parse time: pruned fields never materialize
    body = g["body"].asDict(recursive=True)
    assert "secret_field" not in body["project"]
    assert "noise" not in body["object_attributes"]
    assert body["object_kind"] == "pipeline"
    # id leaves infer as string (from_json coerces JSON numbers) but the
    # attr values are identical to the analog's long-then-cast encoding
    assert g["attrs"]["vcs.repository.id"] == "42"
    assert g["attrs"]["event.name"] == "pipeline_42_1001"


def test_schema_inference_matches_hand_schema():
    chain = [
        ("transform/body", "transform", {
            "log_statements": ['set(log.body, ParseJSON(log.body)) where log.body != nil']
        }),
        ("transform/x", "transform", {
            "log_statements": [
                'keep_keys(log.body, ["object_kind", "project"])',
                'set(log.attributes["a"], log.body["project"]["id"]) where log.body["project"]["id"] != nil',
            ]
        }),
    ]
    program = ottl.extract_program(chain)
    schema = ottl.infer_body_schema(program)
    assert schema == "`object_kind` string, `project` struct<`id`:string>"


def test_set_nil_is_noop(spark):
    """OTTL set(): nil values are never written (the documented no-op)."""
    df = spark.createDataFrame([(1, '{"a": null, "b": "x"}')], "ts long, body_raw string")
    chain = [
        ("transform/t", "transform", {
            "log_statements": [
                "set(log.body, ParseJSON(log.body))",
                'set(log.attributes["va"], log.body["a"])',
                'set(log.attributes["vb"], log.body["b"])',
            ]
        }),
    ]
    [r] = ottl.compile_chain(df, chain).collect()
    assert r["attrs"] == {"vb": "x"}


def test_set_overwrites_existing_key(spark):
    df = spark.createDataFrame([(1, "x")], "ts long, body_raw string")
    chain = [
        ("transform/t", "transform", {
            "log_statements": [
                'set(log.attributes["k"], "first")',
                'set(log.attributes["k"], "second")',
                'set(log.attributes["other"], "kept")',
            ]
        }),
    ]
    [r] = ottl.compile_chain(df, chain).collect()
    assert r["attrs"] == {"k": "second", "other": "kept"}


def test_delete_key_and_keep_keys_on_attrs(spark):
    df = spark.createDataFrame([(1, "x")], "ts long, body_raw string")
    chain = [
        ("transform/t", "transform", {
            "log_statements": [
                'set(log.attributes["a"], "1")',
                'set(log.attributes["b"], "2")',
                'set(log.attributes["c"], "3")',
                'delete_key(log.attributes, "b")',
                'keep_keys(log.attributes, ["a"])',
            ]
        }),
    ]
    [r] = ottl.compile_chain(df, chain).collect()
    assert r["attrs"] == {"a": "1"}


def test_filter_condition_drops_on_null(spark):
    """error_mode ignore + missing key: the record drops, same as the
    analog's rlike filter on a null column."""
    df = spark.createDataFrame(
        [(1, '{"object_kind": "pipeline"}'), (2, "{}"), (3, None)],
        "ts long, body_raw string",
    )
    chain = [
        ("transform/body", "transform", {
            "log_statements": ["set(log.body, ParseJSON(log.body)) where log.body != nil"]
        }),
        ("filter/f", "filter", {
            "logs": {"log_record": ['not IsMatch(body["object_kind"], "pipeline")']}
        }),
    ]
    out = ottl.compile_chain(df, chain).collect()
    assert [r["ts"] for r in out] == [1]


def test_unsupported_statement_raises(spark):
    cfg = load_config(
        """
receivers:
  webhookevent: {}
processors:
  transform/bad:
    log_statements: ['set(log.attributes["x"], Hour(log.severity_text))']
exporters:
  debug: {}
service:
  pipelines:
    logs:
      receivers: [webhookevent]
      processors: [transform/bad]
      exporters: [debug]
"""
    )
    raw = spark.createDataFrame([(1, "x")], "ts long, body_raw string")
    with pytest.raises(ConfigError, match="unsupported OTTL function"):
        assemble(spark, cfg, AssembleContext(frames={"webhookevent": raw}))


def test_limit_keeps_priority_then_lexicographic(spark):
    """limit(map, N, [prio]): priority keys survive first, then the
    lexicographically-smallest others up to N (the deterministic refinement
    of OTTL's unspecified pick)."""
    df = spark.createDataFrame([(1, "x")], "ts long, body_raw string")
    chain = [
        ("transform/t", "transform", {
            "log_statements": [
                'set(log.attributes["e"], "5")',
                'set(log.attributes["a"], "1")',
                'set(log.attributes["c"], "3")',
                'set(log.attributes["b"], "2")',
                'set(log.attributes["d"], "4")',
                'limit(log.attributes, 3, ["d"])',
            ]
        }),
    ]
    [r] = ottl.compile_chain(df, chain).collect()
    assert r["attrs"] == {"d": "4", "a": "1", "b": "2"}


# --- parser property tests (no Spark session needed) -------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _KEY = st.from_regex(r"[a-zA-Z_][a-zA-Z0-9_.]{0,15}", fullmatch=True)

    @given(keys=st.lists(_KEY, min_size=1, max_size=4), val=_KEY)
    @settings(max_examples=200, deadline=None)
    def test_parser_roundtrips_set_on_attrs(keys, val):
        """Any well-formed set(log.attributes[...], "...") parses to the
        expected AST — the parser never mangles keys or literals."""
        stmt = ottl.parse_statement(
            f'set(log.attributes["{keys[0]}"], "{val}")'
        )
        assert stmt["fn"] == "set"
        assert stmt["args"][0] == ("path", ("attrs", keys[0]))
        assert stmt["args"][1] == ("str", val)
        assert stmt["where"] is None

    @given(parts=st.lists(_KEY, min_size=1, max_size=5))
    @settings(max_examples=200, deadline=None)
    def test_parser_roundtrips_body_paths(parts):
        path = "log.body" + "".join(f'["{p}"]' for p in parts)
        cond = ottl.parse_condition(f"{path} != nil")
        assert cond == ("!=", ("path", ("body", *parts)), ("nil",))

    @given(garbage=st.text(alphabet="(){}[]\"'\\;%$#@!", min_size=1, max_size=20))
    @settings(max_examples=200, deadline=None)
    def test_parser_never_crashes_on_garbage(garbage):
        """Malformed input raises OttlError, never an unhandled exception."""
        try:
            ottl.parse_statement(garbage)
        except ottl.OttlError:
            pass

except ImportError:  # pragma: no cover - hypothesis is baked into this env
    pass


def test_group_conditions_gate_statements(spark):
    """transformprocessor group-level `conditions` AND into each member
    statement's where clause; unknown group keys refuse loudly."""
    df = spark.createDataFrame(
        [(1, '{"kind":"a","v":"x"}'), (2, '{"kind":"b","v":"y"}')],
        "ts long, body_raw string",
    )
    chain = [
        ("transform/t", "transform", {
            "log_statements": [
                {"context": "log", "statements": ["set(log.body, ParseJSON(log.body))"]},
                {
                    "context": "log",
                    "conditions": ['log.body["kind"] == "a"'],
                    "statements": ['set(log.attributes["hit"], log.body["v"])'],
                },
            ]
        }),
    ]
    rows = {r["ts"]: r["attrs"] for r in ottl.compile_chain(df, chain).collect()}
    assert rows[1] == {"hit": "x"} and rows[2] == {}

    with pytest.raises(ottl.OttlError, match="unknown statement-group key"):
        ottl.extract_program(
            [("transform/t", "transform", {"log_statements": [{"statements": [], "typo": 1}]})]
        )


def test_group_conditions_are_or_combined(spark):
    """transformprocessor semantics: a statement group executes when ANY of
    its conditions is true (OR), not all (review finding r4)."""
    df = spark.createDataFrame(
        [(1, '{"kind":"a","v":"x"}'), (2, '{"kind":"b","v":"y"}'), (3, '{"kind":"c","v":"z"}')],
        "ts long, body_raw string",
    )
    chain = [
        ("transform/t", "transform", {
            "log_statements": [
                {"context": "log", "statements": ["set(log.body, ParseJSON(log.body))"]},
                {
                    "context": "log",
                    "conditions": ['log.body["kind"] == "a"', 'log.body["kind"] == "b"'],
                    "statements": ['set(log.attributes["hit"], log.body["v"])'],
                },
            ]
        }),
    ]
    rows = {r["ts"]: r["attrs"] for r in ottl.compile_chain(df, chain).collect()}
    assert rows[1] == {"hit": "x"} and rows[2] == {"hit": "y"} and rows[3] == {}


def test_mismatched_context_rejected():
    # r5: `resource` groups compile in any signal (tests/test_ottl_contexts);
    # contexts that belong to a DIFFERENT signal (or don't exist) still raise
    for bad in ("span", "spanevent"):
        with pytest.raises(ottl.OttlError, match="unsupported statement context"):
            ottl.extract_program(
                [("transform/t", "transform", {
                    "log_statements": [{"context": bad, "statements": ['set(attributes["k"], "v")']}]
                })]
            )


def test_group_without_statements_rejected():
    with pytest.raises(ottl.OttlError, match="no 'statements'"):
        ottl.extract_program(
            [("transform/t", "transform", {
                "log_statements": [{"context": "log", "conditions": ["body != nil"]}]
            })]
        )


def test_replace_pattern_on_attrs(spark):
    """replace_pattern rewrites in place with Java-mapped $$1 captures and
    leaves missing keys untouched."""
    df = spark.createDataFrame([(1, "x")], "ts long, body_raw string")
    chain = [
        ("transform/t", "transform", {
            "log_statements": [
                'set(log.attributes["url"], "https://api.github.com/repos/o/r")',
                'replace_pattern(log.attributes["url"], "api\\.github\\.com/repos", "github.com")',
                'replace_pattern(log.attributes["missing"], "x", "y")',
            ]
        }),
    ]
    [r] = ottl.compile_chain(df, chain).collect()
    assert r["attrs"] == {"url": "https://github.com/o/r"}


def test_compile_chain_recipe_cached_across_frames(spark):
    """r6: the compiled chain is memoized on the session keyed by (chain,
    signal, input columns) — a second frame with the same shape replays the
    recorded recipe (no re-parse, no py4j reconstruction) and computes
    identical results from ITS OWN rows."""
    chain = [
        ("transform/t", "transform", {
            "log_statements": [
                'set(log.attributes["k"], log.body) where log.body != nil',
            ]
        }),
    ]
    df1 = spark.createDataFrame([(1, "a")], "ts long, body_raw string")
    df2 = spark.createDataFrame([(2, "b"), (3, None)], "ts long, body_raw string")
    r1 = ottl.compile_chain(df1, chain).collect()
    cache = getattr(spark, "_ottl_chain_cache")
    assert len(cache) >= 1
    n_before = len(cache)
    rows = {r["ts"]: r["attrs"] for r in ottl.compile_chain(df2, chain).collect()}
    assert len(cache) == n_before  # cache HIT: same chain + same columns
    assert r1[0]["attrs"] == {"k": "a"}
    assert rows[2] == {"k": "b"} and rows[3] == {}  # df2's own data, not df1's


def test_lineage_manifest_skips_map_columns(spark):
    """r6: frames from OTTL chains carry map-typed attrs/resource; xxhash64
    rejects maps, so the manifest checksum folds only hashable columns
    instead of crashing the config-stream lineage step."""
    from pyspark.sql import functions as F
    from liatrio_otel_collector_spark.plans.lineage import lineage_manifest

    df = spark.createDataFrame([(1, "x")], "eid long, v string").withColumn(
        "attrs", F.create_map(F.lit("a"), F.lit("b"))
    )
    rows = lineage_manifest(df, "s", 7).collect()
    assert sum(r["row_count"] for r in rows) == 1
