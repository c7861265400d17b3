"""Unit tests for scalar kernels (SURVEY §2.8), mirroring the reference's
table-driven helper tests (githubscraper/helpers_test.go:316-397,
trace_event_handling_test.go:160-216, azure_devops_types_test.go)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from liatrio_otel_collector_spark.functions import (
    age_seconds,
    api_to_html_url,
    format_service_name,
    normalize_deploy_status,
    normalize_severity,
    parse_multi_format_ts,
    release_to_service,
    replace_first,
    span_id,
    split_tags,
    status_to_span_code,
    strip_refs_heads,
    trace_id,
    workflow_path_to_name,
)


def _one(spark, col, **kwargs):
    df = spark.createDataFrame([kwargs]) if kwargs else spark.range(1)
    return df.select(col.alias("v")).collect()[0]["v"]


def test_trace_span_ids(spark):
    digest = hashlib.sha256(b"run-1|2").hexdigest()
    assert _one(spark, trace_id(F.lit("run-1"), F.lit(2))) == digest[:32]
    assert _one(spark, span_id(F.lit("run-1"), F.lit(2))) == digest[16:32]


def test_severity_normalization(spark):
    cases = {
        "CRITICAL": "critical",
        "critical": "critical",
        "MODERATE": "medium",
        "Medium": "medium",
        "HIGH": "high",
        "low": "low",
        "bogus": "unknown",
    }
    for raw, want in cases.items():
        assert _one(spark, normalize_severity(F.lit(raw))) == want, raw


def test_deploy_status_normalization(spark):
    cases = {
        " Succeeded ": "succeeded",
        "partiallySucceeded": "failed",
        "FAILED": "failed",
        "notDeployed": "failed",
        "inProgress": "inprogress",
    }
    for raw, want in cases.items():
        assert _one(spark, normalize_deploy_status(F.lit(raw))) == want, raw


def test_status_to_span_code(spark):
    assert _one(spark, status_to_span_code(F.lit("success"))) == "STATUS_CODE_OK"
    assert _one(spark, status_to_span_code(F.lit("FAILURE"))) == "STATUS_CODE_ERROR"
    assert _one(spark, status_to_span_code(F.lit("skipped"))) == "STATUS_CODE_UNSET"


def test_string_kernels(spark):
    assert _one(spark, format_service_name(F.lit("My_Repo_Name"))) == "my-repo-name"
    assert (
        _one(spark, api_to_html_url(F.lit("https://api.github.com/repos/o/r/runs/1")))
        == "https://github.com/o/r/runs/1"
    )
    assert _one(spark, strip_refs_heads(F.lit("refs/heads/main"))) == "main"
    assert _one(spark, strip_refs_heads(F.lit("main"))) == "main"
    assert _one(spark, release_to_service(F.lit("Checkout build-42"))) == "Checkout"
    assert _one(spark, release_to_service(F.lit(""))) == "unknown"
    assert (
        _one(spark, workflow_path_to_name(F.lit(".github/workflows/My_CI.yml@refs/heads/main")))
        == "my_ci"
    )
    # Go strings.Replace(s, old, new, 1): only the first occurrence
    assert _one(spark, replace_first(F.lit("a/_apis/b/_apis/c"), "/_apis/", "/")) == "a/b/_apis/c"
    assert _one(spark, replace_first(F.lit("https://x/y"), "/_apis/", "/")) == "https://x/y"
    assert _one(spark, replace_first(F.lit("api.github.com"), "api.", "")) == "github.com"
    assert _one(spark, replace_first(F.lit(None).cast("string"), "api.", "")) is None


def test_split_tags(spark):
    got = _one(spark, split_tags(F.lit(" alpha ; beta;; gamma ;")))
    assert got == ["alpha", "beta", "gamma"]


def test_multi_format_timestamps(spark):
    cases = {
        "2024-03-01T12:00:00Z": "2024-03-01 12:00:00",
        "2024-03-01T12:00:00.1234567Z": "2024-03-01 12:00:00",
        "2024-03-01T12:00:00": "2024-03-01 12:00:00",
        "2024-03-01 12:00:00": "2024-03-01 12:00:00",
        "0001-01-01T00:00:00": None,
        "garbage": None,
        # r6 length-dispatch fast path: exactly-19/10-char inputs take a
        # single-format branch — these pin its equivalence with the chain
        "2024-03-01": "2024-03-01 00:00:00",
        "2024-03-01T12:00:00+01:00": "2024-03-01 11:00:00",
        "2024-03-01T12:00:00.5": "2024-03-01 12:00:00",
        "2024-99-99T12:00:00": None,  # 19 chars, 'T' sep, invalid fields
        "2024-03-01X12:00:00": None,  # 19 chars, unknown separator
        "2024-03-0112:00:001": None,  # 19 chars, digit at the sep slot
    }
    for raw, want in cases.items():
        got = _one(spark, F.date_format(parse_multi_format_ts(F.lit(raw)), "yyyy-MM-dd HH:mm:ss"))
        assert got == want, raw


def test_age_seconds(spark):
    got = _one(
        spark,
        age_seconds(
            F.to_timestamp(F.lit("2024-01-01 00:00:00")),
            F.to_timestamp(F.lit("2024-01-01 01:30:00")),
        ),
    )
    assert got == 5400


def test_parse_tokens_edge_rows(spark):
    """Regression: a marker at a row's LAST token must survive when the next
    row is empty/null (the reduceat clamp bug), and empty/null token lists
    parse to all-null attrs instead of crashing. Both parse
    implementations must agree."""
    from liatrio_otel_collector_spark.functions.tokens import (
        parse_tokens_expr,
        parse_tokens_udf,
    )

    rows = [
        ("marker-at-end", [50000, 49999, 14]),  # severity marker is the LAST token
        ("empty", []),
        ("null", None),
        ("normal", [11, 105, 203, 7]),
        ("no-markers", [5000, 6000]),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    expected = {
        "marker-at-end": ("fatal", None, None),
        "empty": (None, None, None),
        "null": (None, None, None),
        "normal": ("info", "svc-5", "scope-3"),
        "no-markers": (None, None, None),
    }
    for impl in (parse_tokens_udf(F.col("tokens")), parse_tokens_expr("tokens")):
        got = {
            r["doc_id"]: (r["p"]["severity"], r["p"]["resource"], r["p"]["scope"])
            for r in df.select("doc_id", impl.alias("p")).collect()
        }
        assert got == expected


# --- grok text-line parse (functions/grok.py) -------------------------------


def test_grok_compile_and_parse(spark):
    from liatrio_otel_collector_spark.functions.grok import grok_compile, grok_parse

    import pytest as _pytest

    regex, fields = grok_compile("%{LOGLEVEL:level} %{WORD:svc}: %{GREEDYDATA:msg}")
    assert fields == ["level", "svc", "msg"]
    assert regex.startswith("^") and regex.endswith("$")
    with _pytest.raises(ValueError, match="unknown grok pattern"):
        grok_compile("%{NOPE:x}")
    with _pytest.raises(ValueError, match="duplicate grok field"):
        grok_compile("%{WORD:a} %{WORD:a}")
    with _pytest.raises(ValueError, match="no .*field"):
        grok_compile("just literal text")

    df = spark.createDataFrame(
        [("ERROR auth: token expired",), ("INFO api: ok",), ("not a log line",)],
        "line string",
    )
    out = {r["line"]: r for r in grok_parse(df, "line", "%{LOGLEVEL:level} %{WORD:svc}: %{GREEDYDATA:msg}").collect()}
    assert out["ERROR auth: token expired"]["level"] == "ERROR"
    assert out["ERROR auth: token expired"]["svc"] == "auth"
    assert out["ERROR auth: token expired"]["msg"] == "token expired"
    # non-matching lines extract empty strings (regexp_extract convention)
    assert out["not a log line"]["level"] == ""
    # keep=False drops the raw column
    assert "line" not in grok_parse(df, "line", "%{LOGLEVEL:level} %{GREEDYDATA:m}", keep=False).columns


def test_grok_pattern_file_loading():
    """load_pattern_file + add_patterns: logstash patterns/ format with
    nested %{REF} composites, cycle detection, and capture-safety rules."""
    import pytest as _pytest

    from liatrio_otel_collector_spark.functions.grok import (
        add_patterns,
        grok_compile,
        load_pattern_file,
    )

    defs = load_pattern_file(
        """
# comment line

REQID [a-f0-9]{8}
PAIR req=%{REQID} of=%{REQID}
HDR \\[%{TIMESTAMP_ISO8601}\\]
"""
    )
    assert set(defs) == {"REQID", "PAIR", "HDR"}
    lib = add_patterns(defs)
    # composites fully expanded, refs non-capturing
    assert lib["PAIR"] == "req=(?:[a-f0-9]{8}) of=(?:[a-f0-9]{8})"
    assert "TIMESTAMP_ISO8601" not in lib["HDR"] or "%{" not in lib["HDR"]
    # built-ins still present
    assert "LOGLEVEL" in lib
    regex, fields = grok_compile("%{PAIR:p} %{LOGLEVEL:lvl}", patterns=lib)
    assert fields == ["p", "lvl"]

    # malformed lines / duplicate names refuse
    with _pytest.raises(ValueError, match="expected 'NAME pattern'"):
        load_pattern_file("lowercase bad")
    with _pytest.raises(ValueError, match="duplicate pattern"):
        load_pattern_file("A x\nA y")

    # cycles: direct and mutual, reported with the chain
    with _pytest.raises(ValueError, match="cycle: A -> A"):
        add_patterns({"A": "%{A}"})
    with _pytest.raises(ValueError, match="cycle"):
        add_patterns({"A": "%{B}", "B": "%{A}"})

    # group-index safety: captures and raw groups inside definitions refuse
    with _pytest.raises(ValueError, match="capture inside a definition"):
        add_patterns({"A": "%{WORD:w}"})
    with _pytest.raises(ValueError, match="raw capturing group"):
        add_patterns({"A": "(ab)+"})
    # but non-capturing groups and escaped parens are fine
    lib2 = add_patterns({"A": r"(?:ab)+\("})
    assert lib2["A"] == r"(?:ab)+\("

    # unknown reference refuses
    with _pytest.raises(ValueError, match="unknown grok pattern"):
        add_patterns({"A": "%{NOPE}"})


def test_grok_syslog_builtins():
    """The syslog-staple built-ins compile and match representative text in
    Python's re (a superset check for the RE2 ∩ Java dialect claim: no
    backrefs/lookaround appear in any of them by construction)."""
    import re as _re

    from liatrio_otel_collector_spark.functions.grok import GROK_PATTERNS, grok_compile

    samples = {
        "SYSLOGTIMESTAMP": ["Jan  2 03:04:05", "Dec 31 23:59:59"],
        "PROG": ["sshd", "cron-job_2"],
        "POSINT": ["1", "42"],
        "NONNEGINT": ["0", "42"],
        "IP": ["10.0.0.1"],
        "UUID": ["123e4567-e89b-42d3-a456-426614174000"],
    }
    for name, goods in samples.items():
        rx = _re.compile(f"^{GROK_PATTERNS[name]}$")
        for g in goods:
            assert rx.match(g), (name, g)
        assert not _re.search(r"\\[1-9]|\(\?[=!<]", GROK_PATTERNS[name]), name

    # literal text between refs is auto-escaped, so bare [ ] are literals
    regex, fields = grok_compile(
        "%{SYSLOGTIMESTAMP:ts} %{HOSTNAME:host} %{PROG:prog}[%{POSINT:pid}]: %{GREEDYDATA:msg}"
    )
    assert fields == ["ts", "host", "prog", "pid", "msg"]
    m = _re.match(regex, "Jan  2 03:04:05 web-1.example sshd[4321]: accepted")
    assert m and m.group(3) == "sshd" and m.group(4) == "4321"
