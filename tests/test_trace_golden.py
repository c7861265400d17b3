"""Golden-parity tests for trace construction, re-expressing the reference's
fixtures as rows and its expected YAMLs as assertions:

- input:  receiver/githubreceiver/testdata/workflow-run-completed.json,
          workflow-job-completed.json
- golden: workflow-run-expected.yaml, workflow-job-expected.yaml
  (ids, parent chain, timestamps, status codes, resource attributes)
"""

from __future__ import annotations

import json
from datetime import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from liatrio_otel_collector_spark.plans.traces import (
    workflow_job_spans,
    workflow_run_spans,
)


def _ts(s: str) -> datetime:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ")


RUN_EVENT = Row(
    run_id=14460881260,
    run_attempt=13,
    name="build-and-test",
    status="completed",
    conclusion="failure",
    head_branch="renovate/major-tool-deps",
    head_sha="6077d805b0fc49f65e6dbaefc2d1fc9b4f92aa4e",
    run_started_at=_ts("2025-04-16T21:08:53Z"),
    updated_at=_ts("2025-04-16T21:10:27Z"),
    previous_attempt_url=(
        "https://api.github.com/repos/open-telemetry/open-telemetry-otel-collector"
        "/actions/runs/14460881260/attempts/12"
    ),
    html_url=(
        "https://github.com/open-telemetry/open-telemetry-otel-collector"
        "/actions/runs/14460881260"
    ),
    repo_name="open-telemetry-otel-collector",
    repo_custom_service_name="otel-collector",
    sender_login="renovate[bot]",
    committer_name="GitHub",
    committer_email="noreply@github.com",
)

_STEPS = [
    ("Set up job", 1, "2025-04-16T21:09:02Z", "2025-04-16T21:09:04Z"),
    ("Run actions/checkout@v4", 2, "2025-04-16T21:09:04Z", "2025-04-16T21:09:05Z"),
    ("Set up Go", 3, "2025-04-16T21:09:05Z", "2025-04-16T21:09:05Z"),
    ("Make test-all", 4, "2025-04-16T21:09:06Z", "2025-04-16T21:10:20Z"),
    ("Upload coverage to Codecov", 5, "2025-04-16T21:10:20Z", "2025-04-16T21:10:23Z"),
    ("Post Set up Go", 9, "2025-04-16T21:10:23Z", "2025-04-16T21:10:23Z"),
    ("Post Run actions/checkout@v4", 10, "2025-04-16T21:10:25Z", "2025-04-16T21:10:25Z"),
    ("Complete job", 11, "2025-04-16T21:10:23Z", "2025-04-16T21:10:23Z"),
]

JOB_EVENT = Row(
    run_id=14460881260,
    run_attempt=13,
    job_id=40685651258,
    job_name="test (1.23)",
    status="completed",
    conclusion="success",
    created_at=_ts("2025-04-16T21:08:58Z"),
    started_at=_ts("2025-04-16T21:09:03Z"),
    completed_at=_ts("2025-04-16T21:10:25Z"),
    head_branch="renovate/major-tool-deps",
    head_sha="6077d805b0fc49f65e6dbaefc2d1fc9b4f92aa4e",
    runner_id=346,
    runner_group_id=2,
    runner_name="GitHub Actions 320",
    runner_group_name="GitHub Actions",
    node_id="CR_kwDOJKXdfM8AAAAJeQ3FOg",
    labels=["ubuntu-latest"],
    steps=[
        Row(
            name=n,
            number=num,
            status="completed",
            conclusion="success",
            started_at=_ts(s),
            completed_at=_ts(c),
        )
        for n, num, s, c in _STEPS
    ],
    repo_name="open-telemetry-otel-collector",
    repo_custom_service_name="otel-collector",
    sender_login="renovate[bot]",
    html_url=(
        "https://github.com/open-telemetry/open-telemetry-otel-collector"
        "/actions/runs/14460881260/job/40685651258"
    ),
)

JOB_SCHEMA = (
    "run_id long, run_attempt int, job_id long, job_name string, status string, "
    "conclusion string, created_at timestamp, started_at timestamp, completed_at timestamp, "
    "head_branch string, head_sha string, runner_id long, runner_group_id long, "
    "runner_name string, runner_group_name string, node_id string, labels array<string>, "
    "steps array<struct<name:string,number:int,status:string,conclusion:string,"
    "started_at:timestamp,completed_at:timestamp>>, "
    "repo_name string, repo_custom_service_name string, sender_login string, html_url string"
)

TRACE_ID = "731ec8a47fd7450f753a812a4a8aa5a0"


def test_workflow_run_golden(spark):
    """workflow-run-expected.yaml: root span + previous-attempt link."""
    df = workflow_run_spans(spark.createDataFrame([RUN_EVENT]))
    [s] = df.collect()
    assert s["trace_id"] == TRACE_ID
    assert s["span_id"] == "aba151af7cfbcf0f"
    assert s["parent_span_id"] == ""
    assert s["name"] == "build-and-test"
    assert s["kind"] == 2
    assert s["status_code"] == 2 and s["status_message"] == "failure"
    assert int(s["start_ts"].timestamp()) == 1744837733
    assert int(s["end_ts"].timestamp()) == 1744837827
    assert s["link_trace_ids"] == ["3ab150c94bf95169f4958bc860bddc3b"]
    r = s["resource"]
    assert r["service.name"] == "otel-collector"
    assert r["vcs.repository.name"] == "open-telemetry-otel-collector"
    assert r["vcs.vendor.name"] == "github"
    assert r["vcs.ref.head.name"] == "renovate/major-tool-deps"
    assert r["vcs.ref.head.type"] == "branch"
    assert r["vcs.ref.head.revision"] == "6077d805b0fc49f65e6dbaefc2d1fc9b4f92aa4e"
    assert r["vcs.ref.head.revision.author.name"] == "GitHub"
    assert r["vcs.ref.head.revision.author.email"] == "noreply@github.com"
    assert r["cicd.pipeline.name"] == "build-and-test"
    assert r["cicd.pipeline.run.sender.login"] == "renovate[bot]"
    assert r["cicd.pipeline.run.id"] == "14460881260"
    assert r["cicd.pipeline.run.status"] == "failure"
    assert r["cicd.pipeline.run.previous_attempt.url.full"] == (
        "https://github.com/open-telemetry/open-telemetry-otel-collector"
        "/actions/runs/14460881260/attempts/12"
    )


def test_workflow_job_golden(spark):
    """workflow-job-expected.yaml: job + queue + 8 step spans, exact ids and
    parent chain (job→root, queue→job, steps→queue)."""
    df = workflow_job_spans(spark.createDataFrame([JOB_EVENT], schema=JOB_SCHEMA))
    spans = {s["name"]: s for s in df.collect()}
    assert len(spans) == 10

    job = spans["test (1.23)"]
    assert job["trace_id"] == TRACE_ID
    assert job["span_id"] == "e68a36b3514c8634"
    assert job["parent_span_id"] == "aba151af7cfbcf0f"
    # start/end = first/last step in ARRAY order (not min/max!)
    assert int(job["start_ts"].timestamp()) == 1744837742
    assert int(job["end_ts"].timestamp()) == 1744837823
    assert job["status_code"] == 1 and job["status_message"] == "success"

    queue = spans["queue-test (1.23)"]
    assert queue["span_id"] == "d328504edfc4f5dc"
    assert queue["parent_span_id"] == "e68a36b3514c8634"
    assert int(queue["start_ts"].timestamp()) == 1744837738
    assert int(queue["end_ts"].timestamp()) == 1744837743
    assert queue["status_code"] == 0
    assert float(queue["attrs"]["cicd.pipeline.run.queue.duration"]) == 5.0e9

    expected_step_ids = {
        "Set up job": "103b52e85d34ae1c",
        "Run actions/checkout@v4": "b0a2cdd89199b9a5",
        "Set up Go": "c04460ffd6bf3917",
        "Make test-all": "1684627ec86a096c",
        "Upload coverage to Codecov": "25aeeca484f9f7e5",
        "Post Set up Go": "0715a13bb338e46e",
        "Post Run actions/checkout@v4": "e231dce10420723b",
        "Complete job": "bb94c07ba3717632",
    }
    for name, span_id in expected_step_ids.items():
        s = spans[name]
        assert s["span_id"] == span_id, name
        assert s["parent_span_id"] == "d328504edfc4f5dc", name
        assert s["status_code"] == 1
        assert s["attrs"]["cicd.pipeline.task.name"] == name
        assert s["attrs"]["cicd.pipeline.run.task.status"] == "success"

    r = job["resource"]
    assert r["service.name"] == "otel-collector"
    assert r["cicd.pipeline.worker.id"] == "346"
    assert r["cicd.pipeline.worker.name"] == "GitHub Actions 320"
    assert r["cicd.pipeline.task.run.id"] == "40685651258"
    assert r["cicd.pipeline.run.task.status"] == "success"


def test_duplicate_step_names_dedup(spark):
    """newUniqueSteps table-driven cases (trace_event_handling_test.go:160-216):
    duplicated names become name, name-1, name-2 in occurrence order; unique
    names unchanged."""
    ev = Row(
        **{
            **JOB_EVENT.asDict(),
            "steps": [
                Row(
                    name=n,
                    number=i + 1,
                    status="completed",
                    conclusion="success",
                    started_at=_ts("2025-04-16T21:09:02Z"),
                    completed_at=_ts("2025-04-16T21:09:04Z"),
                )
                for i, n in enumerate(["build", "test", "build", "deploy", "build"])
            ],
        }
    )
    df = workflow_job_spans(spark.createDataFrame([ev], schema=JOB_SCHEMA))
    names = sorted(
        r["name"] for r in df.filter(F.col("attrs")["cicd.pipeline.task.name"].isNotNull()).collect()
    )
    assert names == ["build", "build-1", "build-2", "deploy", "test"]


def _actions_job_payload(steps, repo="My_Repo", custom_properties=None):
    """A completed githubactions workflow_job webhook payload (run 7,
    attempt 1, job "job") with one successful step per name in ``steps``."""
    step = {
        "status": "completed",
        "conclusion": "success",
        "started_at": "2025-04-16T21:09:02Z",
        "completed_at": "2025-04-16T21:09:04Z",
    }
    return json.dumps(
        {
            "action": "completed",
            "workflow_job": {
                "id": 1,
                "run_id": 7,
                "run_attempt": 1,
                "status": "completed",
                "conclusion": "success",
                "name": "job",
                "labels": [],
                "steps": [{**step, "name": n, "number": i + 1} for i, n in enumerate(steps)],
            },
            "repository": {
                "name": repo,
                "custom_properties": custom_properties or {},
                "owner": {"login": "o"},
            },
            "sender": {"login": "s"},
        }
    )


def test_actions_step_span_id_variants(spark):
    """githubactionsreceiver: duplicated step names include position index+1
    in the span-id key; unique names omit the number entirely
    (trace_event_handling.go:301-328)."""
    import hashlib

    from liatrio_otel_collector_spark.plans.actions_traces import actions_job_spans

    raw = spark.createDataFrame(
        [(_actions_job_payload(["build", "test", "build"]),)], "payload string"
    )
    steps = actions_job_spans(raw).filter(F.col("name") != "job").collect()
    out = {
        (r["name"], r["attrs"]["ci.github.workflow.job.step.number"]): r["span_id"]
        for r in steps
    }
    assert len(out) == 3
    assert out[("test", "2")] == hashlib.sha256(b"71jobtest").hexdigest()[16:32]
    assert out[("build", "1")] == hashlib.sha256(b"71jobbuild1").hexdigest()[16:32]
    assert out[("build", "3")] == hashlib.sha256(b"71jobbuild3").hexdigest()[16:32]


def test_actions_service_name(spark):
    from liatrio_otel_collector_spark.plans.actions_traces import actions_job_spans

    raw = spark.createDataFrame([(_actions_job_payload(["build"]),)], "payload string")

    def service_names(**cfg):
        spans = actions_job_spans(raw, **cfg).collect()
        return {r["resource"]["service.name"] for r in spans}

    assert service_names(service_name_prefix="ci-", service_name_suffix="-prod") == {
        "ci-my-repo-prod"
    }
    # custom override is used VERBATIM (no formatString, :293-295)
    assert service_names(
        custom_service_name="Override_Name",
        service_name_prefix="ci-",
        service_name_suffix="-prod",
    ) == {"Override_Name"}
