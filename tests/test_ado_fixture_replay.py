"""Raw-fixture replay of the azuredevops trace receiver (VERDICT r1 item 4).

Feeds the reference's example-{pipeline,stage,job}-event.json
(receiver/azuredevopsreceiver/testdata/) through plans/ado_traces.py and
compares the FULL span — ids, parentage, name, kind, timestamps, resource
attrs — against a pure-Python hashlib oracle implementing
trace_event_handling.go:100-264 + trace_attributes.go:13-121.

The reference's handler tests (trace_receiver_test.go:83-260) call the
handlers DIRECTLY, bypassing the webhook-layer completed gate
(trace_receiver.go:169-189): each fixture → exactly 1 span even though the
pipeline fixture's run is inProgress. gate=False replays that; the default
gate=True path is asserted to drop the in-progress run fixture.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timezone

import pytest

from liatrio_otel_collector_spark.plans.ado_traces import ado_trace_pipeline

FIXDIR = "/root/reference/receiver/azuredevopsreceiver/testdata"
FIXTURES = ["example-pipeline-event.json", "example-stage-event.json", "example-job-event.json"]

# the fixtures are the reference checkout's own testdata, not kept in this
# repository: without that checkout there is nothing to replay
pytestmark = pytest.mark.skipif(
    not os.path.isdir(FIXDIR), reason=f"reference fixtures absent: {FIXDIR}"
)


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def _ts(s):
    if not s:
        return None
    # ADO emits 7-digit fractions; Python handles ≤6 — trim to micros
    if "." in s:
        head, frac = s.split(".")
        frac = frac.rstrip("Z")[:6]
        s = f"{head}.{frac}+00:00"
    else:
        s = s.replace("Z", "+00:00")
    return datetime.fromisoformat(s).astimezone(timezone.utc)


def _rfc(s):
    if not s:
        return "0001-01-01T00:00:00Z"
    return _ts(s).strftime("%Y-%m-%dT%H:%M:%SZ")


def _ado_url(u):
    return u.replace("/_apis/", "/", 1)


def _repo_attrs(resource, with_version):
    repos = resource.get("repositories") or []
    if not repos:
        return {}
    repo = repos[0]
    out = {
        "vcs.repository.url.full": repo.get("url") or "",
        "vcs.repository.type": repo.get("type") or "",
    }
    author = ((repo.get("change") or {}).get("author")) or {}
    if author.get("name"):
        out["vcs.commit.author.name"] = author["name"]
        out["vcs.commit.author.email"] = author.get("email") or ""
        out["vcs.commit.message"] = (repo.get("change") or {}).get("message") or ""
        if with_version:
            out["vcs.commit.version"] = (repo.get("change") or {}).get("version") or ""
    return out


def _expected(doc):
    """One span per handler, per trace_event_handling.go + trace_attributes.go."""
    r = doc["resource"]
    run = r.get("run") or {}
    trace_id = _sha(f"{run.get('id')}t")[:32]
    et = doc["eventType"]
    if et.endswith("run-state-changed-event"):
        resource = {
            "cicd.pipeline.name": (run.get("pipeline") or {}).get("name") or "",
            "cicd.pipeline.id": str(r.get("runId") or 0),
            "cicd.pipeline.run.state": run.get("state") or "",
            "cicd.pipeline.run.result": run.get("result") or "",
            "cicd.pipeline.run.created_date": _rfc(run.get("createdDate")),
            "cicd.pipeline.run.url": _ado_url(run.get("url") or ""),
            "vcs.vendor.name": "azuredevops",
        }
        if run.get("finishedDate"):
            resource["cicd.pipeline.run.finished_date"] = _rfc(run["finishedDate"])
        return {
            "trace_id": trace_id,
            "span_id": _sha(f"pipeline_{(run.get('pipeline') or {}).get('id')}")[16:32],
            "parent_span_id": "",
            "name": f"Pipeline Run: {(run.get('pipeline') or {}).get('name')}",
            "kind": 1,
            "start_ts": _ts(run.get("createdDate")),
            "end_ts": _ts(run.get("finishedDate")),
            "resource": resource,
        }
    if et.endswith("stage-state-changed-event"):
        stage = r["stage"]
        resource = {
            "cicd.pipeline.name": (r.get("pipeline") or {}).get("name") or "",
            "cicd.pipeline.id": str(r.get("runId") or 0),
            "cicd.pipeline.stage.name": stage.get("name") or "",
            "cicd.pipeline.stage.display_name": stage.get("displayName") or "",
            "cicd.pipeline.stage.state": stage.get("state") or "",
            "cicd.pipeline.stage.result": stage.get("result") or "",
            "cicd.pipeline.run.created_date": _rfc(run.get("createdDate")),
            **_repo_attrs(r, with_version=False),
            "vcs.vendor.name": "azuredevops",
            "azuredevops.project.id": ((doc.get("resourceContainers") or {}).get("project") or {}).get("id") or "",
        }
        return {
            "trace_id": trace_id,
            "span_id": _sha(f"stage_{stage['id']}")[16:32],
            "parent_span_id": _sha(f"pipeline_{(run.get('pipeline') or {}).get('id')}")[16:32],
            "name": f"Pipeline Stage: {stage.get('name')}",
            "kind": 1,
            "start_ts": _ts(stage.get("startTime")),
            "end_ts": _ts(stage.get("finishTime")),
            "resource": resource,
        }
    job, stage = r["job"], r.get("stage") or {}
    resource = {
        "cicd.pipeline.name": (r.get("pipeline") or {}).get("name") or "",
        "cicd.pipeline.id": str(r.get("runId") or 0),
        "cicd.pipeline.job.name": job.get("name") or "",
        "cicd.pipeline.job.state": job.get("state") or "",
        "cicd.pipeline.job.result": job.get("result") or "",
        "cicd.pipeline.job.attempt": str(job.get("attempt") or 0),
        "cicd.pipeline.stage.name": stage.get("name") or "",
        "cicd.pipeline.stage.display_name": stage.get("displayName") or "",
        "cicd.pipeline.run.created_date": _rfc(run.get("createdDate")),
        **_repo_attrs(r, with_version=True),
        "vcs.vendor.name": "azuredevops",
        "azuredevops.project.id": ((doc.get("resourceContainers") or {}).get("project") or {}).get("id") or "",
    }
    if job.get("startTime"):
        resource["cicd.pipeline.job.start_time"] = _rfc(job["startTime"])
    if job.get("finishTime"):
        resource["cicd.pipeline.job.finish_time"] = _rfc(job["finishTime"])
    return {
        "trace_id": trace_id,
        "span_id": _sha(f"{run.get('id')}{job.get('attempt')}{job.get('name')}")[16:32],
        "parent_span_id": _sha(f"stage_{stage['id']}")[16:32],
        "name": f"Pipeline Job: {job.get('name')}",
        "kind": 1,
        "start_ts": _ts(job.get("startTime")),
        "end_ts": _ts(job.get("finishTime")),
        "resource": resource,
    }


def _replay(spark, rel, gate):
    payload = open(os.path.join(FIXDIR, rel)).read()
    raw = spark.createDataFrame([(payload,)], "body_raw string")
    return ado_trace_pipeline(raw, gate=gate).collect()


@pytest.mark.parametrize("rel", FIXTURES)
def test_handler_replay_full_span(spark, rel):
    """1 span per fixture (trace_receiver_test.go:180-260), field-exact."""
    rows = _replay(spark, rel, gate=False)
    assert len(rows) == 1
    r = rows[0]
    got = {
        "trace_id": r["trace_id"],
        "span_id": r["span_id"],
        "parent_span_id": r["parent_span_id"],
        "name": r["name"],
        "kind": r["kind"],
        "start_ts": r["start_ts"].replace(tzinfo=timezone.utc) if r["start_ts"] else None,
        "end_ts": r["end_ts"].replace(tzinfo=timezone.utc) if r["end_ts"] else None,
        "resource": dict(r["resource"]),
    }
    exp = _expected(json.load(open(os.path.join(FIXDIR, rel))))
    assert got == exp, f"\nGOT {json.dumps(got, default=str, indent=1)}\nEXP {json.dumps(exp, default=str, indent=1)}"


def test_webhook_gate_on_fixtures(spark):
    """gate=True (the real e2e path): the inProgress pipeline fixture is
    dropped; the completed stage and job fixtures pass."""
    kept = {
        rel: len(_replay(spark, rel, gate=True)) for rel in FIXTURES
    }
    assert kept == {
        "example-pipeline-event.json": 0,  # run.state == inProgress
        "example-stage-event.json": 1,
        "example-job-event.json": 1,
    }
