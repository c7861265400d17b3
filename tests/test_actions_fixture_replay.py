"""Raw-fixture replay of the githubactions receiver (VERDICT r1 item 3).

Drives the reference's numbered webhook JSON fixtures
(receiver/githubactionsreceiver/testdata/{completed,queued,requested,unknown})
through from_json → span expansion (plans/actions_traces.py) and compares the
FULL span set — ids, parentage, names, timestamps, statuses, step attrs,
resource attrs, links — against an independent pure-Python oracle
implementing trace_event_handling.go / trace_attributes.go with hashlib.

Reference checkpoints reproduced:
- trace_receiver_test.go:75-92: 5_workflow_job_completed.json → 10 spans,
  8_workflow_run_completed.json → 1 span;
- trace_receiver.go:125-133: queued/requested/unknown payloads → 0 spans;
- TestResourceAndSpanAttributesCreation: step name/number attrs.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timezone

import pytest

from liatrio_otel_collector_spark.plans.actions_traces import actions_webhook_spans
from liatrio_otel_collector_spark.plans.traces import GO_ZERO_RFC3339

FIXDIR = "/root/reference/receiver/githubactionsreceiver/testdata"

# the fixtures are the reference checkout's own testdata, not kept in this
# repository: without that checkout there is nothing to replay
pytestmark = pytest.mark.skipif(
    not os.path.isdir(FIXDIR), reason=f"reference fixtures absent: {FIXDIR}"
)

ALL_FIXTURES = [
    ("completed/5_workflow_job_completed.json", "workflow_job", 10),
    ("completed/8_workflow_run_completed.json", "workflow_run", 1),
    ("completed/9_workflow_job_completed.json", "workflow_job", 13),
    ("queued/1_workflow_job_queued.json", "workflow_job", 0),
    ("queued/4_workflow_job_queued.json", "workflow_job", 0),
    ("requested/1_workflow_run_requested.json", "workflow_run", 0),
    ("unknown/1_workflow_job_unknown.json", "workflow_job", 0),
]


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def _ts(s):
    if not s:
        return None
    return datetime.fromisoformat(s.replace("Z", "+00:00")).astimezone(timezone.utc)


def _rfc(s):
    """Go parses then re-formats RFC3339 — fractional seconds are dropped."""
    if not s:
        return GO_ZERO_RFC3339
    return _ts(s).strftime("%Y-%m-%dT%H:%M:%SZ")


def _status(conclusion):
    return {"success": 1, "failure": 2}.get(conclusion or "", 0)


def _svc(repo):
    props = repo.get("custom_properties") or {}
    if props.get("service_name"):
        return props["service_name"]
    return repo["name"].lower().replace("_", "-")


def _expected_job_spans(doc):
    """Pure-Python re-implementation of eventToTraces for WorkflowJobEvent."""
    wj, repo, sender = doc["workflow_job"], doc["repository"], doc.get("sender", {})
    if wj.get("status") != "completed":
        return []
    run, att, job = wj["run_id"], wj["run_attempt"], wj["name"]
    trace = _sha(f"{run}{att}t")[:32]
    job_span = _sha(f"{run}{att}{job}")[16:32]
    labels = sorted(l.lower() for l in (wj.get("labels") or []))
    resource = {
        "service.name": _svc(repo),
        "cicd.pipeline.name": wj.get("workflow_name") or "",
        "cicd.pipeline.task.created_at": _rfc(wj.get("created_at")),
        "cicd.pipeline.task.completed_at": _rfc(wj.get("completed_at")),
        "cicd.pipeline.task.conclusion": wj.get("conclusion") or "",
        "cicd.pipeline.task.head_branch": wj.get("head_branch") or "",
        "cicd.pipeline.task.head_sha": wj.get("head_sha") or "",
        "cicd.pipeline.task.html_url": wj.get("html_url") or "",
        "cicd.pipeline.task.labels": ",".join(labels) if labels else "no labels",
        "cicd.pipeline.task.name": job,
        "cicd.pipeline.task.run.id": str(run),
        "cicd.pipeline.task.runner.group.name": wj.get("runner_group_name") or "",
        "cicd.pipeline.task.runner.name": wj.get("runner_name") or "",
        "cicd.pipeline.task.sender.login": (sender or {}).get("login") or "",
        "cicd.pipeline.task.started_at": _rfc(wj.get("started_at")),
        "cicd.pipeline.task.status": wj.get("status") or "",
        "vcs.vendor.name": "github",
        "vcs.repository.owner.login": (repo.get("owner") or {}).get("login") or "",
        "vcs.repository.name": repo["name"],
        "vcs.repository.url.full": repo.get("url") or "",
    }
    steps = wj.get("steps") or []
    any_failure = any((s.get("conclusion") or "") == "failure" for s in steps)
    all_ok = all(
        s.get("status") == "completed" and s.get("conclusion") == "success"
        for s in steps
    )
    spans = [
        {
            "trace_id": trace,
            "span_id": job_span,
            "parent_span_id": _sha(f"{run}{att}s")[16:32],
            "name": job,
            "kind": 2,
            "start_ts": _ts((steps[0] if steps else wj).get("started_at")),
            "end_ts": _ts((steps[-1] if steps else wj).get("completed_at")),
            "status_code": 2 if any_failure else (1 if all_ok else 0),
            "status_message": wj.get("conclusion") or "",
            "attrs": {},
            "link_trace_ids": [],
        }
    ]
    counts = {}
    for s in steps:
        counts[s["name"]] = counts.get(s["name"], 0) + 1
    for i, s in enumerate(steps):
        dup = counts[s["name"]] > 1
        key = (
            f"{run}{att}{job}{s['name']}{i + 1}"
            if dup
            else f"{run}{att}{job}{s['name']}"
        )
        completed = s.get("completed_at") or s.get("started_at")
        spans.append(
            {
                "trace_id": trace,
                "span_id": _sha(key)[16:32],
                "parent_span_id": job_span,
                "name": s["name"],
                "kind": 2,
                "start_ts": _ts(s.get("started_at")),
                "end_ts": _ts(completed),
                "status_code": _status(s.get("conclusion")),
                "status_message": s.get("conclusion") or "",
                "attrs": {
                    "ci.github.workflow.job.step.name": s["name"],
                    "ci.github.workflow.job.step.status": s.get("status") or "",
                    "ci.github.workflow.job.step.conclusion": s.get("conclusion") or "",
                    "ci.github.workflow.job.step.number": str(
                        i + 1 if dup else s["number"]
                    ),
                    "ci.github.workflow.job.step.started_at": _rfc(s.get("started_at")),
                    "ci.github.workflow.job.step.completed_at": _rfc(completed),
                },
                "link_trace_ids": [],
            }
        )
    for sp in spans:
        sp["resource"] = resource
    return spans


def _convert_pr_url(u):
    u = u.replace("/repos", "", 1)
    u = u.replace("/pulls", "/pull", 1)
    return u.replace("api.", "", 1)


def _expected_run_spans(doc):
    wr, repo, sender = doc["workflow_run"], doc["repository"], doc.get("sender", {})
    if wr.get("status") != "completed":
        return []
    run, att = wr["id"], wr["run_attempt"]
    hc = wr.get("head_commit") or {}
    resource = {
        "service.name": _svc(repo),
        "cicd.pipeline.run.actor.login": (wr.get("actor") or {}).get("login") or "",
        "cicd.pipeline.run.conclusion": wr.get("conclusion") or "",
        "cicd.pipeline.run.created_at": _rfc(wr.get("created_at")),
        "cicd.pipeline.run.display_title": wr.get("display_title") or "",
        "cicd.pipeline.run.event": wr.get("event") or "",
        "cicd.pipeline.run.head_branch": wr.get("head_branch") or "",
        "cicd.pipeline.run.head_sha": wr.get("head_sha") or "",
        "cicd.pipeline.run.html_url": wr.get("html_url") or "",
        "cicd.pipeline.run.id": str(run),
        "cicd.pipeline.run.name": wr.get("name") or "",
        "cicd.pipeline.run.path": (doc.get("workflow") or {}).get("path") or "",
        "cicd.pipeline.run.run_attempt": str(att),
        "cicd.pipeline.run.run_started_at": _rfc(wr.get("run_started_at")),
        "cicd.pipeline.run.status": wr.get("status") or "",
        "cicd.pipeline.run.sender.login": (sender or {}).get("login") or "",
        "cicd.pipeline.run.triggering_actor.login": (wr.get("triggering_actor") or {}).get("login") or "",
        "cicd.pipeline.run.updated_at": _rfc(wr.get("updated_at")),
        "vcs.vendor.name": "github",
        "vcs.ref.head_branch": wr.get("head_branch") or "",
        "vcs.ref.head_commit.author.email": (hc.get("author") or {}).get("email") or "",
        "vcs.ref.head_commit.author.name": (hc.get("author") or {}).get("name") or "",
        "vcs.ref.head_commit.committer.email": (hc.get("committer") or {}).get("email") or "",
        "vcs.ref.head_commit.committer.name": (hc.get("committer") or {}).get("name") or "",
        "vcs.ref.head_commit.message": hc.get("message") or "",
        "vcs.ref.head_commit.timestamp": _rfc(hc.get("timestamp")),
        "vcs.ref.head_sha": wr.get("head_sha") or "",
        "vcs.repository.name": repo["name"],
    }
    prev = wr.get("previous_attempt_url") or ""
    if prev:
        resource["cicd.pipeline.run.previous_attempt_url"] = prev.replace(
            "api.github.com/repos", "github.com", 1
        )
    refw = wr.get("referenced_workflows") or []
    if refw:
        resource["cicd.pipeline.run.referenced_workflows"] = ";".join(
            w.get("path") or "" for w in refw
        )
    prs = wr.get("pull_requests") or []
    if prs:
        resource["vcs.change.url"] = ";".join(_convert_pr_url(p["url"]) for p in prs)
    return [
        {
            "trace_id": _sha(f"{run}{att}t")[:32],
            "span_id": _sha(f"{run}{att}s")[16:32],
            "parent_span_id": "",
            "name": wr.get("name"),
            "kind": 2,
            "start_ts": _ts(wr.get("run_started_at")),
            "end_ts": _ts(wr.get("updated_at")),
            "status_code": _status(wr.get("conclusion")),
            "status_message": wr.get("conclusion") or "",
            "attrs": {},
            "link_trace_ids": (
                [_sha(f"{run}{att - 1}t")[:32]] if prev and att > 1 else []
            ),
            "resource": resource,
        }
    ]


def _row_to_dict(r):
    return {
        "trace_id": r["trace_id"],
        "span_id": r["span_id"],
        "parent_span_id": r["parent_span_id"],
        "name": r["name"],
        "kind": r["kind"],
        "start_ts": r["start_ts"].replace(tzinfo=timezone.utc) if r["start_ts"] else None,
        "end_ts": r["end_ts"].replace(tzinfo=timezone.utc) if r["end_ts"] else None,
        "status_code": r["status_code"],
        "status_message": r["status_message"],
        "attrs": dict(r["attrs"]),
        "link_trace_ids": list(r["link_trace_ids"]),
        "resource": dict(r["resource"]),
    }


def _replay(spark, rel):
    path = os.path.join(FIXDIR, rel)
    payload = open(path).read()
    event_type = "workflow_run" if "workflow_run" in rel else "workflow_job"
    raw = spark.createDataFrame(
        [(event_type, payload)], "event_type string, payload string"
    )
    return actions_webhook_spans(raw).collect()


@pytest.mark.parametrize("rel,event_type,n_spans", ALL_FIXTURES)
def test_fixture_span_count(spark, rel, event_type, n_spans):
    """Span counts per trace_receiver_test.go:75-92 + the F4 completed gate."""
    assert len(_replay(spark, rel)) == n_spans


@pytest.mark.parametrize(
    "rel", [f for f, _, n in ALL_FIXTURES if n > 0]
)
def test_fixture_full_span_set(spark, rel):
    """Full span-set equality vs the hashlib oracle: ids, parentage, names,
    timestamps, statuses, step attrs, resource attrs, links."""
    doc = json.load(open(os.path.join(FIXDIR, rel)))
    expected = (
        _expected_run_spans(doc) if "workflow_run" in rel else _expected_job_spans(doc)
    )
    got = sorted((_row_to_dict(r) for r in _replay(spark, rel)), key=lambda d: d["span_id"])
    exp = sorted(expected, key=lambda d: d["span_id"])
    assert len(got) == len(exp)
    for g, e in zip(got, exp):
        assert g == e, f"\nGOT {json.dumps(g, default=str, indent=1)}\nEXP {json.dumps(e, default=str, indent=1)}"


def test_step_attrs_reference_checkpoint(spark):
    """TestResourceAndSpanAttributesCreation (trace_receiver_test.go:178-205)."""
    rows = _replay(spark, "completed/5_workflow_job_completed.json")
    by_step = {
        r["attrs"].get("ci.github.workflow.job.step.name"): r["attrs"]
        for r in rows
        if r["attrs"]
    }
    assert by_step["Set up job"]["ci.github.workflow.job.step.number"] == "1"
    assert by_step["Run actions/checkout@v3"]["ci.github.workflow.job.step.number"] == "2"
