"""GitHub Actions receiver: raw webhook JSON → trace spans (SURVEY §3.2 S27).

Re-expresses /root/reference/receiver/githubactionsreceiver/
trace_event_handling.go + trace_attributes.go + trace_receiver.go as a
from_json → filter → explode plan over raw payload strings — the same path
the Go receiver drives in its fixture tests
(testdata/{completed,queued,requested,unknown}/*.json).

Reference semantics preserved exactly:
- F4 gate (trace_receiver.go:125-133): only status == "completed" events
  produce spans; queued/requested/unknown payloads are dropped.
- ids (trace_event_handling.go:252-338): sha256 over no-separator Sprintf
  keys; trace = hex[0:32]; span = hex[16:32]; step ids append the 1-based
  array position ONLY when the step name is duplicated within the job
  (processSteps :319-328).
- job parent span (:72-130): times anchored to steps[0].started_at /
  steps[-1].completed_at in ARRAY order (falls back to job times when no
  steps); status anyFailure→ERROR else allSuccessful→OK else UNSET
  (vacuously OK for zero steps).
- step spans (:188-249): zero completed_at is replaced by started_at BEFORE
  the RFC3339 attrs are formatted; status from the step conclusion; the
  step.number attr is the array position for duplicated names, the payload
  number otherwise.
- run root span (:144-186): previous-attempt trace link when
  previous_attempt_url != "" and attempt > 1.
- resource attrs (trace_attributes.go:16-137): PutStr semantics — every
  listed key is ALWAYS present, Go nil getters yield "" (so nulls coalesce
  to empty strings, not dropped); labels lowercased + SORTED + ","-joined,
  literal "no labels" when empty; conditional keys (previous_attempt_url,
  referenced_workflows, vcs.change.url) only when non-empty.
- service name (generateServiceName :292-298 + custom_properties override
  trace_attributes.go:21-26).

Output matches plans/traces.py SPAN_COLS so both receivers feed the same
sinks/connectors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.strings import format_service_name, replace_first
from .traces import KIND_SERVER, SPAN_COLS, STATUS_ERROR, STATUS_OK, STATUS_UNSET
from .traces import _num, _put, _rfc3339

_STEP = "struct<name:string,status:string,conclusion:string,number:int,started_at:timestamp,completed_at:timestamp>"

JOB_EVENT_SCHEMA = f"""
    struct<
      action: string,
      workflow_job: struct<
        id: long, run_id: long, run_attempt: int, workflow_name: string,
        head_branch: string, head_sha: string, status: string,
        conclusion: string, created_at: timestamp, started_at: timestamp,
        completed_at: timestamp, name: string, labels: array<string>,
        runner_name: string, runner_group_name: string, html_url: string,
        steps: array<{_STEP}>
      >,
      repository: struct<
        name: string, url: string,
        custom_properties: map<string,string>,
        owner: struct<login: string>
      >,
      sender: struct<login: string>
    >
"""

RUN_EVENT_SCHEMA = """
    struct<
      action: string,
      workflow_run: struct<
        id: long, name: string, run_attempt: int, status: string,
        conclusion: string, event: string, display_title: string,
        created_at: timestamp, updated_at: timestamp,
        run_started_at: timestamp, head_branch: string, head_sha: string,
        html_url: string, previous_attempt_url: string,
        actor: struct<login: string>,
        triggering_actor: struct<login: string>,
        head_commit: struct<
          message: string, timestamp: timestamp,
          author: struct<name: string, email: string>,
          committer: struct<name: string, email: string>
        >,
        pull_requests: array<struct<url: string>>,
        referenced_workflows: array<struct<path: string>>
      >,
      workflow: struct<path: string>,
      repository: struct<
        name: string,
        custom_properties: map<string,string>
      >,
      sender: struct<login: string>
    >
"""


def _digest(*parts: Column) -> Column:
    # Go Sprintf renders zero values ("0" for %d, "" for %s) — a missing
    # JSON field must hash like Go's zero, not null-propagate the whole id
    return F.sha2(
        F.concat(*[F.coalesce(p.cast("string"), F.lit("")) for p in parts]), 256
    )


def _trace_id(run_id: Column, attempt: Column) -> Column:
    """generateTraceID (:252-264): sha256("{run}{attempt}t")[0:32]."""
    return F.substring(_digest(_num(run_id), _num(attempt), F.lit("t")), 1, 32)


def _parent_span_id(run_id: Column, attempt: Column) -> Column:
    """generateParentSpanID (:280-291): sha256("{run}{attempt}s")[16:32]."""
    return F.substring(_digest(_num(run_id), _num(attempt), F.lit("s")), 17, 16)


def _job_span_id(run_id: Column, attempt: Column, job: Column) -> Column:
    """generateJobSpanID (:266-278)."""
    return F.substring(_digest(_num(run_id), _num(attempt), job), 17, 16)


def _status_from_conclusion(conclusion: Column) -> Column:
    return (
        F.when(conclusion == "success", F.lit(STATUS_OK))
        .when(conclusion == "failure", F.lit(STATUS_ERROR))
        .otherwise(F.lit(STATUS_UNSET))
    )


def _service_name(
    repo_name: Column,
    custom_props: Column,
    custom_service_name: str,
    prefix: str,
    suffix: str,
) -> Column:
    """custom_properties["service_name"] > config.CustomServiceName >
    prefix + formatted + suffix (trace_attributes.go:21-26, :292-298)."""
    cfg = (
        F.lit(custom_service_name)
        if custom_service_name
        else F.concat(F.lit(prefix), format_service_name(repo_name), F.lit(suffix))
    )
    return F.coalesce(F.element_at(custom_props, "service_name"), cfg)


def actions_job_spans(
    raw: DataFrame,
    custom_service_name: str = "",
    service_name_prefix: str = "",
    service_name_suffix: str = "",
) -> DataFrame:
    """workflow_job payload strings → parent + step spans (NO queue span —
    unlike the githubreceiver, this receiver doesn't synthesize one)."""
    ev = raw.select(
        F.from_json(F.col("payload"), JOB_EVENT_SCHEMA).alias("e")
    ).select("e.workflow_job", "e.repository", "e.sender")
    # F4: trace_receiver.go:125-128
    ev = ev.filter(F.col("workflow_job.status") == "completed")

    wj = F.col("workflow_job")
    run_id, attempt, job = wj["run_id"], wj["run_attempt"], wj["name"]
    steps = wj["steps"]

    labels = F.col("workflow_job.labels")
    labels_attr = F.when(
        F.size(labels) > 0,
        F.array_join(F.array_sort(F.transform(labels, F.lower)), ","),
    ).otherwise(F.lit("no labels"))

    resource = F.map_from_arrays(
        F.array(*[F.lit(k) for k in [
            "service.name",
            "cicd.pipeline.name",
            "cicd.pipeline.task.created_at",
            "cicd.pipeline.task.completed_at",
            "cicd.pipeline.task.conclusion",
            "cicd.pipeline.task.head_branch",
            "cicd.pipeline.task.head_sha",
            "cicd.pipeline.task.html_url",
            "cicd.pipeline.task.labels",
            "cicd.pipeline.task.name",
            "cicd.pipeline.task.run.id",
            "cicd.pipeline.task.runner.group.name",
            "cicd.pipeline.task.runner.name",
            "cicd.pipeline.task.sender.login",
            "cicd.pipeline.task.started_at",
            "cicd.pipeline.task.status",
            "vcs.vendor.name",
            "vcs.repository.owner.login",
            "vcs.repository.name",
            "vcs.repository.url.full",
        ]]),
        F.array(
            _service_name(
                F.col("repository.name"),
                F.col("repository.custom_properties"),
                custom_service_name,
                service_name_prefix,
                service_name_suffix,
            ),
            _put(wj["workflow_name"]),
            _rfc3339(wj["created_at"]),
            _rfc3339(wj["completed_at"]),
            _put(wj["conclusion"]),
            _put(wj["head_branch"]),
            _put(wj["head_sha"]),
            _put(wj["html_url"]),
            labels_attr,
            _put(job),
            _put(run_id),
            _put(wj["runner_group_name"]),
            _put(wj["runner_name"]),
            _put(F.col("sender.login")),
            _rfc3339(wj["started_at"]),
            _put(wj["status"]),
            F.lit("github"),
            _put(F.col("repository.owner.login")),
            _put(F.col("repository.name")),
            _put(F.col("repository.url")),
        ),
    )

    base = (
        ev.withColumn("_trace_id", _trace_id(run_id, attempt))
        .withColumn("_resource", resource)
        .withColumn("_job_span_id", _job_span_id(run_id, attempt, job))
    )

    # parent span (createParentSpan :72-130)
    has_steps = F.size(steps) > 0
    any_failure = F.exists(steps, lambda s: s["conclusion"] == "failure")
    all_ok = F.forall(
        steps,
        lambda s: (s["status"] == "completed") & (s["conclusion"] == "success"),
    )
    parent = base.select(
        F.col("_trace_id").alias("trace_id"),
        F.col("_job_span_id").alias("span_id"),
        _parent_span_id(run_id, attempt).alias("parent_span_id"),
        job.alias("name"),
        F.lit(KIND_SERVER).alias("kind"),
        F.when(has_steps, F.element_at(steps, 1)["started_at"])
        .otherwise(wj["started_at"])
        .alias("start_ts"),
        F.when(has_steps, F.element_at(steps, -1)["completed_at"])
        .otherwise(wj["completed_at"])
        .alias("end_ts"),
        F.when(any_failure, F.lit(STATUS_ERROR))
        .when(all_ok, F.lit(STATUS_OK))
        .otherwise(F.lit(STATUS_UNSET))
        .alias("status_code"),
        _put(wj["conclusion"]).alias("status_message"),
        F.create_map().cast("map<string,string>").alias("attrs"),
        F.array().cast("array<string>").alias("link_trace_ids"),
        F.col("_resource").alias("resource"),
    )

    # step spans (processSteps :319-328 + createSpan :188-249)
    exploded = base.select(
        "_trace_id",
        "_resource",
        "_job_span_id",
        run_id.alias("_run_id"),
        attempt.alias("_attempt"),
        job.alias("_job"),
        steps.alias("_steps"),
        F.posexplode(steps).alias("pos", "step"),
    )
    name_count = F.size(
        F.filter(F.col("_steps"), lambda s: s["name"] == F.col("step.name"))
    )
    is_dup = name_count > 1
    completed_at = F.coalesce(F.col("step.completed_at"), F.col("step.started_at"))
    dup_id = F.substring(
        _digest(
            _num(F.col("_run_id")),
            _num(F.col("_attempt")),
            F.col("_job"),
            F.col("step.name"),
            F.col("pos") + 1,
        ),
        17,
        16,
    )
    uniq_id = F.substring(
        _digest(
            _num(F.col("_run_id")), _num(F.col("_attempt")), F.col("_job"), F.col("step.name")
        ),
        17,
        16,
    )
    number_attr = F.when(is_dup, (F.col("pos") + 1).cast("long")).otherwise(
        F.col("step.number").cast("long")
    )
    step_spans = exploded.select(
        F.col("_trace_id").alias("trace_id"),
        F.when(is_dup, dup_id).otherwise(uniq_id).alias("span_id"),
        F.col("_job_span_id").alias("parent_span_id"),
        F.col("step.name").alias("name"),
        F.lit(KIND_SERVER).alias("kind"),
        F.col("step.started_at").alias("start_ts"),
        completed_at.alias("end_ts"),
        _status_from_conclusion(F.col("step.conclusion")).alias("status_code"),
        _put(F.col("step.conclusion")).alias("status_message"),
        F.map_from_arrays(
            F.array(
                F.lit("ci.github.workflow.job.step.name"),
                F.lit("ci.github.workflow.job.step.status"),
                F.lit("ci.github.workflow.job.step.conclusion"),
                F.lit("ci.github.workflow.job.step.number"),
                F.lit("ci.github.workflow.job.step.started_at"),
                F.lit("ci.github.workflow.job.step.completed_at"),
            ),
            F.array(
                _put(F.col("step.name")),
                _put(F.col("step.status")),
                _put(F.col("step.conclusion")),
                number_attr.cast("string"),
                _rfc3339(F.col("step.started_at")),
                _rfc3339(completed_at),
            ),
        ).alias("attrs"),
        F.array().cast("array<string>").alias("link_trace_ids"),
        F.col("_resource").alias("resource"),
    )
    return parent.unionByName(step_spans).select(*SPAN_COLS)


def _convert_pr_url(url: Column) -> Column:
    """convertPRURL (:137-141): first /repos → '', /pulls → /pull, api. → ''."""
    u = replace_first(url, "/repos", "")
    u = replace_first(u, "/pulls", "/pull")
    return replace_first(u, "api.", "")


def actions_run_spans(raw: DataFrame) -> DataFrame:
    """workflow_run payload strings → one root span per completed run; the
    service name has no config override, so it is the repository's
    ``service_name`` custom property or its formatted name."""
    ev = raw.select(
        F.from_json(F.col("payload"), RUN_EVENT_SCHEMA).alias("e")
    ).select("e.workflow_run", "e.workflow", "e.repository", "e.sender")
    # F4: trace_receiver.go:131-134
    ev = ev.filter(F.col("workflow_run.status") == "completed")

    wr = F.col("workflow_run")
    run_id, attempt = wr["id"], wr["run_attempt"]

    prev_url = F.coalesce(wr["previous_attempt_url"], F.lit(""))
    base_keys = [
        "service.name",
        "cicd.pipeline.run.actor.login",
        "cicd.pipeline.run.conclusion",
        "cicd.pipeline.run.created_at",
        "cicd.pipeline.run.display_title",
        "cicd.pipeline.run.event",
        "cicd.pipeline.run.head_branch",
        "cicd.pipeline.run.head_sha",
        "cicd.pipeline.run.html_url",
        "cicd.pipeline.run.id",
        "cicd.pipeline.run.name",
        "cicd.pipeline.run.path",
        "cicd.pipeline.run.run_attempt",
        "cicd.pipeline.run.run_started_at",
        "cicd.pipeline.run.status",
        "cicd.pipeline.run.sender.login",
        "cicd.pipeline.run.triggering_actor.login",
        "cicd.pipeline.run.updated_at",
        "vcs.vendor.name",
        "vcs.ref.head_branch",
        "vcs.ref.head_commit.author.email",
        "vcs.ref.head_commit.author.name",
        "vcs.ref.head_commit.committer.email",
        "vcs.ref.head_commit.committer.name",
        "vcs.ref.head_commit.message",
        "vcs.ref.head_commit.timestamp",
        "vcs.ref.head_sha",
        "vcs.repository.name",
    ]
    base_vals = [
        _service_name(
            F.col("repository.name"), F.col("repository.custom_properties"), "", "", ""
        ),
        _put(wr["actor"]["login"]),
        _put(wr["conclusion"]),
        _rfc3339(wr["created_at"]),
        _put(wr["display_title"]),
        _put(wr["event"]),
        _put(wr["head_branch"]),
        _put(wr["head_sha"]),
        _put(wr["html_url"]),
        _put(run_id),
        _put(wr["name"]),
        _put(F.col("workflow.path")),
        _put(attempt),
        _rfc3339(wr["run_started_at"]),
        _put(wr["status"]),
        _put(F.col("sender.login")),
        _put(wr["triggering_actor"]["login"]),
        _rfc3339(wr["updated_at"]),
        F.lit("github"),
        _put(wr["head_branch"]),
        _put(wr["head_commit"]["author"]["email"]),
        _put(wr["head_commit"]["author"]["name"]),
        _put(wr["head_commit"]["committer"]["email"]),
        _put(wr["head_commit"]["committer"]["name"]),
        _put(wr["head_commit"]["message"]),
        _rfc3339(wr["head_commit"]["timestamp"]),
        _put(wr["head_sha"]),
        _put(F.col("repository.name")),
    ]
    resource = F.map_from_arrays(
        F.array(*[F.lit(k) for k in base_keys]), F.array(*base_vals)
    )
    # conditional keys (trace_attributes.go:92-96, :98-104, :121-127)
    resource = F.when(
        prev_url != "",
        F.map_concat(
            resource,
            F.create_map(
                F.lit("cicd.pipeline.run.previous_attempt_url"),
                replace_first(prev_url, "api.github.com/repos", "github.com"),
            ),
        ),
    ).otherwise(resource)
    ref_wf = F.coalesce(wr["referenced_workflows"], F.array().cast("array<struct<path:string>>"))
    resource = F.when(
        F.size(ref_wf) > 0,
        F.map_concat(
            resource,
            F.create_map(
                F.lit("cicd.pipeline.run.referenced_workflows"),
                F.array_join(F.transform(ref_wf, lambda w: w["path"]), ";"),
            ),
        ),
    ).otherwise(resource)
    prs = F.coalesce(wr["pull_requests"], F.array().cast("array<struct<url:string>>"))
    resource = F.when(
        F.size(prs) > 0,
        F.map_concat(
            resource,
            F.create_map(
                F.lit("vcs.change.url"),
                F.array_join(F.transform(prs, lambda p: _convert_pr_url(p["url"])), ";"),
            ),
        ),
    ).otherwise(resource)

    link = F.when(
        (prev_url != "") & (attempt > 1),
        F.array(_trace_id(run_id, attempt - 1)),
    ).otherwise(F.array().cast("array<string>"))

    return ev.select(
        _trace_id(run_id, attempt).alias("trace_id"),
        _parent_span_id(run_id, attempt).alias("span_id"),
        F.lit("").alias("parent_span_id"),
        wr["name"].alias("name"),
        F.lit(KIND_SERVER).alias("kind"),
        wr["run_started_at"].alias("start_ts"),
        wr["updated_at"].alias("end_ts"),
        _status_from_conclusion(wr["conclusion"]).alias("status_code"),
        _put(wr["conclusion"]).alias("status_message"),
        F.create_map().cast("map<string,string>").alias("attrs"),
        link.alias("link_trace_ids"),
        resource.alias("resource"),
    ).select(*SPAN_COLS)


def actions_webhook_spans(raw: DataFrame) -> DataFrame:
    """S26-style dispatch: route raw (event_type, payload) rows to the two
    handlers; unknown event types are dropped (eventToTraces :64-67)."""
    jobs = actions_job_spans(raw.filter(F.col("event_type") == "workflow_job"))
    runs = actions_run_spans(raw.filter(F.col("event_type") == "workflow_run"))
    return jobs.unionByName(runs)
