"""Webhook event → trace-span expansion (SURVEY §3.2), golden-parity with
the reference receiver.

Re-expresses /root/reference/receiver/githubreceiver/trace_event_handling.go
as pure column expressions over event rows:

- deterministic ids (:88-121, :227-240, :355-369): sha256 over the Go
  ``fmt.Sprintf`` keys — NO separator, a 't'/'s' suffix distinguishes trace
  vs parent-span ids; trace = hex[0:32], span = hex[16:32].
- run event → 1 root span (:125-171) with previous-attempt link (:157-168);
- job event → 1 job span (:176-225, start/end anchored to first/last STEP
  in array order, not min/max) → 1 queue span (:373-407, parent = job) →
  N step spans (:245-262, parent = QUEUE span, names deduped per
  newUniqueSteps :267-296 = W1 row_number dedup);
- span kind SERVER=2; status Ok=1/Error=2/Unset=0 (pdata enums);
- resource attributes per model.go:154-287 (service-name precedence
  :319-343, API→HTML URL rewrite :346-349).

One event row fans out to 2+N span rows via explode + unionByName — no UDF,
no UDTF, whole-stage codegen end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.strings import api_to_html_url, format_service_name

KIND_SERVER = 2
STATUS_UNSET, STATUS_OK, STATUS_ERROR = 0, 1, 2

SPAN_COLS = [
    "trace_id",
    "span_id",
    "parent_span_id",
    "name",
    "kind",
    "start_ts",
    "end_ts",
    "status_code",
    "status_message",
    "attrs",
    "link_trace_ids",
    "resource",
]


def _digest(*parts: Column) -> Column:
    # fmt.Sprintf("%d%d…") — concatenation WITHOUT separator
    return F.sha2(F.concat(*[p.cast("string") for p in parts]), 256)


def run_trace_id(run_id: Column, attempt: Column) -> Column:
    """newTraceID (trace_event_handling.go:88-105): sha256("{run}{attempt}t")[0:32]."""
    return F.substring(_digest(run_id, attempt, F.lit("t")), 1, 32)


def root_span_id(run_id: Column, attempt: Column) -> Column:
    """newParentSpanID (:107-121): sha256("{run}{attempt}s")[16:32]."""
    return F.substring(_digest(run_id, attempt, F.lit("s")), 17, 16)


def job_span_id(run_id: Column, attempt: Column, job_name: Column) -> Column:
    """newJobSpanID (:227-240): sha256("{run}{attempt}{job}")[16:32]."""
    return F.substring(_digest(run_id, attempt, job_name), 17, 16)


def step_span_id(
    run_id: Column, attempt: Column, job_name: Column, step_name: Column, number: Column
) -> Column:
    """newStepSpanID (:355-369): sha256("{run}{attempt}{job}{step}{number}")[16:32]."""
    return F.substring(_digest(run_id, attempt, job_name, step_name, number), 17, 16)


def _status_code(conclusion: Column) -> Column:
    """createRootSpan/createParentSpan status switch (:145-152, :212-219)."""
    c = F.lower(conclusion)
    return (
        F.when(c == "success", F.lit(STATUS_OK))
        .when(c == "failure", F.lit(STATUS_ERROR))
        .otherwise(F.lit(STATUS_UNSET))
    )


def _service_name(custom_service_name: Column, repo_name: Column) -> Column:
    """getServiceName precedence + formatString (model.go:319-343)."""
    return format_service_name(F.coalesce(custom_service_name, repo_name))


def _nonnull_map(*pairs) -> Column:
    """map<string,string> dropping null values (conditional attrs)."""
    kvs = []
    for k, v in pairs:
        kvs.extend([F.lit(k), v.cast("string")])
    return F.map_filter(F.create_map(*kvs), lambda _, v: v.isNotNull())


# Go zero values, shared by the webhook span builders (actions_traces.py,
# ado_traces.py): a missing JSON field reads as Go's zero, never as null
GO_ZERO_RFC3339 = "0001-01-01T00:00:00Z"


def _rfc3339(ts: Column) -> Column:
    """time.RFC3339: Go formats the zero time rather than skipping it."""
    return F.coalesce(F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ssXXX"), F.lit(GO_ZERO_RFC3339))


def _put(v: Column) -> Column:
    """PutStr of a Go getter: a missing field gives "", so the attr is ALWAYS
    present — from_json nulls must coalesce, not drop."""
    return F.coalesce(v.cast("string"), F.lit(""))


def _num(c: Column) -> Column:
    """Go %d of a missing numeric field is "0" — never null-propagate."""
    return F.coalesce(c.cast("string"), F.lit("0"))


def workflow_run_spans(events: DataFrame) -> DataFrame:
    """Run event → root span (handleWorkflowRun :21-43 + createRootSpan
    :125-171 + getWorkflowRunAttrs model.go:154-225)."""
    run_id, attempt = F.col("run_id"), F.col("run_attempt")
    conclusion = F.col("conclusion")
    prev_link = F.when(
        (F.col("previous_attempt_url") != "") & (attempt > 1),
        F.array(run_trace_id(run_id, attempt - 1)),
    ).otherwise(F.array().cast("array<string>"))
    run_status = F.when(
        conclusion.isin("success", "failure", "skipped", "cancelled"), conclusion
    ).otherwise(F.when(conclusion != "", conclusion))
    resource = _nonnull_map(
        ("service.name", _service_name(F.col("repo_custom_service_name"), F.col("repo_name"))),
        ("vcs.repository.name", F.col("repo_name")),
        ("vcs.vendor.name", F.lit("github")),
        ("vcs.ref.head.name", F.col("head_branch")),
        ("vcs.ref.head.type", F.lit("branch")),
        ("vcs.ref.head.revision", F.col("head_sha")),
        ("vcs.ref.head.revision.author.name", F.col("committer_name")),
        ("vcs.ref.head.revision.author.email", F.col("committer_email")),
        ("cicd.pipeline.name", F.col("name")),
        ("cicd.pipeline.run.sender.login", F.col("sender_login")),
        ("cicd.pipeline.run.url.full", F.col("html_url")),
        ("cicd.pipeline.run.id", run_id),
        ("cicd.pipeline.run.status", run_status),
        (
            "cicd.pipeline.run.previous_attempt.url.full",
            F.when(
                F.col("previous_attempt_url") != "",
                api_to_html_url("previous_attempt_url"),
            ),
        ),
    )
    return events.select(
        run_trace_id(run_id, attempt).alias("trace_id"),
        root_span_id(run_id, attempt).alias("span_id"),
        F.lit("").alias("parent_span_id"),
        F.col("name").alias("name"),
        F.lit(KIND_SERVER).alias("kind"),
        F.col("run_started_at").alias("start_ts"),
        F.col("updated_at").alias("end_ts"),
        _status_code(conclusion).alias("status_code"),
        conclusion.alias("status_message"),
        _nonnull_map().alias("attrs"),
        prev_link.alias("link_trace_ids"),
        resource.alias("resource"),
    )


def workflow_job_spans(events: DataFrame) -> DataFrame:
    """Job event → job + queue + step spans (handleWorkflowJob :48-83)."""
    run_id, attempt, job = F.col("run_id"), F.col("run_attempt"), F.col("job_name")
    resource = _nonnull_map(
        ("service.name", _service_name(F.col("repo_custom_service_name"), F.col("repo_name"))),
        ("vcs.repository.name", F.col("repo_name")),
        ("vcs.vendor.name", F.lit("github")),
        ("vcs.ref.head.name", F.col("head_branch")),
        ("vcs.ref.head.type", F.lit("branch")),
        ("vcs.ref.head.revision", F.col("head_sha")),
        ("cicd.pipeline.worker.id", F.col("runner_id")),
        ("cicd.pipeline.worker.group.id", F.col("runner_group_id")),
        ("cicd.pipeline.worker.name", F.col("runner_name")),
        ("cicd.pipeline.worker.group.name", F.col("runner_group_name")),
        ("cicd.pipeline.worker.node.id", F.col("node_id")),
        (
            "cicd.pipeline.worker.labels",
            # reference guards with len(labels) > 0 (model.go:257): the attr
            # is OMITTED for empty label arrays, not emitted as '[]'
            F.when(
                F.size("labels") > 0,
                F.to_json(F.transform(F.col("labels"), lambda x: F.lower(x))),
            ),
        ),
        ("cicd.pipeline.name", job),
        ("cicd.pipeline.task.run.sender.login", F.col("sender_login")),
        ("cicd.pipeline.task.run.url.full", F.col("html_url")),
        ("cicd.pipeline.task.run.id", F.col("job_id")),
        ("cicd.pipeline.run.task.status", F.lower(F.col("conclusion"))),
    )
    base = events.withColumn("_trace_id", run_trace_id(run_id, attempt)).withColumn(
        "_resource", resource
    )

    # job span: start/end anchored to first/last step IN ARRAY ORDER when
    # steps exist (trace_event_handling.go:199-210)
    has_steps = F.size("steps") > 0
    job_span = base.select(
        F.col("_trace_id").alias("trace_id"),
        job_span_id(run_id, attempt, job).alias("span_id"),
        root_span_id(run_id, attempt).alias("parent_span_id"),
        job.alias("name"),
        F.lit(KIND_SERVER).alias("kind"),
        F.when(has_steps, F.element_at("steps", 1)["started_at"])
        .otherwise(F.col("started_at"))
        .alias("start_ts"),
        F.when(has_steps, F.element_at("steps", -1)["completed_at"])
        .otherwise(F.col("completed_at"))
        .alias("end_ts"),
        _status_code(F.col("conclusion")).alias("status_code"),
        F.col("conclusion").alias("status_message"),
        _nonnull_map().alias("attrs"),
        F.array().cast("array<string>").alias("link_trace_ids"),
        F.col("_resource").alias("resource"),
    )

    # queue span (:373-407): parent = job span; duration attr in ns (double)
    queue_name = F.concat(F.lit("queue-"), job)
    queue_ns = (
        (F.unix_micros("started_at") - F.unix_micros("created_at")) * 1000.0
    )
    queue_span = base.select(
        F.col("_trace_id").alias("trace_id"),
        step_span_id(run_id, attempt, job, queue_name, F.lit(1)).alias("span_id"),
        job_span_id(run_id, attempt, job).alias("parent_span_id"),
        queue_name.alias("name"),
        F.lit(KIND_SERVER).alias("kind"),
        F.col("created_at").alias("start_ts"),
        F.col("started_at").alias("end_ts"),
        F.lit(STATUS_UNSET).alias("status_code"),
        F.lit("").alias("status_message"),
        _nonnull_map(
            ("cicd.pipeline.run.queue.duration", queue_ns)
        ).alias("attrs"),
        F.array().cast("array<string>").alias("link_trace_ids"),
        F.col("_resource").alias("resource"),
    )

    # step spans: explode in array order, dedup names via W1 row_number
    steps = base.select(
        "_trace_id",
        "_resource",
        run_id.alias("_run_id"),
        attempt.alias("_attempt"),
        job.alias("_job"),
        F.col("conclusion").alias("_job_conclusion"),
        F.posexplode("steps").alias("pos", "step"),
    )
    w = Window.partitionBy("_run_id", "_attempt", "_job", F.col("step.name")).orderBy("pos")
    cnt_w = Window.partitionBy("_run_id", "_attempt", "_job", F.col("step.name"))
    rn = F.row_number().over(w)
    n_same = F.count(F.lit(1)).over(cnt_w)
    unique_name = F.when(
        rn > 1, F.concat(F.col("step.name"), F.lit("-"), (rn - 1).cast("string"))
    ).otherwise(F.col("step.name"))
    step_concl = F.lower(F.col("step.conclusion"))
    step_spans = steps.select(
        F.col("_trace_id").alias("trace_id"),
        step_span_id(
            F.col("_run_id"),
            F.col("_attempt"),
            F.col("_job"),
            F.col("step.name"),
            F.col("step.number"),
        ).alias("span_id"),
        step_span_id(
            F.col("_run_id"),
            F.col("_attempt"),
            F.col("_job"),
            F.concat(F.lit("queue-"), F.col("_job")),
            F.lit(1),
        ).alias("parent_span_id"),
        unique_name.alias("name"),
        F.lit(KIND_SERVER).alias("kind"),
        F.col("step.started_at").alias("start_ts"),
        F.col("step.completed_at").alias("end_ts"),
        _status_code(F.col("step.conclusion")).alias("status_code"),
        F.col("_job_conclusion").alias("status_message"),
        _nonnull_map(
            ("cicd.pipeline.task.name", unique_name),
            (
                "cicd.pipeline.run.task.status",
                F.when(
                    step_concl.isin("success", "failure", "skipped", "cancelled"), step_concl
                ).otherwise(F.col("step.status")),
            ),
        ).alias("attrs"),
        F.array().cast("array<string>").alias("link_trace_ids"),
        F.col("_resource").alias("resource"),
    )
    # n_same computed for documentation parity with newUniqueSteps's count map;
    # row_number alone reproduces the observable naming.
    _ = n_same
    return job_span.unionByName(queue_span).unionByName(step_spans)
