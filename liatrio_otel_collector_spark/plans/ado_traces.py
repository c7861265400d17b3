"""Azure DevOps webhook events → trace spans (SURVEY §2.1 S26 + §3.2).

Re-expresses /root/reference/receiver/azuredevopsreceiver/:

- event-type dispatch (trace_receiver.go:227-263): one permissive from_json
  schema + a `when(event_type == …)` router over the three
  ms.vss-pipelines.*-state-changed-event types;
- completed-only gate (trace_receiver.go:168-189, F4): run/stage/job events
  in any other state are dropped;
- deterministic ids (trace_event_handling.go:200-264):
    trace  = sha256("{runId}t")[0:32]          (note: NO attempt, unlike github)
    pipeline span = sha256("pipeline_{pipelineId}")[16:32]
    stage span    = sha256("stage_{stageId}")[16:32]
    job span      = sha256("{runId}{attempt}{jobName}")[16:32]
  parent chain: stage → pipeline span, job → stage span;
- span construction (:103-193): kind INTERNAL=1, names "Pipeline Run: %s" /
  "Pipeline Stage: %s" / "Pipeline Job: %s";
- resource attributes (trace_attributes.go:13-121) incl. RFC3339-formatted
  dates and the /_apis/ → / URL rewrite (transformAzureDevOpsURL :194-198).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.strings import replace_first
from .traces import _nonnull_map, _num, _put, _rfc3339

KIND_INTERNAL = 1

EVENT_RUN = "ms.vss-pipelines.run-state-changed-event"
EVENT_STAGE = "ms.vss-pipelines.stage-state-changed-event"
EVENT_JOB = "ms.vss-pipelines.job-state-changed-event"

# one permissive schema covering all three event shapes (azure_devops_types.go
# :36-123 and siblings) — from_json leaves absent branches null
ADO_EVENT_SCHEMA = """
eventType string,
resource struct<
  projectId: string,
  runId: bigint,
  run: struct<
    id: bigint, name: string, state: string, result: string,
    createdDate: timestamp, finishedDate: timestamp, url: string,
    pipeline: struct<id: bigint, name: string>
  >,
  pipeline: struct<id: bigint, name: string>,
  stage: struct<
    id: string, name: string, displayName: string, attempt: bigint,
    state: string, result: string, startTime: timestamp, finishTime: timestamp
  >,
  job: struct<
    id: string, name: string, attempt: bigint, state: string, result: string,
    startTime: timestamp, finishTime: timestamp
  >,
  repositories: array<struct<
    url: string, type: string,
    change: struct<
      author: struct<name: string, email: string>,
      message: string, version: string
    >
  >>
>,
resourceContainers struct<project: struct<id: string>>
"""


def _digest_span(key: Column) -> Column:
    return F.substring(F.sha2(key, 256), 17, 16)


def ado_trace_id(run_id: Column) -> Column:
    """newTraceID (trace_event_handling.go:203-225): sha256("{runId}t")[0:32]."""
    return F.substring(F.sha2(F.concat(_num(run_id), F.lit("t")), 256), 1, 32)


def pipeline_span_id(pipeline_id: Column) -> Column:
    """generatePipelineSpanID (:227-239): sha256("pipeline_{id}")[16:32]."""
    return _digest_span(F.concat(F.lit("pipeline_"), _num(pipeline_id)))


def stage_span_id(stage_id: Column) -> Column:
    """generateStageSpanID (:241-252): sha256("stage_{id}")[16:32]."""
    return _digest_span(F.concat(F.lit("stage_"), F.coalesce(stage_id, F.lit(""))))


def ado_job_span_id(run_id: Column, attempt: Column, job_name: Column) -> Column:
    """generateJobSpanID (:254-264): sha256("{runId}{attempt}{job}")[16:32]."""
    return _digest_span(
        F.concat(_num(run_id), _num(attempt), F.coalesce(job_name, F.lit("")))
    )


def _put_int(v: Column) -> Column:
    """PutInt semantics: missing numeric fields are 0, never dropped."""
    return F.coalesce(v.cast("bigint"), F.lit(0)).cast("string")


def _repo_attrs(r: Column) -> list[tuple[str, Column]]:
    """Repository attrs from repositories[0] (trace_attributes.go:43-55,
    101-113): url/type ALWAYS put (as "") when the array is non-empty;
    author attrs only when the name is non-empty."""
    repo = F.try_element_at(r, F.lit(1))
    has_repo = repo.isNotNull()
    has_author = repo["change"]["author"]["name"].isNotNull() & (
        repo["change"]["author"]["name"] != ""
    )
    return [
        ("vcs.repository.url.full", F.when(has_repo, _put(repo["url"]))),
        ("vcs.repository.type", F.when(has_repo, _put(repo["type"]))),
        ("vcs.commit.author.name", F.when(has_author, repo["change"]["author"]["name"])),
        ("vcs.commit.author.email", F.when(has_author, _put(repo["change"]["author"]["email"]))),
        ("vcs.commit.message", F.when(has_author, _put(repo["change"]["message"]))),
    ]


def parse_ado_events(raw: DataFrame) -> DataFrame:
    """S26: extract eventType and typed payload from the raw webhook JSON in
    ``body_raw``.

    The parsed struct is materialized ONCE behind an optimizer barrier
    (guide §1.2 "don't compute things twice" / §7.3 planning cost).  Without
    it, predicate pushdown rewrites every downstream dispatch/completed-gate
    filter through this projection into its own
    ``from_json(to_json(payload)).field`` predicate, and each of those giant
    generated-code instances is janino-compiled separately — measured at r6
    as 13.6 s of pure codegen compilation for a 3,000-row input (interpreted
    evaluation of the same plan: 0.46 s).  A repartition alone does NOT stop
    pushdown; the lazy ``localCheckpoint`` plan-barrier does: the three span
    branches and any OTTL filters then reference the materialized struct
    column (tiny expressions), the body is parsed exactly once, and the big
    parse subplan is compiled exactly once.  Lazy (eager=False), so building
    the plan still launches no job; at scale the checkpoint materializes the
    parsed batch to executor-local storage — the same bytes a shuffle of the
    typed payload would write."""
    spark = raw.sparkSession
    parsed = raw.withColumn("e", F.from_json(F.col("body_raw"), ADO_EVENT_SCHEMA)).filter(
        F.col("e.eventType").isin(EVENT_RUN, EVENT_STAGE, EVENT_JOB)
    )
    return (
        parsed.select("e")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
    )


def ado_pipeline_run_spans(events: DataFrame, gate: bool = True) -> DataFrame:
    """Run events → root pipeline span. The completed gate lives at the
    WEBHOOK layer (trace_receiver.go:169-175); gate=False replays the bare
    handler (handlePipelineEvent), as trace_receiver_test.go does."""
    e = F.col("e.resource")
    done = events.filter(F.col("e.eventType") == EVENT_RUN)
    if gate:
        done = done.filter(e["run"]["state"] == "completed")
    resource = _nonnull_map(
        *[
            ("cicd.pipeline.name", _put(e["run"]["pipeline"]["name"])),
            ("cicd.pipeline.id", _put_int(e["runId"])),
            ("cicd.pipeline.run.state", _put(e["run"]["state"])),
            ("cicd.pipeline.run.result", _put(e["run"]["result"])),
            ("cicd.pipeline.run.created_date", _rfc3339(e["run"]["createdDate"])),
            (
                "cicd.pipeline.run.finished_date",
                F.when(
                    e["run"]["finishedDate"].isNotNull(),
                    _rfc3339(e["run"]["finishedDate"]),
                ),
            ),
            ("cicd.pipeline.run.url", _put(replace_first(e["run"]["url"], "/_apis/", "/"))),
            ("vcs.vendor.name", F.lit("azuredevops")),
        ]
    )
    return done.select(
        ado_trace_id(e["run"]["id"]).alias("trace_id"),
        pipeline_span_id(e["run"]["pipeline"]["id"]).alias("span_id"),
        F.lit("").alias("parent_span_id"),
        F.concat(F.lit("Pipeline Run: "), e["run"]["pipeline"]["name"]).alias("name"),
        F.lit(KIND_INTERNAL).alias("kind"),
        e["run"]["createdDate"].alias("start_ts"),
        e["run"]["finishedDate"].alias("end_ts"),
        resource.alias("resource"),
    )


def ado_stage_spans(events: DataFrame, gate: bool = True) -> DataFrame:
    """Stage events → stage span, parent = pipeline span (gate as above,
    trace_receiver.go:176-182)."""
    e = F.col("e.resource")
    done = events.filter(F.col("e.eventType") == EVENT_STAGE)
    if gate:
        done = done.filter(e["stage"]["state"] == "completed")
    resource = _nonnull_map(
        *[
            ("cicd.pipeline.name", _put(e["pipeline"]["name"])),
            ("cicd.pipeline.id", _put_int(e["runId"])),
            ("cicd.pipeline.stage.name", _put(e["stage"]["name"])),
            ("cicd.pipeline.stage.display_name", _put(e["stage"]["displayName"])),
            ("cicd.pipeline.stage.state", _put(e["stage"]["state"])),
            ("cicd.pipeline.stage.result", _put(e["stage"]["result"])),
            ("cicd.pipeline.run.created_date", _rfc3339(e["run"]["createdDate"])),
        ]
        + _repo_attrs(e["repositories"])
        + [
            ("vcs.vendor.name", F.lit("azuredevops")),
            ("azuredevops.project.id", _put(F.col("e.resourceContainers.project.id"))),
        ]
    )
    return done.select(
        ado_trace_id(e["run"]["id"]).alias("trace_id"),
        stage_span_id(e["stage"]["id"]).alias("span_id"),
        pipeline_span_id(e["run"]["pipeline"]["id"]).alias("parent_span_id"),
        F.concat(F.lit("Pipeline Stage: "), e["stage"]["name"]).alias("name"),
        F.lit(KIND_INTERNAL).alias("kind"),
        e["stage"]["startTime"].alias("start_ts"),
        e["stage"]["finishTime"].alias("end_ts"),
        resource.alias("resource"),
    )


def ado_job_spans(events: DataFrame, gate: bool = True) -> DataFrame:
    """Job events → job span, parent = stage span; includes the
    vcs.commit.version attr the stage event lacks (trace_attributes.go:108).
    Gate as above (trace_receiver.go:183-189)."""
    e = F.col("e.resource")
    done = events.filter(F.col("e.eventType") == EVENT_JOB)
    if gate:
        done = done.filter(e["job"]["state"] == "completed")
    repo = F.try_element_at(e["repositories"], F.lit(1))
    has_author = repo["change"]["author"]["name"].isNotNull() & (
        repo["change"]["author"]["name"] != ""
    )
    resource = _nonnull_map(
        *[
            ("cicd.pipeline.name", _put(e["pipeline"]["name"])),
            ("cicd.pipeline.id", _put_int(e["runId"])),
            ("cicd.pipeline.job.name", _put(e["job"]["name"])),
            ("cicd.pipeline.job.state", _put(e["job"]["state"])),
            ("cicd.pipeline.job.result", _put(e["job"]["result"])),
            (
                "cicd.pipeline.job.start_time",
                F.when(e["job"]["startTime"].isNotNull(), _rfc3339(e["job"]["startTime"])),
            ),
            (
                "cicd.pipeline.job.finish_time",
                F.when(e["job"]["finishTime"].isNotNull(), _rfc3339(e["job"]["finishTime"])),
            ),
            ("cicd.pipeline.job.attempt", _put_int(e["job"]["attempt"])),
            ("cicd.pipeline.stage.name", _put(e["stage"]["name"])),
            ("cicd.pipeline.stage.display_name", _put(e["stage"]["displayName"])),
            ("cicd.pipeline.run.created_date", _rfc3339(e["run"]["createdDate"])),
        ]
        + _repo_attrs(e["repositories"])
        + [
            ("vcs.commit.version", F.when(has_author, _put(repo["change"]["version"]))),
            ("vcs.vendor.name", F.lit("azuredevops")),
            ("azuredevops.project.id", _put(F.col("e.resourceContainers.project.id"))),
        ]
    )
    return done.select(
        ado_trace_id(e["run"]["id"]).alias("trace_id"),
        ado_job_span_id(e["run"]["id"], e["job"]["attempt"], e["job"]["name"]).alias("span_id"),
        stage_span_id(e["stage"]["id"]).alias("parent_span_id"),
        F.concat(F.lit("Pipeline Job: "), e["job"]["name"]).alias("name"),
        F.lit(KIND_INTERNAL).alias("kind"),
        e["job"]["startTime"].alias("start_ts"),
        e["job"]["finishTime"].alias("end_ts"),
        resource.alias("resource"),
    )


def ado_trace_pipeline(raw: DataFrame, gate: bool = True) -> DataFrame:
    """Full S26 router: parse → dispatch → completed gate → span union."""
    events = parse_ado_events(raw)
    return (
        ado_pipeline_run_spans(events, gate=gate)
        .unionByName(ado_stage_spans(events, gate=gate))
        .unionByName(ado_job_spans(events, gate=gate))
    )
