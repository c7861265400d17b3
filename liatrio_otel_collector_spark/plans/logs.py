"""The log pipeline (SURVEY §3.3): webhookevent → OTTL chain → gitlab enrich.

Re-expresses /root/reference/config/config.yaml:79-136's logs pipeline:

1. ``transform/body``        (:80-82)  — ParseJSON(log.body) → from_json
2. ``filter/...events``      (:104-108) — drop unless IsMatch(object_kind,
                                          "pipeline") → rlike filter
3. ``transform/...events``   (:86-103) — keep_keys + promote body fields to
                                          attributes → struct pruning (the
                                          from_json schema IS keep_keys) +
                                          map construction
4. ``gitlab`` processor      (processor/gitlabprocessor/processor.go:32-69)
                                        — per-record lookup keyed on
                                          (vcs.repository.name,
                                          vcs.ref.head.revision) adding
                                          component.<path>.version attrs →
                                          broadcast left join + map_concat

Include-classification kernel (X13, processor.go:135-169) implemented as
column expressions in :func:`classify_includes`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# keep_keys lists from config.yaml:90-92 — expressing them as the from_json
# schema makes Catalyst prune everything else at parse time.
BODY_SCHEMA = (
    "object_kind string, "
    "project struct<id:long, name:string, namespace:string, "
    "path_with_namespace:string, web_url:string>, "
    "object_attributes struct<id:long, ref:string, sha:string, url:string, status:string>"
)

LOG_COLS = ["ts", "severity_text", "body", "attrs", "resource"]


def ottl_parse_body(logs: DataFrame) -> DataFrame:
    """transform/body: set(log.body, ParseJSON(log.body)) where body != nil,
    the raw body read from ``body_raw``."""
    return logs.withColumn(
        "body",
        F.when(F.col("body_raw").isNotNull(), F.from_json(F.col("body_raw"), BODY_SCHEMA)),
    )


def ottl_filter_pipeline_events(logs: DataFrame) -> DataFrame:
    """filter/gitlabpipelineevents: drop unless IsMatch(object_kind, 'pipeline')."""
    return logs.filter(F.col("body.object_kind").rlike("pipeline"))


def ottl_promote_attrs(logs: DataFrame) -> DataFrame:
    """transform/gitlabpipelineevents: promote body fields to attributes and
    resource attributes (config.yaml:93-103), each guarded by the same
    null-checks as the OTTL ``where`` clauses."""
    p, oa = F.col("body.project"), F.col("body.object_attributes")
    attrs = F.map_filter(
        F.create_map(
            F.lit("event.name"),
            F.when(
                p["id"].isNotNull() & oa["id"].isNotNull(),
                F.concat_ws("_", F.lit("pipeline"), p["id"].cast("string"), oa["id"].cast("string")),
            ),
            F.lit("vcs.repository.owner"), p["namespace"],
            F.lit("vcs.repository.url.full"), p["web_url"],
            F.lit("vcs.ref.head.name"), oa["ref"],
            F.lit("vcs.ref.head.revision"), oa["sha"],
            F.lit("vcs.repository.name"), p["path_with_namespace"],
            F.lit("vcs.repository.id"), p["id"].cast("string"),
        ),
        lambda _, v: v.isNotNull(),
    )
    resource = F.map_filter(
        F.create_map(
            F.lit("service.namespace"), F.lit("gitlab"),
            F.lit("service.name"), p["name"],
        ),
        lambda _, v: v.isNotNull(),
    )
    existing = F.col("attrs") if "attrs" in logs.columns else F.create_map().cast(
        "map<string,string>"
    )
    return logs.withColumn("attrs", F.map_concat(existing, attrs)).withColumn(
        "resource", resource
    )


def gitlab_enrich(logs: DataFrame, components_dim: DataFrame) -> DataFrame:
    """gitlab processor (processor.go:32-69): lookup keyed on
    (vcs.repository.name, vcs.ref.head.revision); each found component adds a
    ``component.<path>.version`` attribute; records with missing keys or no
    match pass through untouched (processor_test.go:54-97 negative case)."""
    dim = components_dim.select(
        F.col("repo_name").alias("_repo"),
        F.col("revision").alias("_rev"),
        F.col("components").alias("_components"),
    )
    joined = logs.join(
        F.broadcast(dim),
        (F.col("attrs")["vcs.repository.name"] == F.col("_repo"))
        & (F.col("attrs")["vcs.ref.head.revision"] == F.col("_rev")),
        "left",
    )
    comp_attrs = F.transform_keys(
        F.col("_components"), lambda k, _: F.concat(F.lit("component."), k, F.lit(".version"))
    )
    return joined.withColumn(
        "attrs",
        F.when(F.col("_components").isNotNull(), F.map_concat("attrs", comp_attrs)).otherwise(
            F.col("attrs")
        ),
    ).drop("_repo", "_rev", "_components")


def log_pipeline(raw_logs: DataFrame, components_dim: DataFrame) -> DataFrame:
    """The full logs pipeline in config order (config.yaml:125-132)."""
    parsed = ottl_parse_body(raw_logs)
    filtered = ottl_filter_pipeline_events(parsed)
    promoted = ottl_promote_attrs(filtered)
    return gitlab_enrich(promoted, components_dim)


# --- X13: CI include classification (processor.go:135-169) ----------------


def classify_includes(includes: DataFrame) -> DataFrame:
    """(include_type, location, blob) → (component_name, component_version).

    component: location split on '@' → name = TrimPrefix(parts[0],
               "gitlab.com/"), version = parts[1]
    file:      blob split on '/-/' → name = TrimPrefix(parts[0],
               "https://gitlab.com/") + location, version = blob-sha segment
    local:     name = prefix + "/" + location, version = "local"
    """

    def _trim(col: Column, prefix: str) -> Column:
        return F.regexp_replace(col, "^" + prefix.replace(".", r"\."), "")

    loc_parts = F.split(F.col("location"), "@")
    blob_parts = F.split(F.col("blob"), "/-/")
    t = F.col("include_type")
    name = (
        F.when(
            (t == "component") & (F.size(loc_parts) == 2),
            _trim(loc_parts.getItem(0), "gitlab.com/"),
        )
        .when(
            (t == "file") & (F.size(blob_parts) == 2),
            F.concat(_trim(blob_parts.getItem(0), "https://gitlab.com/"), F.col("location")),
        )
        .when(
            (t == "local") & (F.size(blob_parts) == 2),
            F.concat(
                _trim(blob_parts.getItem(0), "https://gitlab.com/"), F.lit("/"), F.col("location")
            ),
        )
    )
    version = (
        F.when((t == "component") & (F.size(loc_parts) == 2), loc_parts.getItem(1))
        .when(
            (t == "file") & (F.size(blob_parts) == 2),
            F.split(blob_parts.getItem(1), "/").getItem(1),
        )
        .when((t == "local") & (F.size(blob_parts) == 2), F.lit("local"))
    )
    return includes.withColumn("component_name", name).withColumn(
        "component_version", version
    ).filter(F.col("component_name").isNotNull())
