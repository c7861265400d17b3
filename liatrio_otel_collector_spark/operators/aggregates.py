"""The metric-rollup library: SURVEY.md §2.4 A1–A24 as named DataFrame
transforms, one function per reference metric (mirroring the generated
``Record*DataPoint`` methods for traceability).

Every function takes domain-shaped DataFrames (sources/domain.py) and returns
a DataFrame whose columns are explicitly aliased — the driver's oracle
comparison sorts columns by name, so aliases are part of the contract.

All aggregations are builtin hash aggregates: Spark's partial (map-side)
aggregation + shuffle + final is the distributed analog of the reference's
per-goroutine maps merged under a mutex (github_scraper.go:105-155).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.maps import normalize_deploy_status, normalize_severity
from ..functions.strings import CATALOG_COMPONENT_RE, age_seconds, release_to_service, split_tags
from ..functions.timeparse import parse_multi_format_ts
from ..sources.domain import NOW


def _now() -> F.Column:
    return F.to_timestamp(F.lit(NOW))


# A1 — vcs.repository.count (github_scraper.go:101): () -> count, archived
# repos excluded upstream by the search filter (helpers.go:29-78).
def repository_count(repos: DataFrame) -> DataFrame:
    return repos.filter(~F.col("archived")).agg(F.count(F.lit(1)).alias("repo_count"))


# A2 — vcs.ref.count (github_scraper.go:157-158): branches per repo.
def ref_count(branches: DataFrame) -> DataFrame:
    return branches.groupBy("repo_name").agg(F.count(F.lit(1)).alias("ref_count"))


# A3 — vcs.change.count (github_scraper.go:223-250): PRs per (repo, state).
def change_count(pull_requests: DataFrame) -> DataFrame:
    return pull_requests.groupBy("repo_name", "state").agg(
        F.count(F.lit(1)).alias("change_count")
    )


# A4 — vcs.change.time_to_merge (github_scraper.go:230-232 + getAge
# helpers.go:410-412): per merged PR, seconds created->merged.
def change_time_to_merge(pull_requests: DataFrame) -> DataFrame:
    return pull_requests.filter(F.col("state") == "MERGED").select(
        "repo_name",
        "pr_id",
        age_seconds("created_at", "merged_at").alias("time_to_merge_s"),
    )


# A5 — vcs.change.duration (github_scraper.go:235-239): per open PR,
# seconds created->now (pinned clock).
def change_duration(pull_requests: DataFrame) -> DataFrame:
    return pull_requests.filter(F.col("state") == "OPEN").select(
        "repo_name",
        "pr_id",
        age_seconds("created_at", _now()).alias("duration_s"),
    )


# A6 — vcs.change.time_to_approval (github_scraper.go:241-245): open PRs with
# >=1 approved review, seconds created->first review.
def change_time_to_approval(pull_requests: DataFrame) -> DataFrame:
    return (
        pull_requests.filter((F.col("state") == "OPEN") & (F.col("review_count") > 0))
        .select(
            "repo_name",
            "pr_id",
            age_seconds("created_at", "first_review_at").alias("time_to_approval_s"),
        )
    )


# A7 — vcs.ref.revisions_delta (github_scraper.go:171-177): two rows per
# non-default branch. DELIBERATE SWAP preserved: BehindBy emitted as "ahead",
# AheadBy as "behind" (GitHub API quirk the reference documents).
def ref_revisions_delta(branches: DataFrame) -> DataFrame:
    live = branches.filter(~F.col("is_default") & (F.col("behind_by") > 0))
    return live.select(
        "repo_name",
        "branch_name",
        F.expr(
            "stack(2, 'ahead', CAST(behind_by AS BIGINT), 'behind', CAST(ahead_by AS BIGINT))"
        ).alias("direction", "revisions"),
    )


# A8 — vcs.ref.lines_delta (helpers.go:336-339; emit github_scraper.go:191-193):
# per branch, summed additions/deletions unpivoted to (type, lines).
def ref_lines_delta(commits: DataFrame) -> DataFrame:
    sums = commits.groupBy("repo_name", "branch_name").agg(
        F.sum("additions").cast("bigint").alias("added"),
        F.sum("deletions").cast("bigint").alias("removed"),
    )
    return sums.select(
        "repo_name",
        "branch_name",
        F.expr("stack(2, 'added', added, 'removed', removed)").alias("line_type", "lines"),
    )


# A9 — vcs.ref.time (helpers.go:330-335; github_scraper.go:189): branch age =
# now - oldest commit on the branch.
def ref_time(commits: DataFrame) -> DataFrame:
    return commits.groupBy("repo_name", "branch_name").agg(
        age_seconds(F.min("committed_date"), _now()).alias("ref_age_s")
    )


# A10 — vcs.contributor.count (helpers.go:205-234): distinct authors per repo.
# Exact countDistinct (golden parity needs exact; approx_count_distinct is the
# documented at-scale alternative).
def contributor_count(commits: DataFrame) -> DataFrame:
    return commits.groupBy("repo_name").agg(
        F.countDistinct("author_id").alias("contributor_count")
    )


# A11 — vcs.cve.count (mapSeverities helpers.go:489-521; emit
# github_scraper.go:213-221): open alerts, normalized severity, per repo.
# The upstream union of dependabot ∪ code-scanning is U1 (setops.union_cves).
def cve_count(cve_alerts: DataFrame) -> DataFrame:
    return (
        cve_alerts.filter(F.col("state") == "open")
        .withColumn("severity", normalize_severity("severity_raw"))
        .groupBy("repo_name", "severity")
        .agg(F.count(F.lit(1)).alias("cve_count"))
    )


def _final_deployments(deployments: DataFrame) -> DataFrame:
    """F5 gate + X18 service + X7 normalize + X16 multi-format parse."""
    norm = normalize_deploy_status("status_raw")
    return (
        deployments.withColumn("status", norm)
        .filter(F.col("status").isin("succeeded", "failed"))
        .withColumn("service", release_to_service("release_name"))
        .withColumn("started_ts", parse_multi_format_ts("started_on"))
        .withColumn("completed_ts", parse_multi_format_ts("completed_on"))
    )


# A12 — deploy.deployment.count (azuredevops_scraper.go:356-419).
def deployment_count(deployments: DataFrame) -> DataFrame:
    return _final_deployments(deployments).groupBy("service", "environment", "status").agg(
        F.count(F.lit(1)).alias("deployment_count")
    )


# A13 — deploy.deployment.average_duration (azuredevops_scraper.go:392-398,
# 422-431): succeeded only, INTEGER division sum/len (truncation preserved).
def deployment_average_duration(deployments: DataFrame) -> DataFrame:
    fin = _final_deployments(deployments).filter(
        (F.col("status") == "succeeded") & F.col("started_ts").isNotNull()
    )
    dur = age_seconds("started_ts", "completed_ts")
    return fin.groupBy("service", "environment").agg(
        F.floor(F.sum(dur) / F.count(F.lit(1))).cast("bigint").alias("avg_duration_s")
    )


# A14 — deploy.deployment.last_timestamp (azuredevops_scraper.go:401-412).
def deployment_last_timestamp(deployments: DataFrame) -> DataFrame:
    return _final_deployments(deployments).groupBy("service", "environment", "status").agg(
        F.max(F.unix_timestamp("completed_ts")).cast("bigint").alias("last_deploy_epoch")
    )


# A15 — work_item.count (work_items.go:235-254).
def work_item_count(work_items: DataFrame) -> DataFrame:
    return work_items.groupBy("wi_type", "state").agg(F.count(F.lit(1)).alias("work_item_count"))


# A16 — work_item.tag.count (work_items.go:256-267): X11 split + allowlist F9.
def work_item_tag_count(work_items: DataFrame) -> DataFrame:
    return (
        work_items.select("wi_type", F.explode(split_tags("tags")).alias("tag"))
        .filter(F.col("tag").isin("alpha", "beta", "gamma"))
        .groupBy("tag", "wi_type")
        .agg(F.count(F.lit(1)).alias("tag_count"))
    )


# A17 — work_item.cycle_time / age (work_items.go:269-299): closed-created if
# closed else now-created.
def work_item_cycle_time(work_items: DataFrame) -> DataFrame:
    return work_items.select(
        "id",
        "wi_type",
        F.when(F.col("closed_date").isNotNull(), age_seconds("created_date", "closed_date"))
        .otherwise(age_seconds("created_date", _now()))
        .alias("cycle_time_s"),
        F.col("closed_date").isNotNull().alias("is_closed"),
    )


# A24 — vcs.code_coverage (azuredevopsscraper/helpers.go:410-426):
# int(100 * Σcovered / Σtotal), 0 when total = 0 — integer truncation kept.
def code_coverage(coverage: DataFrame) -> DataFrame:
    return coverage.groupBy("repo_name").agg(
        F.when(F.sum("total") == 0, F.lit(0))
        .otherwise(F.floor(100 * F.sum("covered") / F.sum("total")))
        .cast("bigint")
        .alias("coverage_pct")
    )


# A18/A19 analog — gitlab.catalog component usage counts
# (gitlab_catalog_scraper.go:119-173) over regex-parsed CI lines (X12).
def catalog_component_counts(ci_lines: DataFrame) -> DataFrame:
    comp = (
        ci_lines.withColumn("m", F.regexp_extract("line", CATALOG_COMPONENT_RE, 1))
        .filter(F.col("m") != "")
        .withColumn("component", F.substring_index("m", "@", 1))
        .withColumn("version", F.substring_index("m", "@", -1))
    )
    return comp.groupBy("component").agg(
        F.countDistinct("project_path").alias("project_count"),
        F.count(F.lit(1)).alias("usage_count"),
    )


# A21/A22 analog — terraform module consumers (gitlab_terraform_scraper.go:
# 106-157; source-line regex X14 helpers.go:232-245).
_TF_SOURCE_RE = r'source\s*=\s*"([^"]+)"'


def terraform_module_consumers(ci_lines: DataFrame) -> DataFrame:
    mods = (
        ci_lines.withColumn("src", F.regexp_extract("line", _TF_SOURCE_RE, 1))
        .filter(F.col("src") != "")
        .withColumn("module", F.substring_index(F.substring_index("src", "/", 3), "/", -1))
        .withColumn("system", F.substring_index("src", "/", -1))
    )
    return mods.groupBy("module", "system").agg(
        F.countDistinct("project_path").alias("consumer_count")
    )
