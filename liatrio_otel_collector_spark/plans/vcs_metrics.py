"""Scraper metric emission (SURVEY §3.1): the github scraper's
MetricsBuilder.Emit re-expressed as one long-format DataFrame.

Output schema (the pdata long format the golden YAMLs serialize):
    (metric_name: string, value: long, attrs: map<string,string>,
     resource: map<string,string>)

Re-expresses /root/reference/receiver/githubreceiver/internal/scraper/
githubscraper/github_scraper.go:63-263 over domain-shaped inputs, preserving
the reference's quirks:

- the DELIBERATE ahead/behind swap (:171-177): BehindBy emits as "ahead",
  AheadBy as "behind";
- Go time.Duration clamp: durations computed against the zero time overflow
  int64 nanoseconds and cap at MaxInt64 ns = 9223372036 s (observable in
  expected_happy_path.yaml's vcs.change.duration datapoint);
- resource attrs stamped at emit (:256-262): organization.name +
  vcs.vendor.name;
- metadata.yaml's default metric set: the github scraper never emits
  vcs.contributor.count (default OFF; driver query a10 computes A10 with
  operators/aggregates.contributor_count), the ADO scraper takes its
  enabled set.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.maps import normalize_severity
from ..functions.strings import CATALOG_COMPONENT_RE, age_seconds
from ..sources.domain import NOW, pr_branch_ref

GO_MAX_DURATION_S = 9_223_372_036  # MaxInt64 ns in whole seconds


def _clamped_age_s(start: Column, end: Column) -> Column:
    """getAge with Go's Duration overflow clamp (helpers.go:410-412; the
    zero-time open PR in the happy-path golden hits the cap)."""
    return F.least(age_seconds(start, end), F.lit(GO_MAX_DURATION_S)).cast("bigint")


def _snapshot(parts: list[DataFrame], org: str, vendor: str) -> DataFrame:
    """The emit tail (github_scraper.go:256-262): every part's datapoints,
    stamped with the organization.name + vcs.vendor.name resource attrs."""
    return reduce(DataFrame.unionByName, parts).withColumn(
        "resource", _attrs(("organization.name", F.lit(org)), ("vcs.vendor.name", F.lit(vendor)))
    )


def _emit(df: DataFrame, metric: str, value: Column, attrs: Column) -> DataFrame:
    return df.select(
        F.lit(metric).alias("metric_name"),
        value.cast("bigint").alias("value"),
        attrs.alias("attrs"),
    )


def _attrs(*pairs) -> Column:
    kvs = []
    for k, v in pairs:
        kvs.extend([F.lit(k), v.cast("string")])
    return F.create_map(*kvs)


def github_scrape_metrics(
    repos: DataFrame,
    branches: DataFrame,
    pull_requests: DataFrame,
    commits: DataFrame,
    cve_alerts: DataFrame,
    org: str,
    now: str,
) -> DataFrame:
    """One scrape() snapshot → long-format metric datapoints.

    Inputs use the domain schemas of sources/domain.py plus:
    - repos.url doubles as vcs.repository.url.full;
    - pull_requests.head_ref (may be empty, as in the mock fixtures);
    - branches.base_ref = the repo default branch (F1 upstream-filtered).
    """
    now_ts = F.to_timestamp(F.lit(now))
    repo_attrs = lambda extra: _attrs(  # noqa: E731
        *extra,
        ("vcs.repository.name", F.col("repo_name")),
        ("vcs.repository.url.full", F.col("url")),
    )

    parts: list[DataFrame] = []

    # A1 vcs.repository.count (github_scraper.go:101)
    parts.append(
        _emit(
            repos.agg(F.count(F.lit(1)).alias("n")),
            "vcs.repository.count",
            F.col("n"),
            F.create_map().cast("map<string,string>"),
        )
    )

    # A2 vcs.ref.count (:157-158)
    parts.append(
        _emit(
            branches.groupBy("repo_name", "url").agg(F.count(F.lit(1)).alias("n")),
            "vcs.ref.count",
            F.col("n"),
            repo_attrs((("vcs.ref.head.type", F.lit("branch")),)),
        )
    )

    # A3 vcs.change.count per state (:223-250)
    state_lc = F.when(F.col("state") == "MERGED", "merged").otherwise("open")
    parts.append(
        _emit(
            pull_requests.groupBy("repo_name", "url", state_lc.alias("state_lc")).agg(
                F.count(F.lit(1)).alias("n")
            ),
            "vcs.change.count",
            F.col("n"),
            repo_attrs((("vcs.change.state", F.col("state_lc")),)),
        )
    )

    # A4 vcs.change.time_to_merge per merged PR (:230-232)
    merged = pull_requests.filter(F.col("state") == "MERGED")
    parts.append(
        _emit(
            merged,
            "vcs.change.time_to_merge",
            _clamped_age_s(F.col("created_at"), F.col("merged_at")),
            repo_attrs((("vcs.ref.head.name", F.col("head_ref")),)),
        )
    )

    # A5 vcs.change.duration per open PR (:235-239)
    open_prs = pull_requests.filter(F.col("state") == "OPEN")
    parts.append(
        _emit(
            open_prs,
            "vcs.change.duration",
            _clamped_age_s(F.col("created_at"), now_ts),
            repo_attrs(
                (
                    ("vcs.change.state", F.lit("open")),
                    ("vcs.ref.head.name", F.col("head_ref")),
                )
            ),
        )
    )

    # A7 vcs.ref.revisions_delta with the DELIBERATE SWAP (:171-177)
    head_attrs = (
        ("vcs.ref.head.name", F.col("branch_name")),
        ("vcs.ref.head.type", F.lit("branch")),
    )
    deltas = branches.select(
        "repo_name",
        "url",
        "branch_name",
        F.expr(
            "stack(2, 'ahead', CAST(behind_by AS BIGINT), 'behind', CAST(ahead_by AS BIGINT))"
        ).alias("direction", "revisions"),
    )
    parts.append(
        _emit(
            deltas,
            "vcs.ref.revisions_delta",
            F.col("revisions"),
            repo_attrs(head_attrs + (("vcs.revision_delta.direction", F.col("direction")),)),
        )
    )

    # A8 vcs.ref.lines_delta (sum over commits behind trunk, :191-193)
    base_attrs = (
        ("vcs.ref.base.name", F.col("base_ref")),
        ("vcs.ref.base.type", F.lit("branch")),
    )
    sums = commits.groupBy("repo_name", "url", "branch_name", "base_ref").agg(
        F.sum("additions").alias("added"), F.sum("deletions").alias("removed")
    )
    lines = sums.select(
        "repo_name",
        "url",
        "branch_name",
        "base_ref",
        F.expr("stack(2, 'added', CAST(added AS BIGINT), 'removed', CAST(removed AS BIGINT))").alias(
            "line_type", "lines"
        ),
    )
    parts.append(
        _emit(
            lines,
            "vcs.ref.lines_delta",
            F.col("lines"),
            repo_attrs(
                (("vcs.line_change.type", F.col("line_type")),) + base_attrs + head_attrs
            ),
        )
    )

    # A9 vcs.ref.time (now - oldest commit, :189)
    ages = commits.groupBy("repo_name", "url", "branch_name").agg(
        F.min("committed_date").alias("oldest")
    )
    parts.append(
        _emit(
            ages,
            "vcs.ref.time",
            _clamped_age_s(F.col("oldest"), now_ts),
            repo_attrs(head_attrs),
        )
    )

    # A11 vcs.cve.count (U1 union upstream, severity map X5, :213-221)
    cves = (
        cve_alerts.filter(F.col("state") == "open")
        .withColumn("severity", normalize_severity("severity_raw"))
        .groupBy("repo_name", "url", "severity")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    parts.append(
        _emit(cves, "vcs.cve.count", F.col("n"), repo_attrs((("cve.severity", F.col("severity")),)))
    )

    return _snapshot(parts, org, "github")


def gitlab_scrape_metrics(
    projects: DataFrame,
    branches: DataFrame,
    merge_requests: DataFrame,
    org: str,
    now: str,
) -> DataFrame:
    """GitLab scraper snapshot (gitlab_scraper.go:100-216) → long format.

    Differences from the github emit (both visible in the goldens):
    - vcs.ref.lines_delta is PER MERGE REQUEST with a vcs.change.id attr
      (gitlab_scraper.go:192-194 emits per-MR diffStatsSummary), not a
      per-branch commit sum;
    - no vcs.change.count (the gitlab scraper never records it — absent from
      expected_happy_path.yaml);
    - vcs.change.duration attrs carry head name but NOT head type;
    - branch age anchors on the S12 initial-commit probe
      (gitlabscraper/helpers.go:113-139), provided as initial_commit_ts.

    Schemas:
      projects:        (repo_name, repo_id, url)
      branches:        (repo_name, repo_id, url, branch_name, initial_commit_ts)
      merge_requests:  (repo_name, repo_id, url, mr_iid, source_branch,
                        target_branch, created_at, merged_at, additions, deletions)
    """
    now_ts = F.to_timestamp(F.lit(now))
    repo_attrs = lambda extra=(): _attrs(  # noqa: E731
        *extra,
        ("vcs.repository.id", F.col("repo_id")),
        ("vcs.repository.name", F.col("repo_name")),
        ("vcs.repository.url.full", F.col("url")),
    )
    parts: list[DataFrame] = []

    # vcs.repository.count (gitlab_scraper.go:111)
    parts.append(
        _emit(
            projects.agg(F.count(F.lit(1)).alias("n")),
            "vcs.repository.count",
            F.col("n"),
            F.create_map().cast("map<string,string>"),
        )
    )

    # vcs.ref.count (:153)
    parts.append(
        _emit(
            branches.groupBy("repo_name", "repo_id", "url").agg(F.count(F.lit(1)).alias("n")),
            "vcs.ref.count",
            F.col("n"),
            repo_attrs((("vcs.ref.head.type", F.lit("branch")),)),
        )
    )

    # vcs.ref.time (:166-169) — anchored on the initial-commit probe (S12)
    parts.append(
        _emit(
            branches,
            "vcs.ref.time",
            _clamped_age_s(F.col("initial_commit_ts"), now_ts),
            repo_attrs(
                (
                    ("vcs.ref.head.name", F.col("branch_name")),
                    ("vcs.ref.head.type", F.lit("branch")),
                )
            ),
        )
    )

    open_mrs = merge_requests.filter(F.col("merged_at").isNull())  # F7 zero-time test
    merged_mrs = merge_requests.filter(F.col("merged_at").isNotNull())

    # vcs.change.duration per open MR (:199-201) — NO head type attr
    parts.append(
        _emit(
            open_mrs,
            "vcs.change.duration",
            _clamped_age_s(F.col("created_at"), now_ts),
            repo_attrs(
                (
                    ("vcs.change.state", F.lit("open")),
                    ("vcs.ref.head.name", F.col("source_branch")),
                )
            ),
        )
    )

    # vcs.change.time_to_merge per merged MR (:203-204)
    parts.append(
        _emit(
            merged_mrs,
            "vcs.change.time_to_merge",
            _clamped_age_s(F.col("created_at"), F.col("merged_at")),
            repo_attrs((("vcs.ref.head.name", F.col("source_branch")),)),
        )
    )

    # vcs.ref.lines_delta PER MR with vcs.change.id (:192-194)
    lines = merge_requests.select(
        "repo_name",
        "repo_id",
        "url",
        "mr_iid",
        "source_branch",
        "target_branch",
        F.expr(
            "stack(2, 'added', CAST(additions AS BIGINT), 'removed', CAST(deletions AS BIGINT))"
        ).alias("line_type", "lines"),
    )
    parts.append(
        _emit(
            lines,
            "vcs.ref.lines_delta",
            F.col("lines"),
            repo_attrs(
                (
                    ("vcs.change.id", F.col("mr_iid")),
                    ("vcs.line_change.type", F.col("line_type")),
                    ("vcs.ref.base.name", F.col("target_branch")),
                    ("vcs.ref.base.type", F.lit("branch")),
                    ("vcs.ref.head.name", F.col("source_branch")),
                    ("vcs.ref.head.type", F.lit("branch")),
                )
            ),
        )
    )

    return _snapshot(parts, org, "gitlab")


def gitlab_terraform_scrape_metrics(
    packages: DataFrame,
    consumer_blobs: DataFrame,
    consumer_projects: DataFrame,
    org: str,
) -> DataFrame:
    """Terraform-module scraper snapshot (gitlab_terraform_scraper.go:82-157).

    - vcs.terraform.module.count: count of terraform_module packages (A21);
    - per module (X15 name/system split, default system 'generic'):
      consumer rows via the source-line regex match (X14,
      gitlabterraformscraper/helpers.go:232-245) over code-search blobs (S24)
      joined to project info (J4) — one value=1 row per consumer (A23) and a
      distinct-project consumer.count (A22, dedupe helpers.go:158-168).

    Schemas:
      packages:          (package_name, package_type)
      consumer_blobs:    (project_id, line)
      consumer_projects: (project_id, path_with_namespace, web_url)
    """
    mods = packages.filter(F.col("package_type") == "terraform_module").select(
        F.substring_index("package_name", "/", 1).alias("module_name"),
        F.when(
            F.col("package_name").contains("/"), F.substring_index("package_name", "/", -1)
        )
        .otherwise(F.lit("generic"))
        .alias("module_system"),
    )
    parts: list[DataFrame] = []
    parts.append(
        _emit(
            mods.agg(F.count(F.lit(1)).alias("n")),
            "vcs.terraform.module.count",
            F.col("n"),
            F.create_map().cast("map<string,string>"),
        )
    )
    # X14: the blob line must contain source = ".../{name}/{system}"
    # (gitlabterraformscraper/helpers.go:232-245 matches the module name as a
    # distinct path segment).  Rather than a broadcast nested-loop
    # blobs×modules with a contains predicate (O(B·M) row work — fine while
    # the module dim is broadcast-sized, a wall if it grows), pre-extract
    # every slash-delimited candidate segment from the line and EQUI-JOIN it
    # against module_name — a hash join on the segment key.  A "/{name}/…"
    # occurrence always makes name a complete slash-delimited segment
    # (indices 1..n-2 of split), so candidate generation can never miss; the
    # original predicate is re-verified on the (far smaller) joined pairs,
    # keeping the match rule bit-identical to the NLJ form.
    segs = F.split(F.col("line"), "/")
    cand = consumer_blobs.select(
        "project_id",
        "line",
        F.explode_outer(
            F.array_distinct(F.slice(segs, 2, F.greatest(F.size(segs) - 2, F.lit(0))))
        ).alias("module_name"),
    )
    hits = (
        cand.join(mods, "module_name")
        .filter(
            F.col("line").rlike(
                r'source\s*=\s*"[^"]*/'
            )
            & F.col("line").contains(
                F.concat(F.lit("/"), F.col("module_name"), F.lit("/"), F.col("module_system"))
            )
        )
        .select("project_id", "module_name", "module_system")
        .distinct()
        .join(F.broadcast(consumer_projects), "project_id")
    )
    mod_attrs = (
        ("vcs.terraform.module.name", F.col("module_name")),
        ("vcs.terraform.module.system", F.col("module_system")),
    )
    parts.append(
        _emit(
            hits,
            "vcs.terraform.module.consumer",
            F.lit(1),
            _attrs(
                ("vcs.repository.name", F.col("path_with_namespace")),
                ("vcs.repository.url.full", F.col("web_url")),
                *mod_attrs,
            ),
        )
    )
    parts.append(
        _emit(
            hits.groupBy("module_name", "module_system").agg(
                F.countDistinct("project_id").alias("n")
            ),
            "vcs.terraform.module.consumer.count",
            F.col("n"),
            _attrs(*mod_attrs),
        )
    )
    return _snapshot(parts, org, "gitlab")


def gitlab_catalog_scrape_metrics(
    projects: DataFrame,
    component_usages: DataFrame,
    ci_lines: DataFrame,
    catalog_resources: DataFrame,
    org: str,
) -> DataFrame:
    """CI-catalog scraper snapshot (gitlab_catalog_scraper.go:100-200).

    - gitlab.catalog.project.component_count per project (A18, usage count);
    - gitlab.catalog.component.project_count per FULL component path parsed
      from CI-config lines (X12, gitlabcatalogscraper/helpers.go:19,109-136)
      of projects with >0 usages (A19);
    - gitlab.catalog.resource.star_count / usage_count per resource =
      parent path of each component (A20, dim lookup J3).

    Schemas:
      projects:          (project_path, url)
      component_usages:  (project_path, usage_name)
      ci_lines:          (project_path, line)
      catalog_resources: (full_path, name, star_count, usage_count)
    """
    usage_counts = (
        projects.join(
            component_usages.groupBy("project_path").agg(F.count(F.lit(1)).alias("n")),
            "project_path",
            "left",
        ).select("project_path", "url", F.coalesce("n", F.lit(0)).alias("n"))
    )
    parts: list[DataFrame] = []
    parts.append(
        _emit(
            usage_counts,
            "gitlab.catalog.project.component_count",
            F.col("n"),
            _attrs(("vcs.repository.url.full", F.col("url"))),
        )
    )
    with_usages = usage_counts.filter(F.col("n") > 0).select("project_path")
    comps = (
        ci_lines.join(with_usages, "project_path")
        .withColumn("m", F.regexp_extract("line", CATALOG_COMPONENT_RE, 1))
        .filter(F.col("m") != "")
        .withColumn("component", F.substring_index("m", "@", 1))
    )
    parts.append(
        _emit(
            comps.groupBy("component").agg(F.countDistinct("project_path").alias("n")),
            "gitlab.catalog.component.project_count",
            F.col("n"),
            _attrs(("gitlab.catalog.component.name", F.col("component"))),
        )
    )
    # resource path = component path minus the last segment
    res_paths = comps.select(
        F.expr("substring(component, 1, length(component) - length(substring_index(component, '/', -1)) - 1)").alias(
            "full_path"
        )
    ).distinct()
    resources = res_paths.join(F.broadcast(catalog_resources), "full_path")
    res_attrs = _attrs(
        ("gitlab.catalog.resource.full_path", F.col("full_path")),
        ("gitlab.catalog.resource.name", F.col("name")),
    )
    parts.append(
        _emit(resources, "gitlab.catalog.resource.star_count", F.col("star_count"), res_attrs)
    )
    parts.append(
        _emit(resources, "gitlab.catalog.resource.usage_count", F.col("usage_count"), res_attrs)
    )
    return _snapshot(parts, org, "gitlab")


# --------------------------------------------------------------------------
# Azure DevOps scraper snapshot (azuredevops_scraper.go:102-317,
# work_items.go:232-316; golden:
# azuredevopsscraper/testdata/scraper/expected_happy_path.yaml and
# expected_no_projects.yaml).
#
# The goldens predate the current Go code: they use the older attr names
# (vcs.ref.head.type, organization.name/vcs.vendor.name) and still contain
# vcs.ref.lines_delta, which the current scraper no longer fetches, while
# omitting vcs.change.count (disabled via MetricsBuilderConfig when the
# golden was generated). This emit targets the GOLDEN datapoint set — the
# actual parity artifact — with per-metric config gating exactly like
# metadata.MetricsBuilderConfig, so both the golden config and the current
# default config are expressible.
# --------------------------------------------------------------------------

ADO_DEFAULT_METRICS = frozenset(
    {
        "vcs.repository.count",
        "vcs.ref.count",
        "vcs.ref.time",
        "vcs.change.count",
        "vcs.change.duration",
        "vcs.change.time_to_merge",
        "vcs.ref.lines_delta",
        "deploy.deployment.count",
        "deploy.deployment.average_duration",
        "deploy.deployment.last_timestamp",
        "work_item.count",
        "work_item.cycle_time",
        "work_item.age",
        "work_item.tag.count",
    }
)


def azuredevops_scrape_metrics(
    repos: DataFrame,
    branches: DataFrame,
    pull_requests: DataFrame,
    org: str,
    now: str,
    deployments: DataFrame | None = None,
    work_items: DataFrame | None = None,
    environment: str = "production",
    project: str = "",
    tag_allowlist: tuple[str, ...] = (),
    enabled: frozenset = ADO_DEFAULT_METRICS,
) -> DataFrame:
    """One ADO scrape() snapshot → long-format metric datapoints.

    Input schemas:
      repos:    repo_name, repo_id, url, default_branch
      branches: repo_name, repo_id, url, branch_name,
                initial_commit_ts (nullable — null ⇒ getInitialCommit
                failed, no vcs.ref.time point; azuredevops_scraper.go:195-204)
      pull_requests: repo_name, repo_id, url, pr_id, status
                ('active'|'completed'|other — others skipped, :249-268),
                created_at (nullable = Go zero time), closed_at,
                source_ref, additions, deletions
      deployments (optional): service, environment, status_raw,
                started_ts, completed_ts (pre-parsed timestamps)
      work_items (optional): id, wi_type, state, tags, created_date,
                closed_date
    """
    now_ts = F.to_timestamp(F.lit(now))
    repo_attrs = lambda extra=(): _attrs(  # noqa: E731
        *extra,
        ("vcs.repository.name", F.col("repo_name")),
        ("vcs.repository.id", F.col("repo_id")),
        ("vcs.repository.url.full", F.col("url")),
    )
    parts: list[DataFrame] = []

    # vcs.repository.count (azuredevops_scraper.go:140-142)
    if "vcs.repository.count" in enabled:
        parts.append(
            _emit(
                repos.agg(F.count(F.lit(1)).alias("n")),
                "vcs.repository.count",
                F.col("n"),
                F.create_map().cast("map<string,string>"),
            )
        )

    # vcs.ref.count — len(branches) per repo (:178-182). A repo whose
    # branch listing failed contributes no row (the goroutine returns early).
    if "vcs.ref.count" in enabled:
        parts.append(
            _emit(
                branches.groupBy("repo_name", "repo_id", "url").agg(
                    F.count(F.lit(1)).alias("n")
                ),
                "vcs.ref.count",
                F.col("n"),
                repo_attrs((("vcs.ref.head.type", F.lit("branch")),)),
            )
        )

    # vcs.ref.time — non-default branches with a resolved divergent commit
    # (:186-207): int64(now - commit.Author.Date) seconds.
    if "vcs.ref.time" in enabled:
        aged = branches.join(
            F.broadcast(repos.select("repo_name", "default_branch")), "repo_name"
        ).filter(
            (F.col("branch_name") != F.col("default_branch"))
            & F.col("initial_commit_ts").isNotNull()
        )
        parts.append(
            _emit(
                aged,
                "vcs.ref.time",
                _clamped_age_s(F.col("initial_commit_ts"), now_ts),
                repo_attrs(
                    (
                        ("vcs.ref.head.name", F.col("branch_name")),
                        ("vcs.ref.head.type", F.lit("branch")),
                    )
                ),
            )
        )

    active = pull_requests.filter(F.col("status") == "active")
    completed = pull_requests.filter(F.col("status") == "completed")

    # vcs.change.duration — one point per ACTIVE PR: now - creationDate
    # (:260-267), Go Duration clamp for zero creationDate.
    if "vcs.change.duration" in enabled:
        parts.append(
            _emit(
                active,
                "vcs.change.duration",
                F.coalesce(
                    _clamped_age_s(F.col("created_at"), now_ts),
                    F.lit(GO_MAX_DURATION_S),
                ),
                repo_attrs(
                    (
                        ("vcs.change.state", F.lit("open")),
                        ("vcs.ref.head.name", F.col("source_ref")),
                    )
                ),
            )
        )

    # vcs.change.time_to_merge — one point per COMPLETED PR:
    # closedDate - creationDate (:253-258). The golden predates the IsZero
    # guard: a zero creationDate overflows Go's Duration and clamps to
    # MaxInt64 ns = 9223372036 s (the happy-path golden's exact value).
    if "vcs.change.time_to_merge" in enabled:
        parts.append(
            _emit(
                completed.filter(F.col("closed_at").isNotNull()),
                "vcs.change.time_to_merge",
                F.coalesce(
                    _clamped_age_s(F.col("created_at"), F.col("closed_at")),
                    F.lit(GO_MAX_DURATION_S),
                ),
                repo_attrs((("vcs.ref.head.name", F.col("source_ref")),)),
            )
        )

    # vcs.change.count — per state, EMIT-ONLY-IF-POSITIVE (:273-278).
    # groupBy is structurally equivalent: a state with zero PRs produces no
    # group, hence no datapoint.
    if "vcs.change.count" in enabled:
        state = F.when(F.col("status") == "completed", "merged").otherwise("open")
        parts.append(
            _emit(
                pull_requests.filter(F.col("status").isin("active", "completed"))
                .groupBy("repo_name", "repo_id", "url", state.alias("state"))
                .agg(F.count(F.lit(1)).alias("n")),
                "vcs.change.count",
                F.col("n"),
                repo_attrs((("vcs.change.state", F.col("state")),)),
            )
        )

    # vcs.ref.lines_delta — golden-era metric (dropped from the current Go
    # scraper; present in expected_happy_path.yaml with 2 points per PR and
    # NO change.id/base attrs, unlike gitlab's): added/removed per PR diff.
    if "vcs.ref.lines_delta" in enabled:
        lines = pull_requests.filter(F.col("status").isin("active", "completed")).select(
            "repo_name",
            "repo_id",
            "url",
            "source_ref",
            F.expr(
                "stack(2, 'added', CAST(additions AS BIGINT), 'removed', CAST(deletions AS BIGINT))"
            ).alias("line_type", "lines"),
        )
        parts.append(
            _emit(
                lines,
                "vcs.ref.lines_delta",
                F.col("lines"),
                repo_attrs(
                    (
                        ("vcs.line_change.type", F.col("line_type")),
                        ("vcs.ref.head.name", F.col("source_ref")),
                        ("vcs.ref.head.type", F.lit("branch")),
                    )
                ),
            )
        )

    # deploy.* — recordDeploymentMetrics (azuredevops_scraper.go:360-440):
    # status normalization via A12's kernel semantics, succeeded-only
    # durations with integer avg, max completed-epoch per (svc, env, status).
    if deployments is not None:
        dep_attrs = lambda extra=(): _attrs(  # noqa: E731
            ("service.name", F.col("service")),
            ("deployment.environment.name", F.lit(environment)),
            *extra,
        )
        norm = F.lower(F.trim(F.col("status_raw")))
        fin = deployments.withColumn(
            "status",
            F.when(norm == "succeeded", "succeeded").when(
                norm.isin("partiallysucceeded", "failed", "notdeployed"), "failed"
            ),
        ).filter(F.col("status").isNotNull())
        if "deploy.deployment.count" in enabled:
            parts.append(
                _emit(
                    fin.groupBy("service", "status").agg(F.count(F.lit(1)).alias("n")),
                    "deploy.deployment.count",
                    F.col("n"),
                    dep_attrs((("deployment.status", F.col("status")),)),
                )
            )
        if "deploy.deployment.average_duration" in enabled:
            dur = age_seconds("started_ts", "completed_ts")
            ok = fin.filter(
                (F.col("status") == "succeeded")
                & F.col("started_ts").isNotNull()
                & F.col("completed_ts").isNotNull()
            )
            parts.append(
                _emit(
                    ok.groupBy("service").agg(
                        F.floor(F.sum(dur) / F.count(F.lit(1))).alias("avg_s")
                    ),
                    "deploy.deployment.average_duration",
                    F.col("avg_s"),
                    dep_attrs(),
                )
            )
        if "deploy.deployment.last_timestamp" in enabled:
            parts.append(
                _emit(
                    fin.filter(F.col("completed_ts").isNotNull())
                    .groupBy("service", "status")
                    .agg(F.max(F.unix_timestamp("completed_ts")).alias("last_epoch")),
                    "deploy.deployment.last_timestamp",
                    F.col("last_epoch"),
                    dep_attrs((("deployment.status", F.col("status")),)),
                )
            )

    # work_item.* — recordWorkItemMetrics (work_items.go:232-316).
    if work_items is not None:
        wi = work_items.filter((F.col("wi_type") != "") & (F.col("state") != ""))
        proj = ("project.name", F.lit(project))
        if "work_item.count" in enabled:
            parts.append(
                _emit(
                    wi.groupBy("wi_type", "state").agg(F.count(F.lit(1)).alias("n")),
                    "work_item.count",
                    F.col("n"),
                    _attrs(
                        ("work_item.type", F.col("wi_type")),
                        ("work_item.state", F.col("state")),
                        proj,
                    ),
                )
            )
        if "work_item.tag.count" in enabled and tag_allowlist:
            tagged = (
                wi.select(
                    "wi_type", F.explode(F.split(F.col("tags"), r";\s*")).alias("tag")
                )
                .filter(F.col("tag").isin(*tag_allowlist))
                .groupBy("tag", "wi_type")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            parts.append(
                _emit(
                    tagged,
                    "work_item.tag.count",
                    F.col("n"),
                    _attrs(
                        ("work_item.tag", F.col("tag")),
                        ("work_item.type", F.col("wi_type")),
                        proj,
                    ),
                )
            )
        dated = wi.filter(F.col("created_date").isNotNull())
        if "work_item.cycle_time" in enabled:
            parts.append(
                _emit(
                    dated.filter(F.col("closed_date").isNotNull()),
                    "work_item.cycle_time",
                    age_seconds("created_date", "closed_date"),
                    _attrs(
                        ("work_item.id", F.col("id")),
                        ("work_item.type", F.col("wi_type")),
                        proj,
                    ),
                )
            )
        if "work_item.age" in enabled:
            parts.append(
                _emit(
                    dated.filter(F.col("closed_date").isNull()),
                    "work_item.age",
                    age_seconds("created_date", now_ts),
                    _attrs(
                        ("work_item.id", F.col("id")),
                        ("work_item.type", F.col("wi_type")),
                        ("work_item.state", F.col("state")),
                        proj,
                    ),
                )
            )

    if not parts:
        # getRepositories error path (azuredevops_scraper.go:133-137): the
        # scraper aborts and mb.Emit() carries nothing — the literal `--- {}`
        # of expected_no_projects.yaml.
        parts.append(
            _emit(
                repos.limit(0),
                "",
                F.lit(0),
                F.create_map().cast("map<string,string>"),
            )
        )
    # Golden-era resource attrs (expected_happy_path.yaml; the current code's
    # rb.SetVcsProviderName/SetVcsOwnerName serialize to the newer names).
    return _snapshot(parts, org, "azuredevops")


def azuredevops_view_scrape(pull_requests: DataFrame, org: str, project: str = "") -> DataFrame:
    """:func:`azuredevops_scrape_metrics` at the pinned clock ``NOW`` over
    ADO-shaped inputs derived from the domain ``pull_requests`` view: the
    azuredevops receiver's scrape and the a25_ado_snapshot_emit query.
    Every branch has a NULL initial_commit_ts, so no vcs.ref.time point."""
    prs = pull_requests.select(
        "repo_name",
        F.col("repo_name").alias("repo_id"),
        F.lit("").alias("url"),
        "pr_id",
        F.when(F.col("state") == "MERGED", "completed").otherwise("active").alias("status"),
        F.col("created_at").cast("timestamp").alias("created_at"),
        F.col("merged_at").cast("timestamp").alias("closed_at"),
        pr_branch_ref().alias("source_ref"),
        "additions",
        "deletions",
    )
    repos = (
        prs.select("repo_name", "repo_id", "url")
        .distinct()
        .withColumn("default_branch", F.lit("main"))
    )
    branches = (
        prs.select("repo_name", "repo_id", "url", F.col("source_ref").alias("branch_name"))
        .distinct()
        .withColumn("initial_commit_ts", F.lit(None).cast("timestamp"))
    )
    return azuredevops_scrape_metrics(repos, branches, prs, org=org, now=NOW, project=project)
