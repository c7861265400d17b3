"""Domain views: VCS/telemetry-shaped DataFrames over the driver's TPC-H-ish
parquet tables (TESTDATA.md), re-expressing the reference's mock-server
fixtures (FIXTURES.md §3) deterministically.

Every view exists twice with IDENTICAL semantics:
- a DataFrame-API builder (the engine side, used by ``__spark_entry__.queries``)
- a DuckDB CTE string (the oracle side, used by ``__spark_entry__.oracle_sql``)

Determinism rules shared by both dialects:
- double→int conversions always go through floor() (DuckDB CAST rounds,
  Spark CAST truncates — floor removes the divergence);
- the pinned clock is NOW (the reference tests ignore timestamps via
  pmetrictest.IgnoreTimestamp(); our oracle instead pins the clock);
- no raw doubles flow into outputs except through exact-integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .tables import ensure_parallel_scan

NOW = "2026-01-01 00:00:00"

# ---------------------------------------------------------------------------
# repos — FIXTURES §3a (genqlient.graphql:1-9, helpers.go:29-78)
# ---------------------------------------------------------------------------


def repos(t: dict[str, DataFrame]) -> DataFrame:
    s, n = t["supplier"], t["nation"]
    return s.join(n, s["s_nationkey"] == n["n_nationkey"]).select(
        F.col("s_name").alias("repo_name"),
        F.col("n_name").alias("org"),
        F.lit("main").alias("default_branch"),
        (F.col("s_suppkey") % 7 == 0).alias("archived"),
        F.concat(
            F.lit("https://api.github.com/repos/"), F.col("n_name"), F.lit("/"), F.col("s_name")
        ).alias("url"),
    )


REPOS_CTE = """
repos AS (
  SELECT s_name AS repo_name,
         n_name AS org,
         'main' AS default_branch,
         (s_suppkey % 7 = 0) AS archived,
         'https://api.github.com/repos/' || n_name || '/' || s_name AS url
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
)
"""

# ---------------------------------------------------------------------------
# branches — FIXTURES §3b (genqlient.graphql:126-164; ADO helpers.go:191-238)
# ---------------------------------------------------------------------------


def branches(t: dict[str, DataFrame]) -> DataFrame:
    return t["part"].select(
        F.concat(F.lit("repo-"), (F.col("p_partkey") % 25).cast("string")).alias("repo_name"),
        F.col("p_name").alias("branch_name"),
        (F.col("p_size") % 10).cast("int").alias("ahead_by"),
        (F.col("p_partkey") % 13).cast("int").alias("behind_by"),
        F.concat(F.lit("refs/heads/"), F.col("p_name")).alias("raw_ref"),
        (F.col("p_partkey") % 50 == 0).alias("is_default"),
    )


BRANCHES_CTE = """
branches AS (
  SELECT 'repo-' || CAST(p_partkey % 25 AS STRING) AS repo_name,
         p_name AS branch_name,
         CAST(p_size % 10 AS INT) AS ahead_by,
         CAST(p_partkey % 13 AS INT) AS behind_by,
         'refs/heads/' || p_name AS raw_ref,
         (p_partkey % 50 = 0) AS is_default
  FROM part
)
"""

# ---------------------------------------------------------------------------
# commits — FIXTURES §3c (genqlient.graphql:84-124; evalCommits helpers.go:291-342)
# ---------------------------------------------------------------------------


def commits(t: dict[str, DataFrame]) -> DataFrame:
    li = t["lineitem"]
    return li.select(
        F.concat(F.lit("repo-"), (F.col("l_suppkey") % 25).cast("string")).alias("repo_name"),
        F.concat(F.lit("b-"), (F.col("l_partkey") % 100).cast("string")).alias("branch_name"),
        F.col("l_shipdate").alias("committed_date"),
        F.floor("l_quantity").cast("int").alias("additions"),
        F.col("l_linenumber").cast("int").alias("deletions"),
        F.concat(F.lit("dev-"), (F.col("l_suppkey") % 40).cast("string")).alias("author_id"),
    )


COMMITS_CTE = """
commits AS (
  SELECT 'repo-' || CAST(l_suppkey % 25 AS STRING) AS repo_name,
         'b-' || CAST(l_partkey % 100 AS STRING) AS branch_name,
         l_shipdate AS committed_date,
         CAST(floor(l_quantity) AS INT) AS additions,
         CAST(l_linenumber AS INT) AS deletions,
         'dev-' || CAST(l_suppkey % 40 AS STRING) AS author_id
  FROM lineitem
)
"""

# ---------------------------------------------------------------------------
# pull_requests — FIXTURES §3d (genqlient.graphql:166-213)
# ---------------------------------------------------------------------------


def pull_requests(t: dict[str, DataFrame]) -> DataFrame:
    o = t["orders"]
    merged = F.col("o_orderstatus") == "F"
    return o.select(
        F.concat(F.lit("repo-"), (F.col("o_custkey") % 25).cast("string")).alias("repo_name"),
        F.col("o_orderkey").cast("string").alias("pr_id"),
        F.when(merged, F.lit("MERGED")).otherwise(F.lit("OPEN")).alias("state"),
        F.col("o_orderdate").alias("created_at"),
        F.when(merged, F.col("o_orderdate") + F.expr("INTERVAL 3 DAY")).alias("merged_at"),
        (F.floor("o_totalprice").cast("bigint") % 1000).cast("int").alias("additions"),
        (F.col("o_orderkey") % 97).cast("int").alias("deletions"),
        F.when(
            F.col("o_orderkey") % 3 != 0, F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")
        ).alias("first_review_at"),
        (F.col("o_orderkey") % 3).cast("int").alias("review_count"),
    )


PULL_REQUESTS_CTE = """
pull_requests AS (
  SELECT 'repo-' || CAST(o_custkey % 25 AS STRING) AS repo_name,
         CAST(o_orderkey AS STRING) AS pr_id,
         CASE WHEN o_orderstatus = 'F' THEN 'MERGED' ELSE 'OPEN' END AS state,
         o_orderdate AS created_at,
         CASE WHEN o_orderstatus = 'F' THEN o_orderdate + INTERVAL 3 DAY END AS merged_at,
         CAST(CAST(floor(o_totalprice) AS BIGINT) % 1000 AS INT) AS additions,
         CAST(o_orderkey % 97 AS INT) AS deletions,
         CASE WHEN o_orderkey % 3 <> 0 THEN o_orderdate + INTERVAL 1 DAY END AS first_review_at,
         CAST(o_orderkey % 3 AS INT) AS review_count
  FROM orders
)
"""


def pr_branch_ref() -> Column:
    """A pull request's synthetic head branch ``br-<pr_id % 11>``, the same in
    every scrape of this view (the github, gitlab and azuredevops receivers)."""
    return F.concat(F.lit("br-"), (F.col("pr_id").cast("bigint") % 11).cast("string"))


# ---------------------------------------------------------------------------
# cve_alerts — FIXTURES §3e (helpers.go:414-521)
# ---------------------------------------------------------------------------


def cve_alerts(t: dict[str, DataFrame]) -> DataFrame:
    e = t["events"]
    sev = (
        F.when(F.col("event_id") % 6 == 0, "CRITICAL")
        .when(F.col("event_id") % 6 == 1, "HIGH")
        .when(F.col("event_id") % 6 == 2, "MODERATE")
        .when(F.col("event_id") % 6 == 3, "Medium")
        .when(F.col("event_id") % 6 == 4, "low")
        .otherwise("bogus")
    )
    return e.select(
        F.concat(F.lit("repo-"), (F.col("user_id") % 25).cast("string")).alias("repo_name"),
        F.when(F.col("event_id") % 2 == 0, "dependabot").otherwise("code_scanning").alias(
            "alert_source"
        ),
        sev.alias("severity_raw"),
        F.when(F.col("value") > 100.0, "open").otherwise("fixed").alias("state"),
    )


CVE_ALERTS_CTE = """
cve_alerts AS (
  SELECT 'repo-' || CAST(user_id % 25 AS STRING) AS repo_name,
         CASE WHEN event_id % 2 = 0 THEN 'dependabot' ELSE 'code_scanning' END AS alert_source,
         CASE event_id % 6 WHEN 0 THEN 'CRITICAL' WHEN 1 THEN 'HIGH' WHEN 2 THEN 'MODERATE'
              WHEN 3 THEN 'Medium' WHEN 4 THEN 'low' ELSE 'bogus' END AS severity_raw,
         CASE WHEN value > 100.0 THEN 'open' ELSE 'fixed' END AS state
  FROM events
)
"""

# ---------------------------------------------------------------------------
# deployments — FIXTURES §3f (deployments.go:94-111): mixed-format string
# timestamps incl. the 0001-01-01 null sentinel, exercising X16.
# ---------------------------------------------------------------------------


def deployments(t: dict[str, DataFrame]) -> DataFrame:
    # expression-heavy view (regex/status normalization + X16 timestamp
    # chain): don't let a single-row-group file serialize it on one core
    e = ensure_parallel_scan(t["events"])
    status = (
        F.when(F.col("event_id") % 6 == 0, "succeeded")
        .when(F.col("event_id") % 6 == 1, "partiallySucceeded")
        .when(F.col("event_id") % 6 == 2, " Failed ")
        .when(F.col("event_id") % 6 == 3, "notDeployed")
        .when(F.col("event_id") % 6 == 4, "inProgress")
        .otherwise("undefined")
    )
    started = (
        F.when(F.col("event_id") % 4 == 0, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"))
        .when(F.col("event_id") % 4 == 1, F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .when(F.col("event_id") % 4 == 2, F.date_format("ts", "yyyy-MM-dd"))
        .otherwise(F.lit("0001-01-01T00:00:00"))
    )
    completed_ts = F.expr("ts + make_interval(0, 0, 0, 0, 0, CAST(event_id % 120 AS INT), 0)")
    return e.select(
        F.col("event_id").alias("deployment_id"),
        F.when(F.col("user_id") % 11 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit("Service"),
                (F.col("user_id") % 5).cast("string"),
                F.lit(" build-"),
                F.col("event_id").cast("string"),
            )
        ).alias("release_name"),
        status.alias("status_raw"),
        F.concat(F.lit("env-"), (F.col("user_id") % 3).cast("string")).alias("environment"),
        started.alias("started_on"),
        F.date_format(completed_ts, "yyyy-MM-dd'T'HH:mm:ss").alias("completed_on"),
    )


DEPLOYMENTS_CTE = """
deployments AS (
  SELECT event_id AS deployment_id,
         CASE WHEN user_id % 11 = 0 THEN ''
              ELSE 'Service' || CAST(user_id % 5 AS STRING) || ' build-' || CAST(event_id AS STRING)
         END AS release_name,
         CASE event_id % 6 WHEN 0 THEN 'succeeded' WHEN 1 THEN 'partiallySucceeded'
              WHEN 2 THEN ' Failed ' WHEN 3 THEN 'notDeployed'
              WHEN 4 THEN 'inProgress' ELSE 'undefined' END AS status_raw,
         'env-' || CAST(user_id % 3 AS STRING) AS environment,
         CASE event_id % 4
              WHEN 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
              WHEN 1 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
              WHEN 2 THEN strftime(ts, '%Y-%m-%d')
              ELSE '0001-01-01T00:00:00' END AS started_on,
         strftime(ts + INTERVAL (event_id % 120) MINUTE, '%Y-%m-%dT%H:%M:%S') AS completed_on
  FROM events
)
"""

# ---------------------------------------------------------------------------
# work_items — FIXTURES §3g (azuredevops_scraper.go:40-57; work_items.go:140)
# ---------------------------------------------------------------------------


def work_items(t: dict[str, DataFrame]) -> DataFrame:
    o = ensure_parallel_scan(t["orders"])
    wi_type = (
        F.when(F.col("o_orderkey") % 4 == 0, "User Story")
        .when(F.col("o_orderkey") % 4 == 1, "Bug")
        .when(F.col("o_orderkey") % 4 == 2, "Task")
        .otherwise("Feature")
    )
    state = (
        F.when(F.col("o_orderpriority") == "1-URGENT", "New")
        .when(F.col("o_orderpriority") == "2-HIGH", "Active")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "Resolved")
        .otherwise("Closed")
    )
    tags = (
        F.when(F.col("o_orderkey") % 5 == 0, "")
        .when(F.col("o_orderkey") % 5 == 1, "alpha")
        .when(F.col("o_orderkey") % 5 == 2, " alpha ; beta")
        .when(F.col("o_orderkey") % 5 == 3, "beta;; gamma ")
        .otherwise("alpha;beta;gamma;delta")
    )
    return o.select(
        F.col("o_orderkey").alias("id"),
        wi_type.alias("wi_type"),
        state.alias("state"),
        F.col("o_orderdate").alias("created_date"),
        F.when(
            F.col("o_orderpriority").isin("4-NOT SPECIFIED", "5-LOW"),
            F.col("o_orderdate") + F.expr("INTERVAL 10 DAY"),
        ).alias("closed_date"),
        tags.alias("tags"),
    )


WORK_ITEMS_CTE = """
work_items AS (
  SELECT o_orderkey AS id,
         CASE o_orderkey % 4 WHEN 0 THEN 'User Story' WHEN 1 THEN 'Bug'
              WHEN 2 THEN 'Task' ELSE 'Feature' END AS wi_type,
         CASE o_orderpriority WHEN '1-URGENT' THEN 'New' WHEN '2-HIGH' THEN 'Active'
              WHEN '3-MEDIUM' THEN 'Resolved' ELSE 'Closed' END AS state,
         o_orderdate AS created_date,
         CASE WHEN o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
              THEN o_orderdate + INTERVAL 10 DAY END AS closed_date,
         CASE o_orderkey % 5 WHEN 0 THEN '' WHEN 1 THEN 'alpha' WHEN 2 THEN ' alpha ; beta'
              WHEN 3 THEN 'beta;; gamma ' ELSE 'alpha;beta;gamma;delta' END AS tags
  FROM orders
)
"""

# ---------------------------------------------------------------------------
# coverage — ADO code-coverage modules (azuredevopsscraper/helpers.go:392-427)
# ---------------------------------------------------------------------------


def coverage(t: dict[str, DataFrame]) -> DataFrame:
    li = t["lineitem"]
    return li.select(
        F.concat(F.lit("repo-"), (F.col("l_suppkey") % 25).cast("string")).alias("repo_name"),
        F.col("l_linenumber").cast("int").alias("module"),
        F.floor("l_quantity").cast("int").alias("covered"),
        (F.floor("l_quantity").cast("int") + (F.col("l_orderkey") % 5).cast("int")).alias("total"),
    )


COVERAGE_CTE = """
coverage AS (
  SELECT 'repo-' || CAST(l_suppkey % 25 AS STRING) AS repo_name,
         CAST(l_linenumber AS INT) AS module,
         CAST(floor(l_quantity) AS INT) AS covered,
         CAST(floor(l_quantity) AS INT) + CAST(l_orderkey % 5 AS INT) AS total
  FROM lineitem
)
"""

# ---------------------------------------------------------------------------
# ci_lines — CI-config content lines (FIXTURES §3h), generated from range():
# exercises the X12/X14 regex-parse archetype
# (gitlabcatalogscraper/helpers.go:19,109-136; gitlabterraformscraper:232-245)
# ---------------------------------------------------------------------------


def ci_lines(t: dict[str, DataFrame]) -> DataFrame:
    from pyspark.sql import SparkSession

    base = SparkSession.getActiveSession().range(200)
    comp = base.selectExpr(
        "concat('group/proj-', id) AS project_path",
        "concat('  - component: gitlab.com/comps/name-', id % 7, '/tmpl@1.', id % 3) AS line",
    )
    tf = base.selectExpr(
        "concat('group/proj-', id) AS project_path",
        """concat('source = "git.example.com/mods/mod-', id % 5, '/aws"') AS line""",
    )
    noise = base.selectExpr(
        "concat('group/proj-', id) AS project_path",
        "concat('# - component: commented-out/skip@9.9  ', id) AS line",
    )
    return comp.unionByName(tf).unionByName(noise)


CI_LINES_CTE = """
ci_lines AS (
  SELECT 'group/proj-' || CAST(r AS STRING) AS project_path,
         '  - component: gitlab.com/comps/name-' || CAST(r % 7 AS STRING)
             || '/tmpl@1.' || CAST(r % 3 AS STRING) AS line
  FROM range(0, 200) t(r)
  UNION ALL
  SELECT 'group/proj-' || CAST(r AS STRING),
         'source = "git.example.com/mods/mod-' || CAST(r % 5 AS STRING) || '/aws"'
  FROM range(0, 200) t(r)
  UNION ALL
  SELECT 'group/proj-' || CAST(r AS STRING),
         '# - component: commented-out/skip@9.9  ' || CAST(r AS STRING)
  FROM range(0, 200) t(r)
)
"""

VIEW_BUILDERS = {
    "repos": repos,
    "branches": branches,
    "commits": commits,
    "pull_requests": pull_requests,
    "cve_alerts": cve_alerts,
    "deployments": deployments,
    "work_items": work_items,
    "coverage": coverage,
    "ci_lines": ci_lines,
}

VIEW_CTES = {
    "repos": REPOS_CTE,
    "branches": BRANCHES_CTE,
    "commits": COMMITS_CTE,
    "pull_requests": PULL_REQUESTS_CTE,
    "cve_alerts": CVE_ALERTS_CTE,
    "deployments": DEPLOYMENTS_CTE,
    "work_items": WORK_ITEMS_CTE,
    "coverage": COVERAGE_CTE,
    "ci_lines": CI_LINES_CTE,
}


def with_ctes(*views: str, body: str) -> str:
    """Compose a DuckDB query: WITH <view ctes> <body>."""
    parts = [VIEW_CTES[v].strip().rstrip() for v in views]
    return "WITH " + ",\n".join(parts) + "\n" + body
