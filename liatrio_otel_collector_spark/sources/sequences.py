"""The north-rule input table: pre-tokenized training sequences.

Schema (BASELINE.json input_hint):
    (doc_id: string, tokens: array<int32>, n_tok: int32, source: string)

The generator is **pure Spark SQL expressions over ``spark.range``** — no
driver-side data, no Python row loop — so the same code materializes 6e3 rows
for a unit test or 1e12 rows on a 1000-executor cluster; Spark's range source
splits the id space across partitions and every column is a deterministic
function of ``id``.

Token layout (the "grok"-able structure the parse stage extracts, mirroring
the reference's log-body field promotion at
/root/reference/config/config.yaml:86-103 where body fields become
attributes):

    tokens[0] = 10  + id % 5    severity marker  -> {debug,info,warn,error,fatal}
    tokens[1] = 100 + id % 20   resource marker  -> "svc-<k>"
    tokens[2] = 200 + id % 8    scope marker     -> "scope-<k>"
    tokens[i>2] = (id*1000003 + i*7919) % 50021   opaque payload

``source`` is deliberately skewed (FIXTURES.md §1): ~50% of rows land on
"github" to exercise the salted repartition / AQE skew handling mandated by
the north rule.

Every formula here has a byte-identical DuckDB re-expression
(:func:`duckdb_sequences_cte`) so the driver's oracle can recompute the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEVERITIES = ["debug", "info", "warn", "error", "fatal"]
SOURCES = ["github", "gitlab", "azuredevops", "webhook"]

# one row of `sequences` per lineitem row at the same scale factor
_ROWS_PER_SF = 6_000_000


def rows_for_sf(sf_dir: str) -> int:
    """Map a testdata dir like /root/testdata/sf0.01 to a deterministic row
    count (6M rows/SF — same density as TPC-H lineitem)."""
    name = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    try:
        sf = float(name[2:]) if name.startswith("sf") else 0.001
    except ValueError:
        sf = 0.001
    return max(int(_ROWS_PER_SF * sf), 100)


# The three marker tokens are hoisted out of the per-element lambda (r6,
# guide §1.2 per-task work): the former single transform evaluated a 4-arm
# CASE for every element — ~360M interpreted branch evaluations at 10M rows
# — where only the payload arm ever fires past position 2.  Safe because
# n_tok = 8 + id % 57 ≥ 8 in the same projection (sequence(3, n_tok-1) is
# always ascending).  Byte-identical values to the DuckDB oracle CTE below,
# which keeps the original single-transform spelling (measured: generation
# 2.4 s → 1.35 s at 10M rows, exceptAll diff = 0).
_TOKENS_EXPR = """
concat(
  array(CAST(10 + id % 5 AS INT), CAST(100 + id % 20 AS INT), CAST(200 + id % 8 AS INT)),
  transform(
    sequence(3, n_tok - 1),
    i -> CAST((id * 1000003 + i * 7919) % 50021 AS INT)
  )
)
"""

_SOURCE_EXPR = """
CASE
  WHEN id % 10 < 5 THEN 'github'
  WHEN id % 10 < 7 THEN 'gitlab'
  WHEN id % 10 < 9 THEN 'azuredevops'
  ELSE 'webhook'
END
"""


def sequences(spark: SparkSession, n_rows: int) -> DataFrame:
    """Materialize the sequences table as a lazy DataFrame of `n_rows` rows."""
    return (
        spark.range(n_rows)
        .withColumn("n_tok", F.expr("CAST(8 + id % 57 AS INT)"))
        .withColumn("tokens", F.expr(_TOKENS_EXPR))
        .withColumn("source", F.expr(_SOURCE_EXPR))
        .withColumn("doc_id", F.col("id").cast("string"))
        .select("doc_id", "tokens", "n_tok", "source", "id")
    )


def duckdb_sequences_cte(n_rows: int) -> str:
    """DuckDB CTE computing the identical table (oracle side)."""
    return f"""
sequences AS (
  SELECT
    CAST(r AS VARCHAR) AS doc_id,
    list_transform(
      range(0, CAST(8 + r % 57 AS INT)),
      i -> CAST(CASE
          WHEN i = 0 THEN 10  + r % 5
          WHEN i = 1 THEN 100 + r % 20
          WHEN i = 2 THEN 200 + r % 8
          ELSE (r * 1000003 + i * 7919) % 50021
        END AS INT)
    ) AS tokens,
    CAST(8 + r % 57 AS INT) AS n_tok,
    CASE
      WHEN r % 10 < 5 THEN 'github'
      WHEN r % 10 < 7 THEN 'gitlab'
      WHEN r % 10 < 9 THEN 'azuredevops'
      ELSE 'webhook'
    END AS source,
    r AS id
  FROM range(0, {n_rows}) t(r)
)
"""


def enrich_dim(spark: SparkSession) -> DataFrame:
    """The broadcast-enrich dimension (J1 analog: the gitlabprocessor's small
    component lookup map, /root/reference/processor/gitlabprocessor/processor.go:81-173,
    re-expressed as a 20-row resource→(team, tier) dim)."""
    return spark.range(20).selectExpr(
        "concat('svc-', id) AS resource",
        "concat('team-', id % 5) AS team",
        "CASE id % 3 WHEN 0 THEN 'gold' WHEN 1 THEN 'silver' ELSE 'bronze' END AS tier",
    )


def duckdb_enrich_dim_cte() -> str:
    return """
enrich_dim AS (
  SELECT
    'svc-' || CAST(r AS VARCHAR) AS resource,
    'team-' || CAST(r % 5 AS VARCHAR) AS team,
    CASE r % 3 WHEN 0 THEN 'gold' WHEN 1 THEN 'silver' ELSE 'bronze' END AS tier
  FROM range(0, 20) t(r)
)
"""
