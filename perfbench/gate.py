"""The correctness gate: expected values computed without Spark, and the
checks that compare a workload's outputs against them.

Every check returns a list of human-readable problems; an empty list means
the operation was correct.  Expected counts come from DuckDB over the very
parquet files the program read; the token checksum comes from the NumPy
port of Spark's ``xxhash64`` (``xxhash64.py``).  Sinks are read back with
DuckDB, not Spark.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

import duckdb
import numpy as np

from .xxhash64 import hash_doc_tokens, xor_fold

# parse semantics of functions/tokens.py over the marker layout: severity
# marker 10+k at position 0, scope marker 200+k at position 2
LOGS_PRED = "tokens[1] IN (12, 13, 14)"
TRACES_PRED = "tokens[3] IN (200, 201, 202) AND source <> 'webhook'"


@dataclass(frozen=True)
class Expected:
    rows: int
    tok_count: int
    logs: int
    traces: int
    logs_xor: int


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, union_by_name = true)"


def _xor_of(con: duckdb.DuckDBPyConnection, relation: str) -> int:
    tbl = con.sql(f"SELECT doc_id, tokens FROM {relation}").arrow()
    if tbl.num_rows == 0:
        return 0
    tokens = tbl.column("tokens").combine_chunks()
    offsets = tokens.offsets.to_numpy().astype(np.int64)
    values = tokens.values.to_numpy()
    return xor_fold(hash_doc_tokens(tbl.column("doc_id").to_pylist(), offsets, values))


def expected_from_parquet(files: str) -> Expected:
    """Expected sink totals for the input parquet under ``files`` (a glob)."""
    con = duckdb.connect()
    src = f"read_parquet('{files}')"
    rows, toks, logs, traces = con.sql(
        f"SELECT count(*), coalesce(sum(n_tok), 0), "
        f"count(*) FILTER (WHERE {LOGS_PRED}), count(*) FILTER (WHERE {TRACES_PRED}) FROM {src}"
    ).fetchone()
    logs_xor = _xor_of(con, f"{src} WHERE {LOGS_PRED}")
    return Expected(int(rows), int(toks), int(logs), int(traces), logs_xor)


def compare_counts(expected: dict[str, int], actual: dict[str, int]) -> list[str]:
    """One problem per key whose actual value differs from the expected one."""
    return [
        f"{k}: expected {v}, got {actual.get(k)}"
        for k, v in expected.items()
        if actual.get(k) != v
    ]


def check_batch_output(out_dir: str, exp: Expected, returned: dict[str, int]) -> list[str]:
    """All five sinks, the lineage manifests and ``_metrics`` of one
    ``run_pipeline`` output directory."""
    con = duckdb.connect()

    def one(sql: str):
        return con.sql(sql).fetchone()

    problems = compare_counts({"logs": exp.logs, "traces": exp.traces}, returned)
    (logs,) = one(f"SELECT count(*) FROM {_parquet(out_dir + '/logs')}")
    (traces,) = one(f"SELECT count(*) FROM {_parquet(out_dir + '/traces')}")
    seqs, toks = one(f"SELECT sum(seq_count), sum(tok_count) FROM {_parquet(out_dir + '/metrics')}")
    (log_agg,) = one(f"SELECT sum(log_count) FROM {_parquet(out_dir + '/logs_agg')}")
    (span_agg,) = one(f"SELECT sum(span_count) FROM {_parquet(out_dir + '/traces_agg')}")
    lin_rows, lin_xor = one(
        f"SELECT sum(row_count), bit_xor(token_checksum) FROM {_parquet(out_dir + '/_lineage/logs')}"
    )
    (metric_rows,) = one(f"SELECT sum(input_rows) FROM {_parquet(out_dir + '/_metrics')}")
    problems += compare_counts(
        {
            "sink logs": exp.logs,
            "sink traces": exp.traces,
            "metrics seq_count": exp.rows,
            "metrics tok_count": exp.tok_count,
            "logs_agg log_count": exp.logs,
            "traces_agg span_count": exp.traces,
            "lineage logs rows": exp.logs,
            "lineage logs checksum": exp.logs_xor,
            "_metrics input_rows": exp.rows,
            "logs xxhash64 xor": exp.logs_xor,
        },
        {
            "sink logs": logs,
            "sink traces": traces,
            "metrics seq_count": seqs,
            "metrics tok_count": toks,
            "logs_agg log_count": log_agg,
            "traces_agg span_count": span_agg,
            "lineage logs rows": lin_rows,
            "lineage logs checksum": lin_xor,
            "_metrics input_rows": metric_rows,
            "logs xxhash64 xor": _xor_of(con, _parquet(out_dir + "/logs")),
        },
    )
    return problems


STREAM_SINKS = ("logs", "traces", "metrics", "logs_agg", "traces_agg")


def _batch_dirs(path: str) -> list[int]:
    return sorted(
        int(os.path.basename(d).split("=", 1)[1]) for d in glob.glob(os.path.join(path, "batch_id=*"))
    )


def check_stream_output(out_dir: str, ticks: list[Expected]) -> dict[int, list[str]]:
    """Problems per micro-batch id after a stream (with its restart) drained
    every tick; tick ``k`` must have become exactly batch ``k``.  Key -1
    holds problems that belong to no single batch."""
    con = duckdb.connect()
    n = len(ticks)
    problems: dict[int, list[str]] = {}

    def add(k: int, msg: str) -> None:
        problems.setdefault(k, []).append(msg)

    for sink in STREAM_SINKS:
        dirs = _batch_dirs(os.path.join(out_dir, sink))
        if dirs != list(range(n)):
            add(-1, f"{sink}: batch_id dirs {dirs}, expected 0..{n - 1}")

    def per_batch(sql: str) -> dict[int, tuple]:
        return {int(r[0]): r[1:] for r in con.sql(sql).fetchall()}

    logs = per_batch(f"SELECT batch_id, count(*) FROM {_parquet(out_dir + '/logs')} GROUP BY 1")
    traces = per_batch(f"SELECT batch_id, count(*) FROM {_parquet(out_dir + '/traces')} GROUP BY 1")
    metrics = per_batch(
        f"SELECT batch_id, sum(seq_count), sum(tok_count) FROM {_parquet(out_dir + '/metrics')} GROUP BY 1"
    )
    lineage = per_batch(
        f"SELECT batch_id, sum(row_count) FROM {_parquet(out_dir + '/_lineage/_input')} GROUP BY 1"
    )
    runs = per_batch(
        f"SELECT batch_id, count(*), sum(input_rows) FROM {_parquet(out_dir + '/_metrics')} GROUP BY 1"
    )
    for k, exp in enumerate(ticks):
        for msg in compare_counts(
            {
                "logs": exp.logs,
                "traces": exp.traces,
                "metrics": (exp.rows, exp.tok_count),
                "lineage _input rows": exp.rows,
                "_metrics rows": (1, exp.rows),
            },
            {
                "logs": logs.get(k, (0,))[0],
                "traces": traces.get(k, (0,))[0],
                "metrics": metrics.get(k),
                "lineage _input rows": lineage.get(k, (0,))[0],
                "_metrics rows": runs.get(k),
            },
        ):
            add(k, f"batch {k} {msg}")
    want_xor = 0
    for exp in ticks:
        want_xor ^= exp.logs_xor
    got_xor = _xor_of(con, _parquet(out_dir + "/logs"))
    if got_xor != want_xor:
        add(-1, f"logs xxhash64 xor: expected {want_xor}, got {got_xor}")
    return problems


class Collected:
    """An already-collected Spark result in the shape ``oracle.compare``
    reads (``columns`` and ``collect()``), so the oracle check does not run
    the query a second time."""

    def __init__(self, columns: list[str], rows: list[tuple]):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list[tuple]:
        return self._rows
