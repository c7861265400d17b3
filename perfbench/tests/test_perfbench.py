"""Self-tests of the benchmark: seeded inputs, the correctness gate, the
NumPy hash port and the metric registry.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gate, inputs, run
from perfbench.xxhash64 import hash_doc_tokens, xor_fold

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_same_seed_same_input_other_seed_other_ids(tmp_path):
    a, b, c = (inputs.make_sequences(s, 2_000) for s in (7, 7, 8))
    for field in ("ids", "offsets", "values", "sources"):
        assert np.array_equal(getattr(a, field), getattr(b, field))
    assert not set(a.doc_ids()) & set(c.doc_ids())

    for name, seq in (("a", a), ("b", b)):
        inputs.write_sequences(seq, str(tmp_path / name), 3)
    for f in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()

    t1, t2, t3 = (inputs.receiver_tables(s, 0.001) for s in (7, 7, 8))
    assert all(t1[n].equals(t2[n]) for n in t1)
    assert not t1["events"].equals(t3["events"])


def test_sequences_keep_marker_layout_and_skew():
    seq = inputs.make_sequences(3, 10_000)
    heads = seq.values[seq.offsets[:-1, None] + np.arange(3)]
    assert np.array_equal(heads[:, 0], 10 + seq.ids % 5)
    assert np.array_equal(heads[:, 1], 100 + seq.ids % 20)
    assert np.array_equal(heads[:, 2], 200 + seq.ids % 8)
    assert abs((seq.sources == "github").mean() - 0.5) < 0.01


def _fake_batch_output(seq: inputs.Sequences, out: str) -> None:
    """A run_pipeline output directory written without Spark: what a
    correct run over ``seq`` leaves behind, as far as the gate reads it."""
    table = seq.to_arrow()
    sev = seq.ids % 5
    logs = table.filter(pa.array(sev >= 2))
    traces = table.filter(pa.array((seq.ids % 8 < 3) & (seq.sources != "webhook")))
    h = hash_doc_tokens(seq.doc_ids(), seq.offsets, seq.values)
    files = {
        "logs": logs,
        "traces": traces.drop(["tokens"]),
        "metrics": pa.table({"seq_count": [len(seq.ids)], "tok_count": [int(seq.n_tok.sum())]}),
        "logs_agg": pa.table({"log_count": [logs.num_rows]}),
        "traces_agg": pa.table({"span_count": [traces.num_rows]}),
        "_lineage/logs": pa.table(
            {"row_count": [logs.num_rows], "token_checksum": [xor_fold(h[sev >= 2])]}
        ),
        "_metrics": pa.table({"input_rows": [len(seq.ids)]}),
    }
    for name, t in files.items():
        os.makedirs(os.path.join(out, name))
        pq.write_table(t, os.path.join(out, name, "part-0.parquet"))


def test_gate_passes_correct_output_and_flags_wrong_count(tmp_path):
    seq = inputs.make_sequences(5, 3_000)
    inputs.write_sequences(seq, str(tmp_path / "in"), 2)
    exp = gate.expected_from_parquet(str(tmp_path / "in" / "*.parquet"))
    out = str(tmp_path / "out")
    _fake_batch_output(seq, out)
    returned = {"logs": exp.logs, "traces": exp.traces}
    assert gate.check_batch_output(out, exp, returned) == []

    wrong = gate.Expected(exp.rows, exp.tok_count, exp.logs + 1, exp.traces, exp.logs_xor)
    problems = gate.check_batch_output(out, wrong, returned)
    assert any(p.startswith("sink logs") for p in problems)
    assert gate.compare_counts({"logs": 3}, {"logs": 4}) == ["logs: expected 3, got 4"]


def _write(directory: str, columns: dict, name: str = "part-0.parquet") -> None:
    os.makedirs(directory, exist_ok=True)
    pq.write_table(pa.table(columns), os.path.join(directory, name))


def test_stream_gate_flags_replayed_batch(tmp_path):
    seq = inputs.make_sequences(9, 400)
    ticks = [seq.slice(0, 200), seq.slice(200, 400)]
    out = str(tmp_path / "out")
    exps = []
    for k, part in enumerate(ticks):
        inputs.write_sequences(part, str(tmp_path / f"tick{k}"), 1)
        exps.append(gate.expected_from_parquet(str(tmp_path / f"tick{k}" / "*.parquet")))
        _fake_batch_output(part, str(tmp_path / f"b{k}"))
        for sink in gate.STREAM_SINKS:
            shutil.copytree(tmp_path / f"b{k}" / sink, os.path.join(out, sink, f"batch_id={k}"))
        n = len(part.ids)
        _write(os.path.join(out, "_lineage", "_input", f"batch_id={k}"), {"row_count": [n]})
        _write(os.path.join(out, "_metrics"), {"batch_id": [k], "input_rows": [n]}, f"m{k}.parquet")
    assert gate.check_stream_output(out, exps) == {}

    # a replayed batch 1 appends its rows a second time
    logs1 = os.path.join(out, "logs", "batch_id=1")
    shutil.copy(os.path.join(logs1, "part-0.parquet"), os.path.join(logs1, "part-1.parquet"))
    problems = gate.check_stream_output(out, exps)
    assert 1 in problems and 0 not in problems


def test_registry_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert spec["paths"] == ["perfbench"]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", run.WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark():
    from liatrio_otel_collector_spark.session import get_spark

    s = get_spark(app_name="perfbench-selftest", extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_numpy_xxhash64_matches_spark(spark):
    seq = inputs.make_sequences(11, 500)
    # long and short doc ids exercise every tail branch of the byte hash
    doc_ids = [d + "x" * (i % 18) for i, d in enumerate(seq.doc_ids())]
    table = seq.to_arrow().set_column(0, "doc_id", pa.array(doc_ids))
    df = spark.createDataFrame(table.select(["doc_id", "tokens"]).to_pandas())
    want = [r[0] for r in df.selectExpr("xxhash64(doc_id, tokens)").collect()]
    got = hash_doc_tokens(doc_ids, seq.offsets, seq.values).view(np.int64).tolist()
    assert got == want
