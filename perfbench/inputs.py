"""Seeded benchmark inputs, written with NumPy and pyarrow (never Spark).

Three inputs, one per workload:

- :func:`write_sequences` — the pipeline's ``(doc_id, tokens, n_tok, source)``
  table.  Every column is the same function of ``id`` as
  ``liatrio_otel_collector_spark.sources.sequences`` (marker tokens at
  positions 0-2, opaque payload after, ~50 % ``github`` rows), so the parse
  and routing semantics are the program's own; the seed only picks where the
  id range starts.
- :func:`write_ticks` — the same table split into one parquet file per
  stream tick, with increasing modification times so a file stream picks
  them up in order.
- :func:`write_receiver_tables` — the star-schema tables the receiver
  queries read (``events``, ``orders``, ``lineitem``, ``part``, ...), drawn
  from a seeded generator at a small scale factor.

The same seed always yields byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# first id of the generated range is drawn below this bound, which keeps
# every doc_id string well under the 32 bytes the NumPy hash supports
ID_SPACE = 10**12


@dataclass(frozen=True)
class Sequences:
    """The generated rows as columns (``tokens`` flattened, Arrow style)."""

    ids: np.ndarray  # int64
    offsets: np.ndarray  # int64, len(ids) + 1
    values: np.ndarray  # int32, the flattened token lists
    sources: np.ndarray  # object (str)

    @property
    def n_tok(self) -> np.ndarray:
        return np.diff(self.offsets)

    def doc_ids(self) -> list[str]:
        return pa.array(self.ids).cast(pa.string()).to_pylist()

    def slice(self, lo: int, hi: int) -> "Sequences":
        off = self.offsets[lo:hi + 1]
        return Sequences(
            self.ids[lo:hi],
            off - off[0],
            self.values[off[0]:off[-1]],
            self.sources[lo:hi],
        )

    def to_arrow(self) -> pa.Table:
        tokens = pa.ListArray.from_arrays(
            pa.array(self.offsets.astype(np.int32)), pa.array(self.values)
        )
        return pa.table(
            {
                "doc_id": pa.array(self.ids).cast(pa.string()),
                "tokens": tokens,
                "n_tok": pa.array(self.n_tok.astype(np.int32)),
                "source": pa.array(self.sources, type=pa.string()),
                "id": pa.array(self.ids),
            }
        )


def id_start(seed: int) -> int:
    return int(np.random.default_rng(seed).integers(0, ID_SPACE))


def make_sequences(seed: int, n_rows: int) -> Sequences:
    """Rows ``id_start(seed) .. + n_rows`` of the sequences layout."""
    ids = np.arange(n_rows, dtype=np.int64) + id_start(seed)
    n_tok = 8 + ids % 57
    offsets = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    row = np.repeat(np.arange(n_rows), n_tok)
    pos = np.arange(offsets[-1], dtype=np.int64) - offsets[row]
    rid = ids[row]
    values = np.where(
        pos == 0,
        10 + rid % 5,
        np.where(
            pos == 1,
            100 + rid % 20,
            np.where(pos == 2, 200 + rid % 8, (rid * 1000003 + pos * 7919) % 50021),
        ),
    ).astype(np.int32)
    bucket = ids % 10
    sources = np.where(
        bucket < 5, "github", np.where(bucket < 7, "gitlab", np.where(bucket < 9, "azuredevops", "webhook"))
    ).astype(object)
    return Sequences(ids, offsets, values, sources)


def write_sequences(seq: Sequences, path: str, n_files: int) -> None:
    """Write the table as ``n_files`` parquet files of contiguous id ranges,
    without the ``id`` column (the pipeline's input schema)."""
    os.makedirs(path, exist_ok=True)
    table = seq.to_arrow().drop(["id"])
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for k in range(n_files):
        part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
        pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))


def write_ticks(seq: Sequences, path: str, n_ticks: int, first: int, last: int) -> None:
    """Write ticks ``first .. last-1`` of ``n_ticks`` equal slices, one file
    each, with ``id`` kept (the stream's schema).  Modification times
    increase with the tick number so the file stream's oldest-first ordering
    is the tick order."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(seq.ids), n_ticks + 1).astype(int)
    base = 1_700_000_000
    for k in range(first, last):
        f = os.path.join(path, f"tick-{k:05d}.parquet")
        pq.write_table(seq.slice(bounds[k], bounds[k + 1]).to_arrow(), f)
        os.utime(f, (base + k, base + k))


# ---------------------------------------------------------------------------
# receiver tables
# ---------------------------------------------------------------------------

DAY_US = 86_400_000_000
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def receiver_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The TPC-H-like tables plus ``events`` at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    od_lo = np.datetime64("1995-01-01").astype("datetime64[us]").astype(np.int64)
    ev_lo = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
    pick = lambda names, n: np.array(names, dtype=object)[rng.integers(0, len(names), n)]  # noqa: E731
    part_idx = np.arange(n_part)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": part_idx.astype(np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(pick(ADJS, n_part), pick(NOUNS, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pick(PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (part_idx % 2000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": pick(["P", "O", "F"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _ts(od_lo + rng.integers(0, 2404, n_ord) * DAY_US),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": pick(["N", "R", "A"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": _ts(od_lo + rng.integers(0, 2499, n_li) * DAY_US),
        }),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ev_lo + rng.integers(0, 30 * DAY_US, n_ev)),
            "user_id": rng.integers(0, max(n_cust // 10, 1), n_ev),
            "event_type": pick(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
    }


def write_receiver_tables(seed: int, sf: float, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    for name, table in receiver_tables(seed, sf).items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
