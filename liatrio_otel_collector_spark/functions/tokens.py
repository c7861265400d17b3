"""The vectorized token-parse stage (the pipeline's "grok" analog).

The reference promotes parsed log-body fields to attributes with OTTL
(/root/reference/config/config.yaml:80-103: ParseJSON + set(attributes...)).
Our input is a pre-tokenized sequence, so the parse scans the token stream
for typed marker tokens and promotes them to attribute columns:

    severity marker: 10  <= t < 15   -> {debug,info,warn,error,fatal}
    resource marker: 100 <= t < 120  -> "svc-<t-100>"
    scope marker:    200 <= t < 208  -> "scope-<t-200>"

Two implementations with identical semantics ("first marker in stream wins"):

- :func:`parse_tokens_udf` — an Arrow UDF over Arrow batches (the north-rule
  input_hint mandates vectorized pandas/Arrow UDFs, no per-row Python).  The
  inner loop is pure NumPy over the flat token buffer and its offsets:
  segment-reduceat, no Python-level per-row work.
- :func:`parse_tokens_expr` — pure Catalyst higher-order functions
  (filter/element_at), used for the oracle-parity queries and available as a
  whole-stage-codegen fast path.

Both are deterministic pure functions of ``tokens``, so the choice is a
physical-plan decision, not a semantic one.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

SEVERITIES = np.array(["debug", "info", "warn", "error", "fatal"], dtype=object)

# explicit StructType (a DDL string would require an active session at import)
_PARSE_SCHEMA = StructType(
    [
        StructField("severity", StringType()),
        StructField("resource", StringType()),
        StructField("scope", StringType()),
    ]
)


def _make_parse_tokens_arrow_udf():
    """Arrow-native parse (pyspark 4.1 arrow_udf): the ListArray's flat
    values buffer and offsets go STRAIGHT into NumPy — zero per-row object
    creation (a pandas UDF materializes one small ndarray per row,
    which dominates its cost at high parallelism; measured ~5-10x slower).
    Self-contained closure: pickles by value, no package import on workers.
    """
    import numpy as _np
    import pyarrow as _pa

    severities = _np.array(["debug", "info", "warn", "error", "fatal"], dtype=object)

    def parse(tokens: pa.Array) -> pa.Array:
        arr = tokens.combine_chunks() if isinstance(tokens, _pa.ChunkedArray) else tokens
        if arr.null_count:
            # null token lists behave like empty ones; rare, so the simple
            # normalization path is fine
            arr = _pa.array(
                [x if x is not None else [] for x in arr.to_pylist()], type=arr.type
            )
        n = len(arr)
        if n == 0:
            empty = _pa.array([], type=_pa.string())
            return _pa.StructArray.from_arrays(
                [empty, empty, empty], ["severity", "resource", "scope"]
            )
        offsets = _np.asarray(arr.offsets)
        offsets = (offsets - offsets[0]).astype(_np.int64)
        flat = _np.asarray(arr.flatten()).astype(_np.int64)

        def first_in_range(lo, hi):
            # sentinel appended so trailing-empty-row starts (== flat.size)
            # are valid reduceat indices without clamping into the previous
            # segment (that clamp dropped a marker at a row's last token)
            sentinel = flat.size
            idx = _np.where(
                (flat >= lo) & (flat < hi),
                _np.arange(flat.size, dtype=_np.int64),
                sentinel,
            )
            idx = _np.append(idx, _np.int64(sentinel))
            firsts = _np.minimum.reduceat(idx, offsets[:-1])
            valid = (offsets[1:] > offsets[:-1]) & (firsts < offsets[1:])
            return _np.where(valid, firsts, -1)

        def pick(lo, hi, fmt):
            first = first_in_range(lo, hi)
            out = _np.full(n, None, dtype=object)
            hit = first >= 0
            if hit.any():
                out[hit] = fmt(flat[first[hit]])
            return _pa.array(out, type=_pa.string())

        sev = pick(10, 15, lambda v: severities[v - 10])
        res = pick(100, 120, lambda v: _np.char.add("svc-", (v - 100).astype(str)).astype(object))
        scp = pick(200, 208, lambda v: _np.char.add("scope-", (v - 200).astype(str)).astype(object))
        return _pa.StructArray.from_arrays([sev, res, scp], ["severity", "resource", "scope"])

    from pyspark.sql.functions import arrow_udf

    return arrow_udf(_PARSE_SCHEMA)(parse)


parse_tokens_udf = _make_parse_tokens_arrow_udf()


def parse_tokens_expr(tokens: Column | str = "tokens") -> Column:
    """Catalyst-native equivalent of :func:`parse_tokens_udf` (struct col)."""
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    one = F.lit(1)
    # try_element_at: rows without a marker (or with empty/null token lists)
    # parse to null attrs instead of raising under ANSI mode
    sev_tok = F.try_element_at(F.filter(t, lambda x: (x >= 10) & (x < 15)), one)
    res_tok = F.try_element_at(F.filter(t, lambda x: (x >= 100) & (x < 120)), one)
    scp_tok = F.try_element_at(F.filter(t, lambda x: (x >= 200) & (x < 208)), one)
    severities = F.array(*[F.lit(s) for s in SEVERITIES.tolist()])
    return F.struct(
        F.try_element_at(severities, sev_tok - 9).alias("severity"),
        F.concat(F.lit("svc-"), (res_tok - 100).cast("string")).alias("resource"),
        F.concat(F.lit("scope-"), (scp_tok - 200).cast("string")).alias("scope"),
    )
