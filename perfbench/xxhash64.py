"""Spark's ``xxhash64(string, array<int>)`` recomputed in NumPy.

The correctness gate needs the XOR of ``xxhash64(doc_id, tokens)`` over a
sink without asking Spark for it.  This is a row-vectorised port of
``org.apache.spark.unsafe.hash.XXH64`` as Spark's ``XxHash64`` expression
drives it: seed 42, each column folded into the running hash in order, a
string hashed as its UTF-8 bytes, an array hashed element by element with
``hashInt``.  Strings of 32 bytes or more are rejected; doc ids never are.
"""

from __future__ import annotations

import numpy as np

SPARK_SEED = 42

P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * P2
    h = h ^ (h >> np.uint64(29))
    h = h * P3
    return h ^ (h >> np.uint64(32))


def hash_int(values: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """``XXH64.hashInt`` for each (value, seed) pair."""
    with np.errstate(over="ignore"):
        h = seed + P5 + np.uint64(4)
        h = h ^ (values.astype(np.uint32).astype(np.uint64) * P1)
        h = _rotl(h, 23) * P2 + P3
        return _fmix(h)


def hash_strings(strings: list[str], seed: np.ndarray) -> np.ndarray:
    """``XXH64.hashUnsafeBytes`` of each string's UTF-8 bytes."""
    encoded = [s.encode("utf-8") for s in strings]
    lengths = np.fromiter((len(b) for b in encoded), dtype=np.int64, count=len(encoded))
    out = np.empty(len(encoded), dtype=np.uint64)
    if len(encoded) and lengths.max() >= 32:
        raise ValueError("strings of 32 bytes or more are not supported")
    with np.errstate(over="ignore"):
        for n in np.unique(lengths):
            idx = np.flatnonzero(lengths == n)
            n = int(n)
            raw = np.frombuffer(b"".join(encoded[i] for i in idx), dtype=np.uint8)
            mat = raw.reshape(len(idx), n) if n else np.zeros((len(idx), 0), np.uint8)
            h = seed[idx] + P5 + np.uint64(n)
            off = 0
            while off + 8 <= n:
                k1 = np.ascontiguousarray(mat[:, off:off + 8]).view("<u8").ravel()
                h = h ^ (_rotl(k1 * P2, 31) * P1)
                h = _rotl(h, 27) * P1 + P4
                off += 8
            if off + 4 <= n:
                k = np.ascontiguousarray(mat[:, off:off + 4]).view("<u4").ravel()
                h = h ^ (k.astype(np.uint64) * P1)
                h = _rotl(h, 23) * P2 + P3
                off += 4
            while off < n:
                h = h ^ (mat[:, off].astype(np.uint64) * P5)
                h = _rotl(h, 11) * P1
                off += 1
            out[idx] = _fmix(h)
    return out


def hash_doc_tokens(doc_ids: list[str], offsets: np.ndarray, values: np.ndarray) -> np.ndarray:
    """``xxhash64(doc_id, tokens)`` per row, as unsigned 64-bit values.

    ``offsets`` (length rows + 1) and ``values`` are the flattened int32
    token lists, as a pyarrow ``ListArray`` stores them."""
    h = hash_strings(doc_ids, np.full(len(doc_ids), SPARK_SEED, dtype=np.uint64))
    lengths = np.diff(offsets)
    starts = offsets[:-1]
    for pos in range(int(lengths.max()) if len(lengths) else 0):
        rows = np.flatnonzero(lengths > pos)
        h[rows] = hash_int(values[starts[rows] + pos], h[rows])
    return h


def xor_fold(hashes: np.ndarray) -> int:
    """Order-independent fold, as a signed 64-bit value like Spark's bigint."""
    acc = np.bitwise_xor.reduce(hashes) if len(hashes) else np.uint64(0)
    return int(np.array(acc, dtype=np.uint64).view(np.int64))
