"""Per-chunk HyperLogLog NDV sketches — metadata-only approximate
distinct counts (the Iceberg puffin / Theta-sketch story).

An exact COUNT(DISTINCT col) over 100 TB is a full shuffle; the planner
questions it answers ("how many repos/languages/keys — should this join
broadcast, how many buckets should placement provision") tolerate a few
percent error. So each chunk carries a tiny HLL register array per
opted-in column (``encode_table(ndv_columns=[...])``), merged by
register-wise max — an order-independent, idempotent merge, which is
what makes the sketch exact to maintain across chunks, partitions,
appends, and snapshots without ever rescanning data. The table-level
estimate is then one small manifest read: ``ndv_from_metadata``.

Layout: 2^P uint8 registers (P=11 → 2 KiB raw, 4 KiB hex in the chunk
stats JSON; standard error ≈ 1.04/√2048 ≈ 2.3%). Values hash through
the same vectorized FNV-1a-64 + splitmix64 finalizer the Bloom layer
uses (no per-row Python; strings hashed over their first
``bloom.PREFIX`` bytes, so distinctness past 64 bytes conflates — NDV
columns are key-ish: ids, languages, paths, not whole documents).
Small cardinalities fall into the linear-counting regime and are near
exact. Supported types: string/binary and integers; the hash is a pure
function of the values, so estimates are deterministic per dataset.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from fhirflat_spark.bloom import _fnv1a_np, _splitmix64_np

P = 11
M = 1 << P
_SUFFIX_BITS = 64 - P  # 53: fits float64 exactly → log2 rank is exact


def _hash64(arr: pa.Array) -> np.ndarray | None:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        arr = arr.drop_null()
    if len(arr) == 0:
        return None
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t) or \
            pa.types.is_binary(t) or pa.types.is_large_binary(t):
        from fhirflat_spark.codecs.core import string_parts

        lengths, data = string_parts(arr)
        return _splitmix64_np(_fnv1a_np(lengths, data))
    if pa.types.is_integer(t):
        vals = arr.to_numpy(zero_copy_only=False).astype(np.uint64)
        return _splitmix64_np(vals)
    return None  # unsupported type: caller raises at plan time


def hll_registers(arr: pa.Array) -> bytes | None:
    """2^P uint8 HLL registers over the array's non-null values, or
    None for an all-null/empty chunk (merges as all-zero)."""
    h = _hash64(arr)
    if h is None:
        return None
    idx = (h >> np.uint64(_SUFFIX_BITS)).astype(np.int64)
    w = h & np.uint64((1 << _SUFFIX_BITS) - 1)
    # rank = leading zeros of the suffix + 1; suffix ≤ 53 bits so log2
    # as float64 is exact (bit_length = floor(log2)+1 for w > 0)
    rank = np.full(len(h), _SUFFIX_BITS + 1, dtype=np.uint8)
    nz = w > 0
    rank[nz] = (_SUFFIX_BITS - np.floor(
        np.log2(w[nz].astype(np.float64))).astype(np.int64)).astype(np.uint8)
    regs = np.zeros(M, dtype=np.uint8)
    np.maximum.at(regs, idx, rank)
    return regs.tobytes()


def hll_merge(a: bytes | None, b: bytes | None) -> bytes | None:
    if a is None:
        return b
    if b is None:
        return a
    return np.maximum(
        np.frombuffer(a, dtype=np.uint8), np.frombuffer(b, dtype=np.uint8)
    ).tobytes()


def hll_estimate(regs: bytes | None) -> int:
    """Bias-corrected HLL estimate with linear counting for the small
    regime (64-bit hashes need no large-range correction)."""
    if regs is None:
        return 0
    r = np.frombuffer(regs, dtype=np.uint8).astype(np.float64)
    alpha = 0.7213 / (1 + 1.079 / M)
    est = alpha * M * M / np.sum(np.exp2(-r))
    zeros = int(np.count_nonzero(r == 0))
    if est <= 2.5 * M and zeros:
        est = M * np.log(M / zeros)
    return int(round(est))


def ndv_from_metadata(out_dir: str, column: str,
                      snapshot: int | str | None = None) -> int | None:
    """Approximate COUNT(DISTINCT column) from the snapshot manifest
    alone — zero chunk IO. None when the manifest cannot answer: the
    column was not sketched (``ndv_columns``), a live partition
    predates the sketch, or active equality-deletes exist (deleted
    values cannot be subtracted from an HLL)."""
    import json

    from fhirflat_spark.manifest import table_view

    view = table_view(out_dir, snapshot)
    if view.version is None or view.deletes:
        return None
    t = view.manifest
    names = t.schema.names
    if "col_hlls" not in names or "col_nulls" not in names:
        return None
    merged: bytes | None = None
    any_rows = False
    for n_rows, hjson, njson in zip(
        t["rows"].to_pylist(), t["col_hlls"].to_pylist(),
        t["col_nulls"].to_pylist(),
    ):
        if n_rows == 0:
            continue
        any_rows = True
        hl = json.loads(hjson) if hjson else {}
        hx = hl.get(column)
        if hx is None:
            # no sketch: EXACT only when the partition holds no values
            # for the column at all (all-NULL / pre-evolution) — its
            # contribution to the distinct set is empty
            pn = json.loads(njson) if njson else None
            if pn is None or pn.get(column, n_rows) != n_rows:
                return None
            continue
        merged = hll_merge(merged, bytes.fromhex(hx))
    if not any_rows:
        return 0
    return hll_estimate(merged)
