"""Per-chunk DDSketch quantile sketches — metadata-only approximate
percentiles (the companion to ``ndv.py``'s HLL distinct counts).

An exact percentile over 100 TB is a full sort (or a multi-pass
selection); the planning questions it answers ("p99 document length for
bin sizing, median file size for chunk geometry, latency SLO checks on
an ingest ledger") tolerate a small *relative* error. DDSketch (Masson,
Rim, Lee — VLDB 2019) buckets values at geometric boundaries
``idx = ceil(log_gamma(|x|))`` so every bucket's midpoint is within a
fixed relative error ``ALPHA`` of anything in the bucket, and the merge
is bucket-wise count addition — associative, commutative, and a pure
function of the value multiset. That purity is what makes the sketch
exact to maintain across chunks, partitions, appends, compactions, and
snapshots without rescanning data, and why the table-level answer is one
small manifest read: :func:`quantile_from_metadata`.

Layout per sketch: a zero-bucket count plus two contiguous count arrays
(positive and negative stores) with their base indices — JSON-compact in
the chunk stats (typical integer columns span < 1k buckets; int64
extremes are bounded at ~2.2k). Values with ``|x| < MIN_POSITIVE``
collapse into the zero bucket (documented absolute error there);
NaN/±inf poison the chunk — the kernel then emits no sketch and the
manifest's null-count cross-check (same mechanism as ``ndv``) refuses to
serve a wrong answer. Supported types: integers and floats. Opt-in per
column via ``encode_table(quantile_columns=[...])``.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa

ALPHA = 0.02  # guaranteed relative accuracy of any served quantile
GAMMA = (1.0 + ALPHA) / (1.0 - ALPHA)
_LN_GAMMA = math.log(GAMMA)
MIN_POSITIVE = 1e-9  # |x| below this is "zero" (absolute, not relative)
_MIN_IDX = int(math.ceil(math.log(MIN_POSITIVE) / _LN_GAMMA)) - 1


def _bucket_indices(x: np.ndarray) -> np.ndarray:
    """ceil(log_gamma(x)) for positive x, clamped below at _MIN_IDX."""
    idx = np.ceil(np.log(x) / _LN_GAMMA).astype(np.int64)
    return np.maximum(idx, _MIN_IDX)


def _store(x: np.ndarray) -> tuple[int, list[int]]:
    """(base_idx, dense counts) for a positive-value array."""
    idx = _bucket_indices(x)
    base = int(idx.min())
    counts = np.bincount(idx - base)
    return base, counts.astype(np.int64).tolist()


def ddq_sketch(arr: pa.Array) -> dict | None:
    """DDSketch of the array's non-null values as a JSON-ready dict
    ``{"z": zeros, "po": base, "pc": [counts], "no": base, "nc": [counts]}``
    (empty stores omitted). None for an all-null/empty chunk — and for a
    chunk containing NaN/±inf, which the manifest null cross-check then
    distinguishes from "no values" (refusing service, never lying)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        arr = arr.drop_null()
    if len(arr) == 0:
        return None
    t = arr.type
    if not (pa.types.is_integer(t) or pa.types.is_floating(t)):
        return None  # unsupported type: caller raises at plan time
    v = arr.to_numpy(zero_copy_only=False).astype(np.float64)
    if not np.isfinite(v).all():
        return None  # poisoned chunk: no sketch, nulls check refuses service
    sk: dict = {"z": int(np.count_nonzero(np.abs(v) < MIN_POSITIVE))}
    pos = v[v >= MIN_POSITIVE]
    if len(pos):
        sk["po"], sk["pc"] = _store(pos)
    neg = -v[v <= -MIN_POSITIVE]
    if len(neg):
        sk["no"], sk["nc"] = _store(neg)
    return sk


def _merge_store(ab, ac, bb, bc) -> tuple[int | None, list[int] | None]:
    if ac is None:
        return bb, bc
    if bc is None:
        return ab, ac
    base = min(ab, bb)
    end = max(ab + len(ac), bb + len(bc))
    out = np.zeros(end - base, dtype=np.int64)
    out[ab - base : ab - base + len(ac)] += np.asarray(ac, dtype=np.int64)
    out[bb - base : bb - base + len(bc)] += np.asarray(bc, dtype=np.int64)
    return base, out.tolist()


def ddq_merge(a: dict | None, b: dict | None) -> dict | None:
    """Bucket-wise count addition — order-independent and lossless, so
    the merged sketch is a pure function of the union multiset."""
    if a is None:
        return b
    if b is None:
        return a
    out = {"z": a.get("z", 0) + b.get("z", 0)}
    po, pc = _merge_store(a.get("po", 0), a.get("pc"), b.get("po", 0), b.get("pc"))
    if pc is not None:
        out["po"], out["pc"] = po, pc
    no, nc = _merge_store(a.get("no", 0), a.get("nc"), b.get("no", 0), b.get("nc"))
    if nc is not None:
        out["no"], out["nc"] = no, nc
    return out


def ddq_count(sk: dict | None) -> int:
    if sk is None:
        return 0
    return int(sk.get("z", 0) + sum(sk.get("pc", ())) + sum(sk.get("nc", ())))


def _bucket_value(idx: int) -> float:
    # geometric bucket (gamma^(idx-1), gamma^idx]; its mid-ratio point is
    # within ALPHA of every member
    return 2.0 * GAMMA**idx / (GAMMA + 1.0)


def ddq_quantile(sk: dict | None, q: float) -> float | None:
    """Value at quantile ``q``, guaranteed within ``ALPHA`` relative
    error of the sorted element at index ``floor(q*(n-1))`` (numpy's
    ``method='lower'``; the DDSketch reference convention — the walk
    takes the first bucket whose cumulative count exceeds ``q*(n-1)``).
    Absolute ``MIN_POSITIVE`` error around zero. None for an empty
    sketch or q outside [0, 1]."""
    if sk is None or not 0.0 <= q <= 1.0:
        return None
    n = ddq_count(sk)
    if n == 0:
        return None
    rank = q * (n - 1)
    # ascending value order: negative store from highest idx down, then
    # zeros, then positive store from lowest idx up
    cum = 0
    nc = sk.get("nc")
    if nc:
        no = sk["no"]
        for i in range(len(nc) - 1, -1, -1):
            cum += nc[i]
            if cum > rank:
                return -_bucket_value(no + i)
    cum += sk.get("z", 0)
    if cum > rank:
        return 0.0
    pc = sk.get("pc")
    if pc:
        po = sk["po"]
        for i in range(len(pc)):
            cum += pc[i]
            if cum > rank:
                return _bucket_value(po + i)
    return None  # unreachable for a consistent sketch


def quantile_from_metadata(out_dir: str, column: str, q: float,
                           snapshot: int | str | None = None) -> float | None:
    """Approximate ``percentile(column, q)`` from the snapshot manifest
    alone — zero chunk IO, relative error ≤ ``ALPHA``. None when the
    manifest cannot answer honestly: the column was not sketched
    (``quantile_columns``), a live partition predates sketching or was
    poisoned by NaN/±inf, or active equality-deletes exist (deleted
    values cannot be subtracted from the counts)."""
    import json

    from fhirflat_spark.manifest import table_view

    view = table_view(out_dir, snapshot)
    if view.version is None or view.deletes:
        return None
    t = view.manifest
    names = t.schema.names
    if "col_ddqs" not in names or "col_nulls" not in names:
        return None
    merged: dict | None = None
    any_rows = False
    for n_rows, djson, njson in zip(
        t["rows"].to_pylist(), t["col_ddqs"].to_pylist(),
        t["col_nulls"].to_pylist(),
    ):
        if n_rows == 0:
            continue
        any_rows = True
        dl = json.loads(djson) if djson else {}
        sk = dl.get(column)
        if sk is None:
            # no sketch: EXACT only when the partition holds no values
            # for the column at all (all-NULL / pre-evolution); anything
            # else (pre-sketch chunks, NaN poisoning) → refuse
            pn = json.loads(njson) if njson else None
            if pn is None or pn.get(column, n_rows) != n_rows:
                return None
            continue
        merged = ddq_merge(merged, sk)
    if not any_rows or merged is None:
        return None
    return ddq_quantile(merged, q)
