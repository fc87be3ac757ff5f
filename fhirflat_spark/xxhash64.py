"""Spark's ``xxhash64`` expression in numpy, for placement in the kernel.

Encode places each row of a multi-bucket salt key on
``base + pmod(xxhash64(hash_cols, 42), n_buckets)``. The stage-1 kernel
computes that itself, so this module must give exactly the long that
``pyspark.sql.functions.xxhash64`` gives for the same values: Spark's
XXH64 (``org.apache.spark.sql.catalyst.expressions.XXH64``) chained over
the columns, each column's hash seeding the next and a NULL leaving the
running hash unchanged.

Per type, as Spark's ``HashExpression`` does:

- string and binary: the value's bytes (UTF-8 for strings);
- boolean, byte, short, int and date: ``hashInt`` of the 32-bit value
  (true is 1);
- long and both timestamps: ``hashLong`` of the 64-bit value (micros);
- float: ``hashInt`` of ``floatToIntBits``, double: ``hashLong`` of
  ``doubleToLongBits``. -0.0 hashes as 0.0, and every NaN as the
  canonical NaN.

Every loop runs over byte positions, never over rows: rows are ordered
by their number of 32-byte stripes, so each stripe step updates a prefix
of them, and the tail (at most three words, one int and three bytes) is
a fixed number of masked steps. Other Spark types (decimal, nested,
intervals, collated strings) are not covered: ``covered`` says which
are."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)

_COVERED = (T.BinaryType, T.BooleanType, T.ByteType, T.ShortType,
            T.IntegerType, T.DateType, T.LongType, T.TimestampType,
            T.TimestampNTZType, T.FloatType, T.DoubleType)


def covered(dt: T.DataType) -> bool:
    """True when :func:`xxhash64` hashes Spark type ``dt`` as Spark does.
    Strings count only with the default (binary) collation: a collated
    string hashes its collation key."""
    if type(dt) is T.StringType:
        return getattr(dt, "collation", "UTF8_BINARY") == "UTF8_BINARY"
    return type(dt) in _COVERED


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def _round(acc: np.ndarray, word: np.ndarray) -> np.ndarray:
    return _rotl(acc + word * _P2, 31) * _P1


def _hash_int(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """``XXH64.hashInt``; ``v`` holds the 32-bit values zero-extended."""
    h = seed + _P5 + np.uint64(4)
    h ^= v * _P1
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def _hash_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """``XXH64.hashLong``."""
    h = seed + _P5 + np.uint64(8)
    h ^= _rotl(v * _P2, 31) * _P1
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def _hash_bytes(arr: pa.Array, seed: np.ndarray) -> np.ndarray:
    """``XXH64.hashUnsafeBytes`` of every value of a string/binary array."""
    t = arr.type
    large = pa.types.is_large_string(t) or pa.types.is_large_binary(t)
    off_t = np.int64 if large else np.int32
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=off_t, count=len(arr) + 1,
                            offset=arr.offset * np.dtype(off_t).itemsize)
    starts = offsets[:-1].astype(np.int64) - int(offsets[0])
    lens = np.diff(offsets).astype(np.int64)
    # value bytes plus 8 zero bytes, so every word read stays in bounds
    raw = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None \
        else np.zeros(0, np.uint8)
    data = np.zeros(int(offsets[-1] - offsets[0]) + 8, np.uint8)
    data[:-8] = raw[int(offsets[0]):int(offsets[-1])]
    # the little-endian word (and int) starting at EVERY byte offset
    w64 = np.ndarray((len(data) - 7,), "<u8", data, 0, (1,))
    w32 = np.ndarray((len(data) - 3,), "<u4", data, 0, (1,))

    h = seed + _P5
    # 32-byte stripes: rows by stripe count, longest first, so stripe k
    # updates the prefix of rows that have more than k stripes
    ns = lens // 32
    big = np.flatnonzero(ns)
    if len(big):
        big = big[np.argsort(-ns[big], kind="stable")]
        nsb, sb = ns[big], starts[big]
        s = seed[big]
        v = [s + _P1 + _P2, s + _P2, s.copy(), s - _P1]
        for k in range(int(nsb[0])):
            m = int(np.count_nonzero(nsb > k))
            o = sb[:m] + 32 * k
            for j in range(4):
                v[j][:m] = _round(v[j][:m], w64[o + 8 * j])
        hb = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
              + _rotl(v[3], 18))
        for j in range(4):
            hb ^= _round(np.zeros_like(v[j]), v[j])
            hb = hb * _P1 + _P4
        h[big] = hb
    h += lens.astype(np.uint64)
    # the remaining 8-byte words: at most three after the stripes
    pos = starts + 32 * ns
    nw = (lens - 32 * ns) // 8
    for t in range(int(nw.max(initial=0))):
        m = nw > t
        w = w64[pos[m] + 8 * t]
        h[m] = _rotl(h[m] ^ (_rotl(w * _P2, 31) * _P1), 27) * _P1 + _P4
    pos = pos + 8 * nw
    rem = starts + lens - pos
    m = rem >= 4
    if m.any():
        w = w32[pos[m]].astype(np.uint64)
        h[m] = _rotl(h[m] ^ (w * _P1), 23) * _P2 + _P3
        pos = np.where(m, pos + 4, pos)
        rem = np.where(m, rem - 4, rem)
    for b in range(int(rem.max(initial=0))):
        m = rem > b
        w = data[pos[m] + b].astype(np.uint64)
        h[m] = _rotl(h[m] ^ (w * _P5), 11) * _P1
    return _fmix(h)


def _hash_column(arr: pa.Array, seed: np.ndarray) -> np.ndarray:
    t = arr.type
    if pa.types.is_dictionary(t):
        arr, t = arr.cast(t.value_type), t.value_type
    if (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t)):
        return _hash_bytes(arr, seed)
    if pa.types.is_floating(t):
        f = arr.fill_null(0).to_numpy(zero_copy_only=False)
        f = np.where(f == 0, f.dtype.type(0), f)  # -0.0 hashes as 0.0
        if f.dtype == np.float32:
            bits = np.where(np.isnan(f), np.uint32(0x7FC00000),
                            f.view(np.uint32))
            return _hash_int(bits.astype(np.uint64), seed)
        bits = np.where(np.isnan(f), np.uint64(0x7FF8000000000000),
                        f.view(np.uint64))
        return _hash_long(bits, seed)
    if pa.types.is_boolean(t):
        v = arr.fill_null(False).to_numpy(zero_copy_only=False)
        return _hash_int(v.astype(np.uint64), seed)
    if pa.types.is_timestamp(t) or pa.types.is_int64(t):
        v = arr.cast(pa.int64()).fill_null(0).to_numpy(zero_copy_only=False)
        return _hash_long(v.view(np.uint64), seed)
    if pa.types.is_date32(t) or t in (pa.int8(), pa.int16(), pa.int32()):
        v = arr.cast(pa.int32()).fill_null(0).to_numpy(zero_copy_only=False)
        return _hash_int(v.view(np.uint32).astype(np.uint64), seed)
    raise TypeError(f"xxhash64 does not cover Arrow type {t}")


def xxhash64(columns: list[pa.Array], seed: int = 42) -> np.ndarray:
    """``F.xxhash64(*columns)`` of every row as int64, chained over the
    columns from ``seed`` (Spark's default is 42)."""
    n = len(columns[0]) if columns else 0
    h = np.full(n, seed, dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        for arr in columns:
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            out = _hash_column(arr, h.copy())
            if arr.null_count:
                valid = arr.is_valid().to_numpy(zero_copy_only=False)
                out = np.where(valid, out, h)
            h = out
    return h.view(np.int64)
