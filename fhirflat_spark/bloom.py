"""Per-chunk Bloom filters — point-lookup chunk pruning for unsorted
high-cardinality keys.

Zone maps prune range queries on clustered columns; they are useless for
"find THIS commit hash in 100 TB" when the key is uniformly distributed
(every chunk's [min, max] spans the whole space). The classic answer —
parquet row-group Bloom filters, Iceberg's bloom write properties — is a
per-chunk bit set: ~2% false-positive rate means a point lookup decodes
~2% of chunks instead of all of them, and a true negative is certain
(Bloom filters never produce false negatives, so pruning is always
safe).

Layout: ``M_BITS`` bits (fixed per dataset — the probe's bit positions
must be computable driver-side without per-chunk metadata), ``K``
positions per value via Kirsch-Mitzenmacher double hashing over a
vectorized FNV-1a 64 (numpy, no per-row Python on the encode side;
values hashed over their first ``PREFIX`` bytes — probe and encode
truncate identically, so a long-key collision only costs a false
positive). The bit set is stored hex-encoded in the chunk's stats JSON:
bit ``p`` lives in one nibble of one hex char (``hex_probe``), so
membership of a known value is K nibble tests (``might_contain``) —
evaluated in the reader task against the chunk's stats before any of
its payload bytes are read.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

M_BITS = 1 << 17  # 16 KiB per chunk per bloom'd column (~1-3% of chunk bytes)
K = 5             # ~2% FPR at 16k distinct values/chunk (8 bits/key)
PREFIX = 64       # bytes of each value hashed (encode == probe)

_FNV_OFF = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_MASK64 = (1 << 64) - 1


def _fnv1a_np(lengths: np.ndarray, data: bytes) -> np.ndarray:
    """Vectorized FNV-1a 64 per row of (lengths, concatenated bytes) —
    iterates byte POSITIONS (≤ PREFIX), not rows."""
    n = len(lengths)
    h = np.full(n, _FNV_OFF, dtype=np.uint64)
    if n == 0:
        return h
    caps = np.minimum(lengths, PREFIX)
    starts = np.concatenate(([0], np.cumsum(lengths)))[:-1]
    buf = np.frombuffer(data, dtype=np.uint8)
    prime = np.uint64(_FNV_PRIME)
    with np.errstate(over="ignore"):
        for j in range(int(caps.max(initial=0))):
            alive = caps > j
            b = buf[starts[alive] + j].astype(np.uint64)
            h[alive] = (h[alive] ^ b) * prime
    return h


def _splitmix64_np(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def bloom_hex(arr: pa.Array) -> str | None:
    """Hex-encoded M_BITS Bloom set over a string/binary array's non-null
    values (None when the chunk has no values to index)."""
    from fhirflat_spark.codecs.core import string_parts

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        arr = arr.drop_null()
    if len(arr) == 0:
        return None
    lengths, data = string_parts(arr)
    h1 = _fnv1a_np(lengths, data)
    h2 = _splitmix64_np(h1)
    bits = np.zeros(M_BITS, dtype=bool)
    m = np.uint64(M_BITS)
    with np.errstate(over="ignore"):
        for i in range(K):
            bits[((h1 + np.uint64(i) * h2) % m).astype(np.int64)] = True
    return np.packbits(bits, bitorder="little").tobytes().hex()


def _fnv1a_py(data: bytes) -> int:
    h = _FNV_OFF
    for b in data[:PREFIX]:
        h = ((h ^ b) * _FNV_PRIME) & _MASK64
    return h


def _splitmix64_py(x: int) -> int:
    z = (x + 0x9E3779B97F4A7C15) & _MASK64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK64
    return z ^ (z >> 31)


def probe_positions(value: str | bytes) -> list[int]:
    """The K bit positions a value sets — driver-side, pure python,
    byte-identical to the numpy encode path (property-tested)."""
    data = value.encode() if isinstance(value, str) else bytes(value)
    h1 = _fnv1a_py(data)
    h2 = _splitmix64_py(h1)
    return [((h1 + i * h2) & _MASK64) % M_BITS for i in range(K)]


def hex_probe(pos: int) -> tuple[int, str]:
    """(0-based hex-char index, the 8 hex digits whose nibble has the
    bit) for bit ``pos`` of the packed-little hex layout."""
    byte_idx, bit_in_byte = divmod(pos, 8)
    char_idx = 2 * byte_idx + (0 if bit_in_byte >= 4 else 1)
    nibble_bit = bit_in_byte % 4
    chars = "".join(f"{v:x}" for v in range(16) if v & (1 << nibble_bit))
    return char_idx, chars


def might_contain(hexstr: str, value: str | bytes) -> bool:
    """Pure-python membership check of ``value`` in one chunk's bloom."""
    for pos in probe_positions(value):
        char_idx, chars = hex_probe(pos)
        if hexstr[char_idx] not in chars:
            return False
    return True
