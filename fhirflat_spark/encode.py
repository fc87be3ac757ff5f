"""Distributed columnar encode: DataFrame → per-partition compressed chunk
table + manifest.

Spark-first shape (SURVEY.md §7 M3):

1. **Skew plan** (``placement_plan``): per-repo row counts → bucket
   counts (a giant repo gets many buckets) → a ``Placement`` shipped to
   the stage-1 kernel, which places every row on ``base +
   pmod(xxhash64(...), n_buckets)`` of its repo. This is explicit salted
   repartitioning on ``repo`` — the cluster-scale analog of the
   reference's joblib fan-out over resource types
   (reference fhirflat/ingest.py:582-594), except skew-aware.
2. Stage-1 ``mapInArrow`` kernel: reads the input files itself when the
   input is a bare parquet scan (else Spark feeds it the rows), places
   the rows, sorts each target bucket's slice on (repo, path, commit)
   so front-coding/RLE see sorted path prefixes, and encodes it — each
   chunk becomes one *chunk row*: a struct of column → serialized codec
   blob, plus stats and a content checksum (sha256 of the concatenated
   raw column bytes, which is equivalent to per-row equality without
   per-row hashing).
3. ONE exchange of those compressed chunk rows; the stage-2 kernel
   renumbers and consolidates them and writes each partition's chunk
   file (uncompressed parquet — payloads are already compressed); a
   **manifest** table + dataset summary records lineage (the
   ``fhirflat.toml`` + ``sha256sums.txt`` analog, reference
   fhirflat/ingest.py:381-432) and drives checkpoint resume.

At 100 TB the only shuffle is that single exchange, sized so each
partition holds ~``rows_per_bucket`` rows; the per-repo count aggregation
is map-side-combined and tiny (#repos ≪ #rows). Everything after the
shuffle is embarrassingly parallel.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import math
import os
import time
from dataclasses import dataclass

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fhirflat_spark.codecs import encode_array
from fhirflat_spark.codecs.core import string_parts

def chunk_schema(n_cols: int) -> T.StructType:
    """Chunk-table schema. The payload is a STRUCT with one binary field
    per encoded column (positional ``__c{i}`` names — summary["columns"]
    maps them back) rather than a map<string,binary>: parquet nested-
    schema pruning then skips unselected columns' bytes at IO time, so a
    single-column decode of a 100-TB dataset reads ~1/n_cols of it."""
    # payload fields are NULLABLE: a chunk written before a column was
    # added (schema evolution) has no bytes for it — readers fill typed
    # nulls, transcode carries the absence through
    payload = T.StructType(
        [T.StructField(f"__c{i}", T.BinaryType(), True) for i in range(n_cols)]
    )
    return T.StructType(
        [
            T.StructField("part_id", T.IntegerType(), False),
            T.StructField("chunk_seq", T.IntegerType(), False),
            T.StructField("n_rows", T.LongType(), False),
            T.StructField("payload", payload, False),
            T.StructField("stats", T.StringType(), False),
            T.StructField("content_sha", T.StringType(), False),
            T.StructField("raw_bytes", T.LongType(), False),
            T.StructField("encoded_bytes", T.LongType(), False),
            T.StructField("repo_min", T.StringType(), True),
            T.StructField("repo_max", T.StringType(), True),
        ]
    )


def chunk_file_schema(n_cols: int) -> pa.Schema:
    """Schema of one chunk parquet file: ``chunk_schema`` minus
    ``part_id``, which lives in the ``part_id=N`` directory name."""
    return pa.schema(
        [
            pa.field("chunk_seq", pa.int32(), nullable=False),
            pa.field("n_rows", pa.int64(), nullable=False),
            pa.field(
                "payload",
                pa.struct([(f"__c{i}", pa.binary()) for i in range(n_cols)]),
                nullable=False,
            ),
            pa.field("stats", pa.string(), nullable=False),
            pa.field("content_sha", pa.string(), nullable=False),
            pa.field("raw_bytes", pa.int64(), nullable=False),
            pa.field("encoded_bytes", pa.int64(), nullable=False),
            pa.field("repo_min", pa.string()),
            pa.field("repo_max", pa.string()),
        ]
    )


_STAT_COLUMNS = ["chunk_seq", "n_rows", "raw_bytes", "encoded_bytes",
                 "repo_min", "repo_max"]


def write_chunk_file(path: str, batches, n_cols: int) -> int:
    """Stream chunk-row batches into ONE parquet file at ``path`` — the
    one chunk-file writer of the engine (``encode_table`` and
    ``transcode_table`` tasks through ``chunk_write_kernel``, and the
    named sink).

    Rows stream into a dot-prefixed, attempt-unique temporary file next
    to ``path`` (readers skip dot files) as they arrive, so a partition
    is never buffered whole; ``fsio.move`` then publishes it. A killed
    attempt never leaves a truncated chunk file, and a retried or
    speculative attempt writing the same name replaces it whole.
    Returns the number of chunk rows written; no file for none."""
    import uuid

    import pyarrow.parquet as pq

    from fhirflat_spark import fsio

    schema = chunk_file_schema(n_cols)
    parent, name = path.rsplit("/", 1)
    tmp = f"{parent}/.{uuid.uuid4().hex[:16]}.{name}"
    writer = None
    n = 0
    try:
        for b in batches:
            if not b.num_rows:
                continue
            if writer is None:
                fsio.makedirs(parent)
                fs, inner = fsio.resolve(tmp)
                # payloads are compressed and distinct: a dictionary page
                # or min/max statistics would only store them again
                writer = pq.ParquetWriter(
                    inner, schema, filesystem=fs, compression="none",
                    use_dictionary=False, write_statistics=_STAT_COLUMNS,
                )
            writer.write_batch(pa.RecordBatch.from_arrays(
                [b.column(c) for c in schema.names], schema=schema
            ))
            n += b.num_rows
    except BaseException:
        if writer is not None:
            writer.close()
            fsio.delete_file(tmp)
        raise
    if writer is None:
        return 0
    writer.close()
    fsio.move(tmp, path)
    return n


def keep_only(part_dir: str, keep: str) -> None:
    """Drop the chunk files in a part dir other than the committed one:
    losing or killed attempts' files, a replaced earlier write of the
    partition, a replayed micro-batch's prior run."""
    from fhirflat_spark import fsio

    for name in fsio.list_files(part_dir, suffix=".parquet"):
        if name != keep:
            fsio.delete_file(f"{part_dir}/{name}")


# the row an encode task returns per written partition, instead of its
# chunk bytes
WRITTEN_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("file", T.StringType(), False),
    ]
)


def _part_slices(batches):
    """(part_id, batch) for every same-part_id stretch of a chunk-row
    batch stream, in stream order."""
    import numpy as np

    for b in batches:
        if not b.num_rows:
            continue
        pids = b.column("part_id").to_numpy()
        cuts = np.flatnonzero(np.diff(pids)) + 1
        for s, e in zip([0, *cuts], [*cuts, len(pids)]):
            yield int(pids[s]), b.slice(s, e - s)


def chunk_write_kernel(kernel, chunks_dir: str, n_cols: int):
    """Wrap a chunk-row kernel so its task writes the chunk files itself.

    Every encode kernel and the transcode kernel emit whole partitions,
    each as one consecutive stretch of rows (the stage-2 merge kernel in
    part_id order). Each stretch streams into
    ``chunks_dir/part_id=N/part-N.parquet`` through ``write_chunk_file``,
    and the task yields one ``WRITTEN_SCHEMA`` row per written partition
    instead of the chunk bytes. The file name is a
    pure function of the part id because layout is a pure function of
    the input, the session's ``defaultParallelism`` and the input's
    split structure, all fixed within one job: retries and speculative
    duplicates publish identical bytes under one name."""
    import itertools

    def run(batches):
        seen: set[int] = set()
        for pid, group in itertools.groupby(_part_slices(kernel(batches)),
                                            key=lambda pb: pb[0]):
            if pid in seen:  # a second stretch would replace the first
                raise RuntimeError(f"part_id {pid} emitted out of order")
            seen.add(pid)
            name = f"part-{pid:06d}.parquet"
            if write_chunk_file(f"{chunks_dir}/part_id={pid}/{name}",
                                (b for _, b in group), n_cols):
                yield pa.RecordBatch.from_pydict(
                    {"part_id": pa.array([pid], pa.int32()), "file": [name]}
                )

    return run


def _write_chunks(source: DataFrame, kernel, chunks_dir: str,
                  n_cols: int) -> set[int]:
    """Run the ONE data-sized job of a write: each task writes its
    partitions' chunk files (``chunk_write_kernel``) and manifest
    fragments itself and returns one row per written partition. The
    driver then drops every other file in those part dirs: an earlier
    write an append replays over, killed attempts' leftovers. Returns
    the written part ids."""
    from fhirflat_spark import fsio

    written = source.mapInArrow(
        chunk_write_kernel(kernel, chunks_dir, n_cols), schema=WRITTEN_SCHEMA,
    ).collect()
    fsio.makedirs(chunks_dir)
    for r in written:
        keep_only(f"{chunks_dir}/part_id={r['part_id']}", r["file"])
    return {int(r["part_id"]) for r in written}


def _own_table(out_dir: str, keep_history: bool = False) -> None:
    """A fresh write owns the whole table: stale manifest fragments and
    key-count stats of previous contents must not merge into its first
    commit, and (unless ``keep_history``: the named sink's same-schema
    overwrite keeps time travel) stale snapshots and delete files would
    time-travel into — or carry forward onto — a different table."""
    from fhirflat_spark import fsio
    from fhirflat_spark.manifest import _deletes_dir, _snap_dir, _stats_dir

    fsio.delete_dir(f"{out_dir}/manifest_parts")
    fsio.delete_dir(_stats_dir(out_dir))
    if not keep_history:
        fsio.delete_dir(_snap_dir(out_dir))
        fsio.delete_dir(_deletes_dir(out_dir))


def _head_part_ids(out_dir: str) -> set[int]:
    """Part ids a new commit carries forward: the head's plus every
    staged branch's."""
    from fhirflat_spark.manifest import (
        _branch_staged_versions,
        snapshot_part_ids,
        table_view,
    )

    live = set(table_view(out_dir).part_ids)
    for sv in _branch_staged_versions(out_dir):
        live.update(snapshot_part_ids(out_dir, sv))
    return live


def _col_raw_sha(arr: pa.Array) -> tuple[str, int]:
    """sha256 + byte count of a column's raw value stream.

    Equality of this digest is equivalent to bit-identical per-row equality
    for the chunk (validity + lengths delimit rows), with ONE hash call per
    column per chunk instead of one per row. Three regimes:

    - string/binary: validity bitmap (NULL vs '' must differ) + lengths +
      concatenated value bytes;
    - fixed-width primitives (ints/floats/bools/temporals): validity +
      the contiguous numpy value buffer;
    - everything else (list/struct/map/decimal — numpy would give an
      OBJECT array whose ``tobytes()`` is PyObject pointers, i.e.
      nondeterministic): the Arrow IPC serialization, which is a
      deterministic function of the logical values.
    """
    h = hashlib.sha256()
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        if arr.null_count > 0:
            h.update(arr.is_null().to_numpy(zero_copy_only=False).tobytes())
        lengths, data = string_parts(arr)
        h.update(lengths.tobytes())
        h.update(data)
        nbytes = len(data) + 0  # value bytes only; offsets counted as raw overhead below
        return h.hexdigest(), nbytes + lengths.nbytes
    import numpy as np

    nbytes_logical = int(arr.nbytes)
    if arr.null_count > 0:
        h.update(arr.is_null().to_numpy(zero_copy_only=False).tobytes())
        arr = arr.drop_null()
    try:
        buf = arr.to_numpy(zero_copy_only=False)
    except Exception:
        buf = None
    if buf is None or buf.dtype == np.object_:
        from fhirflat_spark.codecs.kernels import ipc_bytes

        h.update(ipc_bytes(arr))
        return h.hexdigest(), nbytes_logical
    raw = np.ascontiguousarray(buf).tobytes()
    h.update(raw)
    return h.hexdigest(), len(raw)


_ZONE_PREFIX = 64


def _zone_bounds(arr: pa.Array):
    """(min, max) zone bounds for orderable column types, or None.

    String bounds are truncated parquet-style: the min prefix is a valid
    lower bound as-is; the max prefix is made a valid UPPER bound by
    incrementing its last incrementable character (a plain prefix would
    under-approximate and cause wrong pruning). Content-sized strings
    therefore cost ≤128 chars of stats, not whole documents."""
    import pyarrow.compute as pc

    t = arr.type
    if arr.null_count == len(arr):
        return None
    if (pa.types.is_timestamp(t) and t.tz is None) or \
            pa.types.is_date32(t):
        # NTZ timestamps / dates zone as epoch INTEGERS (micros / days
        # — date64 would be millis, a third unit, so it stays zoneless)
        # — JSON-safe and engine-neutral. tz-AWARE timestamps get no
        # zone: their wall-clock reading is session state, and a
        # session-tz literal compared against storage micros would
        # prune wrongly.
        if pa.types.is_timestamp(t):
            if t.unit not in ("s", "ms", "us"):
                return None  # ns→us truncates: no exact micros zone
            if t.unit != "us":
                arr = arr.cast(pa.timestamp("us"))
            mm = pc.min_max(arr.cast(pa.int64()))
        else:
            mm = pc.min_max(arr.cast(pa.int32()))
        return mm["min"].as_py(), mm["max"].as_py()
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        if pa.types.is_floating(t):
            # ANY non-finite value poisons the zone: Arrow's min_max
            # IGNORES NaN, but Spark orders NaN above every value — a
            # finite upper bound would let `col > hi` prune a chunk
            # whose NaN rows match (silent row drop). inf/-inf would
            # also render as non-JSON tokens. Skip the zone entirely.
            if not pc.all(pc.is_finite(arr)).as_py():
                return None
        mm = pc.min_max(arr)
        return mm["min"].as_py(), mm["max"].as_py()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        mm = pc.min_max(arr)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        lo_t = lo[:_ZONE_PREFIX]
        if len(hi) > _ZONE_PREFIX:
            p = hi[:_ZONE_PREFIX]
            for i in range(len(p) - 1, -1, -1):
                c = ord(p[i]) + 1
                if 0xD800 <= c <= 0xDFFF:
                    c = 0xE000  # skip the surrogate gap (not JSON-safe)
                if c <= 0x10FFFF:
                    hi_t = p[:i] + chr(c)
                    break
            else:
                return None
        else:
            hi_t = hi
        return lo_t, hi_t
    return None


def _encode_one_batch(batch: pa.RecordBatch, part_id: int, seq: int,
                      columns: list[str], name_map: dict[str, str],
                      overrides: dict, base_opts: dict,
                      repo_batch_col: str | None,
                      bloom_cols: frozenset[str] | None = None,
                      ndv_cols: frozenset[str] | None = None,
                      qsk_cols: frozenset[str] | None = None):
    """Encode ONE Arrow batch into a (fragment-meta, chunk-row batch) pair.

    Shared by the layout-preserving kernel and both stages of the
    encoded exchange, so every path produces byte-identical chunk rows
    for the same input batch."""
    n = batch.num_rows
    payload = {}
    stats = {}
    sha_all = hashlib.sha256()
    for name in columns:
        out_name = name_map[name]
        arr = batch.column(name)
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        blob = encode_array(
            arr, codec=overrides.get(out_name, "auto"),
            opts=dict(base_opts) if base_opts else None,
        )
        sha, raw_bytes = _col_raw_sha(arr)
        sha_all.update(sha.encode())
        payload[out_name] = blob
        from fhirflat_spark.codecs.core import unpack_chunk

        codec_name = unpack_chunk(blob)[0]
        stats[out_name] = {
            "codec": codec_name,
            "raw": raw_bytes,
            "enc": len(blob),
            "sha": sha,
        }
        zones = _zone_bounds(arr)
        if zones is not None:
            stats[out_name]["zmin"], stats[out_name]["zmax"] = zones
        # stats v2: per-column null count (all types) + exact value sum
        # (integer types — order-independent, so partition/table rollups
        # are exact; float sums drift and are deliberately not tracked)
        stats[out_name]["nulls"] = arr.null_count
        if pa.types.is_integer(arr.type):
            import pyarrow.compute as pc

            s = pc.sum(arr).as_py()
            stats[out_name]["sum"] = int(s) if s is not None else 0
        if bloom_cols and out_name in bloom_cols:
            from fhirflat_spark import bloom as _bloom

            bh = _bloom.bloom_hex(arr)
            if bh is not None:
                stats[out_name]["bloom"] = bh
                stats[out_name]["bbits"] = _bloom.M_BITS
        if ndv_cols and out_name in ndv_cols:
            from fhirflat_spark import ndv as _ndv

            regs = _ndv.hll_registers(arr)
            if regs is not None:  # all-null chunk contributes no values
                stats[out_name]["hll"] = regs.hex()
        if qsk_cols and out_name in qsk_cols:
            from fhirflat_spark import quantiles as _q

            sk = _q.ddq_sketch(arr)
            if sk is not None:  # all-null contributes nothing; NaN/inf
                stats[out_name]["ddq"] = sk  # poisoning also omits (nulls
                # cross-check refuses service rather than lying)
    repo_col = (
        batch.column(repo_batch_col)
        if repo_batch_col in batch.schema.names
        else None
    ) if repo_batch_col else None
    rmin = rmax = None
    if repo_col is not None and n:
        import pyarrow.compute as pc

        mm = pc.min_max(repo_col)
        rmin, rmax = mm["min"].as_py(), mm["max"].as_py()
    return _chunk_row(
        part_id, seq, n, [payload[name_map[c]] for c in columns], stats,
        sha_all.hexdigest(), rmin, rmax, bool(ndv_cols), bool(qsk_cols),
    )


def _chunk_row(part_id: int, seq: int, n_rows: int, blobs: list,
               stats: dict, content_sha: str, rmin, rmax,
               with_hlls: bool = False, with_ddqs: bool = False,
               sketches: dict | None = None):
    """One encoded chunk as its (fragment-meta, chunk-row batch) pair.

    ``blobs`` are the payload fields' codec blobs in positional order
    (None where the chunk has no bytes for a column), ``stats`` the
    chunk's per-column stats keyed by column name. The byte totals,
    zones and rollups of the fragment row all derive from ``stats``, so
    every writer (the encode kernels, the named sink and transcode)
    records a chunk the same way. ``sketches`` (transcode: the source
    chunk's fragment row) adds the ``hlls``/``ddqs`` sketches that live
    only in fragments — ``maintenance.analyze_table`` backfills them
    there, not into the chunk stats."""
    meta = {
        "part_id": part_id,
        "chunk_seq": seq,
        "n_rows": n_rows,
        "raw_bytes": sum(s["raw"] for s in stats.values()),
        "encoded_bytes": sum(s["enc"] for s in stats.values()),
        "content_sha": content_sha,
        "repo_min": rmin,
        "repo_max": rmax,
        # per-column bounds for the manifest's partition-level zones
        # (write_manifest merges; a column missing from ANY chunk stays
        # unbounded at the partition level)
        "zones": {
            name: [s["zmin"], s["zmax"]]
            for name, s in stats.items()
            if "zmin" in s
        },
    }
    # stats v2 rollup inputs (write_manifest merges per partition; a
    # column absent from a chunk's nulls map = all-null there). A chunk
    # written before stats v2 has no null counts and leaves its
    # partition conservatively untracked.
    if all("nulls" in s for s in stats.values()):
        meta["nulls"] = {name: s["nulls"] for name, s in stats.items()}
        meta["sums"] = {
            name: s["sum"] for name, s in stats.items() if "sum" in s
        }
    # a sketched table's chunks always carry the (possibly empty) map:
    # a chunk without one marks its partition unsketched
    for kind, key, on in (("hlls", "hll", with_hlls),
                          ("ddqs", "ddq", with_ddqs)):
        if on:
            meta[kind] = {
                **{name: s[key] for name, s in stats.items() if key in s},
                **(sketches or {}).get(kind, {}),
            }
    payload_type = pa.struct(
        [(f"__c{i}", pa.binary()) for i in range(len(blobs))]
    )
    out = pa.RecordBatch.from_pydict(
        {
            "part_id": [part_id],
            "chunk_seq": [seq],
            "n_rows": [n_rows],
            "payload": [{f"__c{i}": b for i, b in enumerate(blobs)}],
            "stats": [json.dumps(stats, separators=(",", ":"))],
            "content_sha": [content_sha],
            "raw_bytes": [meta["raw_bytes"]],
            "encoded_bytes": [meta["encoded_bytes"]],
            "repo_min": [rmin],
            "repo_max": [rmax],
        },
        schema=pa.schema(
            [
                ("part_id", pa.int32()),
                ("chunk_seq", pa.int32()),
                ("n_rows", pa.int64()),
                ("payload", payload_type),
                ("stats", pa.string()),
                ("content_sha", pa.string()),
                ("raw_bytes", pa.int64()),
                ("encoded_bytes", pa.int64()),
                ("repo_min", pa.string()),
                ("repo_max", pa.string()),
            ]
        ),
    )
    return meta, out


def _write_fragment(manifest_dir: str | None, part_id: int, frag: list[dict]):
    """Task-commit metadata (the Iceberg-manifest pattern): each task
    durably records its own chunk inventory; the driver merges fragments
    with a listing instead of a second Spark job over chunks. The
    atomic publish (tmp+rename locally, single put on an object store —
    fsio) keeps retried/speculative tasks idempotent."""
    if manifest_dir is None or not frag:
        return
    import json as _json
    import os as _os

    from fhirflat_spark import fsio as _fsio

    _fsio.write_bytes_atomic(f"{manifest_dir}/{part_id:06d}.json",
                             _json.dumps(frag).encode(),
                             token=str(_os.getpid()))


def _rebatch(batches, target: int):
    """Re-slice an incoming Arrow batch stream to ``target``-row chunks.

    Chunk geometry must be a pure function of partition row ORDER, not of
    the source's physical layout: reading a parquet file with tiny row
    groups otherwise leaks each row group through as its own tiny chunk,
    paying full per-chunk overhead (codec tables, stats, manifest rows) —
    at 100 TB a ragged upstream writer would silently multiply chunk
    count by orders of magnitude. Batches already arriving at ``target``
    rows pass through untouched."""
    buf: list[pa.RecordBatch] = []
    n = 0
    for b in batches:
        if b.num_rows == 0:
            continue
        if not buf and b.num_rows == target:
            yield b
            continue
        buf.append(b)
        n += b.num_rows
        if n >= target:
            tbl = pa.Table.from_batches(buf)
            off = 0
            while n - off >= target:
                yield tbl.slice(off, target).combine_chunks().to_batches()[0]
                off += target
            rem = tbl.slice(off)
            buf = rem.to_batches() if rem.num_rows else []
            n = rem.num_rows
    if buf:
        yield pa.Table.from_batches(buf).combine_chunks().to_batches()[0]


def encode_kernel_factory(columns: list[str], codec_overrides: dict | None,
                          skip_parts: frozenset[int] | None = None,
                          manifest_dir: str | None = None,
                          name_map: dict[str, str] | None = None,
                          codec_opts: dict | None = None,
                          part_offset: int = 0,
                          bloom_columns: frozenset[str] | None = None,
                          ndv_columns: frozenset[str] | None = None,
                          qsk_columns: frozenset[str] | None = None):
    overrides = codec_overrides or {}
    base_opts = codec_opts or {}
    skip = skip_parts or frozenset()
    name_map = name_map or {c: c for c in columns}
    repo_batch_col = next((b for b, o in name_map.items() if o == "repo"), None)

    def kernel(batches):
        ctx = TaskContext.get()
        part_id = (ctx.partitionId() if ctx is not None else 0) + part_offset
        if part_id in skip:
            return
        from fhirflat_spark.session import ARROW_BATCH_ROWS

        frag: list[dict] = []
        for seq, batch in enumerate(_rebatch(batches, ARROW_BATCH_ROWS)):
            if batch.num_rows == 0:
                continue
            meta, out = _encode_one_batch(
                batch, part_id, seq, columns, name_map, overrides,
                base_opts, repo_batch_col, bloom_columns, ndv_columns,
                qsk_columns,
            )
            frag.append(meta)
            yield out
        _write_fragment(manifest_dir, part_id, frag)

    return kernel


def _murmur3_hash_long(v: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashLong (the hash behind HashPartitioning
    of a long column) — public algorithm, reimplemented for driver-side
    partition-placement planning. Returns signed int32."""
    def mix_k1(k1: int) -> int:
        k1 = (k1 * 0xCC9E2D51) & 0xFFFFFFFF
        k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
        return (k1 * 0x1B873593) & 0xFFFFFFFF

    def mix_h1(h1: int, k1: int) -> int:
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
        return (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF

    v &= 0xFFFFFFFFFFFFFFFF
    h1 = mix_h1(seed, mix_k1(v & 0xFFFFFFFF))
    h1 = mix_h1(h1, mix_k1((v >> 32) & 0xFFFFFFFF))
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def partition_tokens(P: int) -> list[int]:
    """tokens[t] = a long whose Spark hash-partitioning lands on partition
    t of P. Coupon-collector scan: O(P log P) expected driver time."""
    tokens: list[int | None] = [None] * P
    found = 0
    j = 0
    while found < P:
        t = _murmur3_hash_long(j) % P  # Pmod: non-negative
        if tokens[t] is None:
            tokens[t] = j
            found += 1
        j += 1
    return tokens  # type: ignore[return-value]


def _bq(c: str):  # flat tables may carry dotted names (period.start)
    return F.col(f"`{c}`")


def _skey(c: str):
    """Sentinel placement key of salt column ``c``: NULL -> "n:", value v
    -> "v:<v as string>". A NULL never matches a lookup (SQL null
    semantics), so placement keys on the sentinel and drops no row."""
    return F.when(_bq(c).isNull(), F.lit("n:")).otherwise(
        F.concat(F.lit("v:"), _bq(c).cast("string"))
    )


# Driver-side salting-stats ceiling: the placement scan keeps at most this
# many exact per-key entries on the driver; key spaces above it keep the
# heaviest ``cap`` keys exact and fold every other key's rows into the
# "o:" fallback bucket (sized from the measured remainder mass). Bounds
# driver memory at O(cap) instead of O(#distinct keys) — at 10^8 repos the
# uncapped collect was the one driver-memory seam in the encode plan.
# Env-tunable for cluster profiles; the local default sits far above every
# test/bench key space, so sub-cap behavior is bit-identical to the
# uncapped plan (same collect result, same placement).
SALT_STATS_CAP = int(os.environ.get("SPARK_GRAFT_SALT_STATS_CAP", "4096"))


def _salt_stats_cap() -> int:
    """``SALT_STATS_CAP``, checked: below 1 no key stays exact, every key
    folds into "o:" and placement collapses to the fallback buckets."""
    if SALT_STATS_CAP < 1:
        raise ValueError(
            f"SPARK_GRAFT_SALT_STATS_CAP must be >= 1, got {SALT_STATS_CAP}"
        )
    return SALT_STATS_CAP


def _salted_prelude(df: DataFrame, rows_per_bucket: int,
                    num_partitions: int | None, salt_col: str | None,
                    key_counts: list[tuple] | None,
                    weight_col: str | None = None):
    """Skew plan of ``placement_plan``: per sentinel salt key row counts
    (one pruned scan, or the caller's ``key_counts``) -> driver-side
    bucket allocation. Returns a dict with the bucket allocation
    (``bucket_rows``, sorted keys, "o:" last), P and the hash columns.

    Buckets per repo scale with that repo's observed row count, so the one
    giant repo (~40% of rows) spreads over many partitions while small
    repos coalesce. ``xxhash64(*other cols)`` gives a deterministic,
    uniform in-repo split.

    NULL-safe: placement keys on a sentinel string (``_skey``), so NULL
    and keys missing from caller ``key_counts`` both get placed, never
    dropped. Caller-supplied ``key_counts`` keys are matched via their
    string form (``str(k)`` must equal Spark's string cast — true for
    string/int keys).
    """
    spark = df.sparkSession
    default_par = spark.sparkContext.defaultParallelism
    hash_cols = [c for c in df.columns if c != salt_col][:3] or [salt_col]
    df = df.withColumn("__skey", _skey(salt_col))
    # one pruned-scan job; bucket math on the driver (#keys ≪ #rows —
    # at 10^12 files this is #repos rows, still driver-sized).
    # ``key_counts`` lets callers supply maintained table statistics
    # (the Iceberg partition-stats pattern) instead of rescanning.
    caller_counts = key_counts is not None
    # ``capped``: the self-collected stats hit SALT_STATS_CAP — only the
    # heaviest ``cap`` keys were kept exact; ``rest_equiv`` is the folded
    # remainder mass (equivalent rows) that sizes the "o:" fallback bucket.
    capped = False
    rest_equiv = 0
    cap = _salt_stats_cap()
    if key_counts is None and weight_col is not None:
        # byte-weighted placement: bucket allocation follows each key's
        # PAYLOAD BYTES, not its row count. Row counts under-provision a
        # repo of few giant files (and over-provision many tiny ones) —
        # at 10^12-file scale that is the straggler/OOM skew that row
        # counting cannot see. Weights are rescaled to "equivalent rows"
        # (key_bytes × total_rows / total_bytes) so ``rows_per_bucket``
        # keeps its meaning and total bucket count stays comparable.
        # Same single pruned scan (count + sum(length) partials); the
        # driver keeps only the top-``cap`` heaviest keys (deterministic:
        # weight desc, count desc, key) — a second aggregate job computes
        # the remainder mass only when the cap actually triggers.
        cnt = df.groupBy("__skey").agg(
            F.count("*").alias("count"),
            F.coalesce(F.sum(F.length(_bq(weight_col))), F.lit(0)).alias("wbytes"),
        )
        agg = (cnt.orderBy(F.desc("wbytes"), F.desc("count"), "__skey")
               .limit(cap + 1).collect())
        if len(agg) > cap:
            capped = True
            agg = agg[:cap]
            tot = cnt.agg(F.sum("count").alias("r"),
                          F.sum("wbytes").alias("b")).collect()[0]
            total_rows = int(tot["r"] or 0) or 1
            total_bytes = int(tot["b"] or 0)
            rest_rows = total_rows - sum(r["count"] for r in agg)
            rest_bytes = total_bytes - sum(r["wbytes"] for r in agg)
        else:
            total_rows = sum(r["count"] for r in agg) or 1
            total_bytes = sum(r["wbytes"] for r in agg)
            rest_rows = rest_bytes = 0
        if total_bytes > 0:
            key_counts = [
                # all-NULL-payload keys fall back to their row count
                (r[0], max(1, round(r["wbytes"] * total_rows / total_bytes))
                 if r["wbytes"] > 0 else r["count"])
                for r in agg
            ]
            rest_equiv = (max(1, round(rest_bytes * total_rows / total_bytes))
                          if rest_bytes > 0 else rest_rows)
        else:  # weight column empty/NULL everywhere: behave like rows
            key_counts = [(r[0], r["count"]) for r in agg]
            rest_equiv = rest_rows
    elif key_counts is None:
        cnt = df.groupBy("__skey").count()
        rows = (cnt.orderBy(F.desc("count"), "__skey")
                .limit(cap + 1).collect())
        if len(rows) > cap:
            capped = True
            rows = rows[:cap]
            total_rows = int(cnt.agg(F.sum("count")).collect()[0][0] or 0)
            rest_equiv = total_rows - sum(r["count"] for r in rows)
        key_counts = [(r[0], r["count"]) for r in rows]
    else:
        # dedupe/aggregate by the STRINGIFIED key: duplicate caller keys (or
        # mixed-type keys whose string forms collide, int 1 vs '1') would
        # otherwise give one key two bucket entries and two placements
        merged: dict[str, int] = {}
        for k, c in key_counts:
            sk = "n:" if k is None else f"v:{k}"
            merged[sk] = merged.get(sk, 0) + int(c)
        key_counts = list(merged.items())
    # SORT by key: bucket ordinals (and therefore row→partition placement)
    # must be a pure function of the key-count multiset, not of the
    # nondeterministic collect() order of the counting scan — otherwise a
    # replayed run over differently-partitioned input places rows onto
    # different partitions and exactly-once replay breaks bit-identity.
    key_counts = sorted(key_counts)
    if not key_counts:  # empty input: nothing to salt, keep a valid plan
        return {"empty": True, "key_counts_sentinel": []}

    # caller-supplied stats may be stale/incomplete: reserve a bounded
    # fallback key for rows whose key has no bucket entry (appended LAST
    # so existing keys keep their bucket/partition assignment). Carved
    # OUT of num_partitions, not added on top, so an explicit partition
    # count is honored exactly.
    if caller_counts:
        nb_other = max(1, (num_partitions or default_par) // 8)
    elif capped:
        # fallback bucket sized from the MEASURED remainder mass (unlike
        # the caller-stats path, the capped scan knows it exactly)
        if num_partitions:
            total_all = sum(c for _, c in key_counts) + rest_equiv
            nb_other = min(
                max(1, round(num_partitions * rest_equiv / max(1, total_all))),
                max(1, num_partitions - 1),
            )
        else:
            nb_other = max(1, math.ceil(rest_equiv / rows_per_bucket))
    else:
        nb_other = 0
    alloc_target = (num_partitions - nb_other) if num_partitions else None
    # bucket allocation: proportional when a target partition count is
    # given (sum == alloc_target exactly), else ceil(count / rows_per_bucket)
    if alloc_target and alloc_target >= len(key_counts):
        total = sum(c for _, c in key_counts) or 1
        alloc = [
            (k, max(1, int(c * alloc_target / total))) for k, c in key_counts
        ]
        # fix rounding drift on the largest key
        drift = alloc_target - sum(b for _, b in alloc)
        big = max(range(len(alloc)), key=lambda i: key_counts[i][1])
        alloc[big] = (alloc[big][0], max(1, alloc[big][1] + drift))
        bucket_rows = alloc
    else:
        bucket_rows = [
            (k, max(1, math.ceil(c / rows_per_bucket))) for k, c in key_counts
        ]
    if nb_other:
        bucket_rows.append(("o:", nb_other))
    return {
        "empty": False,
        "bucket_rows": bucket_rows,
        "P": int(sum(b for _, b in bucket_rows)),
        "hash_cols": hash_cols,
        "caller_counts": caller_counts,
        "capped": capped,
        "key_counts_sentinel": key_counts,
    }


@dataclass(frozen=True)
class Placement:
    """Where every row of an encode goes: the bucket plan the driver
    computes and ships to the stage-1 kernel, which places its rows with
    :meth:`place`. This is the one placement rule of the engine; the
    kernel applies it whether Spark feeds it the rows or it reads the
    input files itself, and ``plan_partition_ids`` exposes it.

    ``keys`` are the sorted sentinel salt keys (``_skey``), with the "o:"
    fallback entry last when the plan has one; key i owns buckets
    ``base[i] .. base[i] + nb[i] - 1``. Without keys (no salt column)
    rows spread round-robin. ``salt`` and ``hash_cols`` name the batch
    columns the rule reads, ``skip`` the buckets whose rows are dropped
    (resume: partitions the head already holds)."""

    P: int
    keys: tuple = ()
    base: tuple = ()
    nb: tuple = ()
    salt: str | None = None
    hash_cols: tuple = ()
    skip: frozenset = frozenset()

    def place(self, tbl, row0: int, split: int):
        """Target bucket (0..P-1) of every row of ``tbl``, an Arrow table
        or batch of input split ``split`` whose first row is the split's
        row ``row0``:

        - with keys, ``base + pmod(xxhash64(hash_cols, 42), nb)`` of the
          row's key (rows of a one-bucket key are not hashed). A
          ``__skey`` column (``_skey``, computed by Spark) replaces the
          lookup by the salt value, and an ``__xh`` column
          (``F.xxhash64`` of the hash columns) replaces the hash, for
          types the kernel does not cover. A key the plan lacks goes to
          the "o:" entry; without one it raises;
        - without keys, ``(row index in split + split) mod P``: equal
          counts per target."""
        import numpy as np
        import pyarrow.compute as pc

        n = tbl.num_rows
        if not self.keys:
            return (np.arange(row0, row0 + n, dtype=np.int64) + split) % self.P
        names = tbl.schema.names
        if "__skey" in names:
            col, keys = tbl.column("__skey"), list(self.keys)
        else:
            col = tbl.column(self.salt)
            keys = [k[2:] if k.startswith("v:") else None for k in self.keys]
        vals = [k for k in keys if k is not None]
        pos_of = np.array([i for i, k in enumerate(keys) if k is not None],
                          dtype=np.int64)
        hit = pc.index_in(col, value_set=pa.array(vals, col.type))
        hit = hit.fill_null(-1).to_numpy(zero_copy_only=False)
        pos = np.full(n, -1, dtype=np.int64)
        pos[hit >= 0] = pos_of[hit[hit >= 0]]
        if "__skey" not in names and "n:" in self.keys and col.null_count:
            nulls = col.is_null().to_numpy(zero_copy_only=False)
            pos[nulls] = self.keys.index("n:")
        if (pos < 0).any():
            if self.keys[-1] != "o:":
                raise RuntimeError(
                    "placement: a salt key is missing from the bucket plan "
                    "(the input changed between placement scan and encode)"
                )
            pos[pos < 0] = len(self.keys) - 1
        base = np.asarray(self.base, dtype=np.int64)[pos]
        nb = np.asarray(self.nb, dtype=np.int64)[pos]
        multi = np.flatnonzero(nb > 1)
        if len(multi):
            if "__xh" in names:
                h = tbl.column("__xh").to_numpy(zero_copy_only=False)[multi]
            else:
                from fhirflat_spark.xxhash64 import xxhash64

                idx = pa.array(multi)
                h = xxhash64([tbl.column(c).take(idx) for c in self.hash_cols])
            base[multi] += np.mod(h, nb[multi])
        return base


def placement_plan(df: DataFrame, rows_per_bucket: int = 250_000,
                   num_partitions: int | None = None,
                   salt_col: str | None = "repo",
                   key_counts: list[tuple] | None = None,
                   stats_out: dict | None = None,
                   weight_col: str | None = None) -> Placement:
    """Skew-defusing placement plan of the encode, on the driver: the
    ``Placement`` the stage-1 kernel places rows by. Tables without the
    salt column spread round-robin (no skew key to defuse) over
    ``P = num_partitions or max(ceil(n / rows_per_bucket),
    defaultParallelism)`` targets. Buckets per salt key scale with that
    key's observed row count (``_salted_prelude``) — a giant repo fans
    out over many target partitions.

    ``stats_out``: optional dict the planner fills with the (sentinel-
    keyed) key counts it used — callers persist these as maintained
    table statistics (the Iceberg partition-stats pattern)."""
    if salt_col == "repo" and "repo" not in df.columns:
        salt_col = None
    if salt_col is None:
        # no skew key: rows spread round-robin over targets in the kernel
        # (by row index within the split, offset by the split) — NOT a
        # content hash, whose binomial spread leaves partitions 5-10%
        # under target and flags a freshly packed layout as fragmented
        # (table_health min_fill boundary). Equal counts per target;
        # deterministic given the input's split structure.
        n = df.count()
        default_par = df.sparkSession.sparkContext.defaultParallelism
        return Placement(num_partitions
                         or max(math.ceil(n / rows_per_bucket), default_par))
    pre = _salted_prelude(df, rows_per_bucket, num_partitions, salt_col,
                          key_counts, weight_col=weight_col)
    if stats_out is not None:
        stats_out["key_counts"] = pre["key_counts_sentinel"]
        stats_out["caller_counts"] = pre.get("caller_counts", False)
        stats_out["capped"] = pre.get("capped", False)
    if pre["empty"]:
        return Placement(num_partitions or 1)
    keys, nb = zip(*pre["bucket_rows"])
    base = [0]
    for b in nb[:-1]:
        base.append(base[-1] + b)
    return Placement(pre["P"], tuple(keys), tuple(base), tuple(nb),
                     salt_col, tuple(pre["hash_cols"]))


def _placement_fields(df: DataFrame, columns: list[str],
                      plan: Placement) -> tuple[list[tuple[str, str]], Placement]:
    """The stage-1 input columns as (batch name, column) pairs — the
    encoded ``columns`` as positional ``__c{i}`` names (pyspark's
    mapInArrow resolves plain column names, which breaks on dotted flat
    names), then ``__p{j}`` for salt/hash columns that are not encoded —
    and ``plan`` rewritten to those batch names."""
    fields = [(f"__c{i}", c) for i, c in enumerate(columns)]
    extra = [c for c in dict.fromkeys((plan.salt, *plan.hash_cols))
             if c is not None and c not in columns]
    fields += [(f"__p{j}", c) for j, c in enumerate(extra)]
    name = {c: b for b, c in reversed(fields)}
    return fields, dataclasses.replace(
        plan, salt=name.get(plan.salt),
        hash_cols=tuple(name[c] for c in plan.hash_cols),
    )


def _spark_fed(df: DataFrame, plan: Placement) -> list:
    """The columns Spark must compute for the kernel's placement: none
    when the kernel covers it all, ``__skey`` when the salt column is
    not a plain string, ``__xh`` (``F.xxhash64``) when a multi-bucket
    key's hash columns have a type ``xxhash64.covered`` lacks."""
    from fhirflat_spark.xxhash64 import covered

    if not plan.keys:
        return []
    extra = []
    salt_t = df.schema[plan.salt].dataType
    if not (type(salt_t) is T.StringType and covered(salt_t)):
        extra.append(_skey(plan.salt).alias("__skey"))
    if max(plan.nb) > 1 and not all(
            covered(df.schema[c].dataType) for c in plan.hash_cols):
        extra.append(F.xxhash64(*[_bq(c) for c in plan.hash_cols]).alias("__xh"))
    return extra


def plan_partition_ids(df: DataFrame, rows_per_bucket: int = 250_000,
                       num_partitions: int | None = None,
                       salt_col: str | None = "repo",
                       key_counts: list[tuple] | None = None,
                       stats_out: dict | None = None,
                       weight_col: str | None = None) -> tuple[DataFrame, int]:
    """``df`` plus an ``__pb`` int column (target partition index, 0..P-1)
    and P: the placement the encode's stage-1 kernel gives each row,
    computed by the same ``Placement.place`` in a ``mapInArrow`` over
    ``df`` (NO exchange). For inspecting placement; ``encode_table``
    places inside its kernel."""
    plan = placement_plan(df, rows_per_bucket, num_partitions, salt_col,
                          key_counts, stats_out, weight_col)
    fields, kplan = _placement_fields(df, df.columns, plan)
    src = df.select(*[_bq(c).alias(b) for b, c in fields],
                    *_spark_fed(df, plan))
    out = [b for b, _ in fields[:len(df.columns)]]

    def kernel(batches):
        ctx = TaskContext.get()
        split = ctx.partitionId() if ctx is not None else 0
        row0 = 0
        for b in batches:
            pb = kplan.place(b, row0, split)
            row0 += b.num_rows
            yield pa.RecordBatch.from_arrays(
                [*b.select(out).columns, pa.array(pb, pa.int32())],
                names=[*out, "__pb"],
            )

    schema = T.StructType(
        [T.StructField(b, f.dataType, f.nullable)
         for b, f in zip(out, df.schema.fields)]
        + [T.StructField("__pb", T.IntegerType(), False)]
    )
    return src.mapInArrow(kernel, schema).toDF(*df.columns, "__pb"), plan.P


def encoded_shuffle_schema(n_cols: int) -> T.StructType:
    """Stage-1 output of the encoded shuffle: a final chunk row plus the
    routing/ordering sidecar columns stage 2 strips."""
    base = chunk_schema(n_cols)
    return T.StructType(
        list(base.fields)
        + [
            T.StructField("meta_json", T.StringType(), False),
            T.StructField("src_split", T.IntegerType(), False),
            T.StructField("local_seq", T.IntegerType(), False),
            T.StructField("__tok", T.LongType(), False),
        ]
    )


# the Arrow type mapInArrow delivers per Spark type (strings and binary
# widen to the large types under spark.sql.execution.arrow.useLargeVarTypes,
# timestamps carry the session zone); a type without an entry keeps the
# input on the Spark-fed stage 1
_ARROW_OF = {
    T.BinaryType: pa.binary(), T.BooleanType: pa.bool_(),
    T.ByteType: pa.int8(), T.ShortType: pa.int16(), T.IntegerType: pa.int32(),
    T.LongType: pa.int64(), T.FloatType: pa.float32(),
    T.DoubleType: pa.float64(), T.DateType: pa.date32(),
    T.TimestampNTZType: pa.timestamp("us"),
}


def _exact_cast(src: pa.DataType, dst: pa.DataType) -> bool:
    """True when every value of Arrow type ``src`` (as pyarrow reads a
    parquet column, INT96 timestamps in micros) casts to ``dst`` without
    change — the file path's condition for reading that column itself."""
    if pa.types.is_dictionary(src):
        src = src.value_type
    if src == dst:
        return True
    if pa.types.is_large_string(dst) or pa.types.is_string(dst):
        return pa.types.is_string(src) or pa.types.is_large_string(src)
    if pa.types.is_large_binary(dst) or pa.types.is_binary(dst):
        return pa.types.is_binary(src) or pa.types.is_large_binary(src)
    if pa.types.is_integer(dst) and pa.types.is_integer(src):
        return src.bit_width < dst.bit_width
    if pa.types.is_timestamp(dst) and pa.types.is_timestamp(src):
        # a zone-less column into a zoned one is a UTC instant (INT96, or
        # a local timestamp Spark reads as one); units up to micros widen
        return src.unit in ("s", "ms", "us") and (
            src.tz is None or dst.tz is not None)
    return False


@dataclass(frozen=True)
class _ParquetSource:
    """Stage-1 input the kernel reads itself: the files of a bare parquet
    scan, cut into (file, row-group range) units and assigned to tasks.

    ``tasks[j]`` is task j's units in groups — each group is read, placed
    and packed as one table, so a task holds at most about
    ``spark.sql.files.maxPartitionBytes`` of input at a time, like one
    Spark split. A unit is ``(path, row groups or None for the whole
    file)``. ``fields`` maps each batch column to its file column, and
    ``schema`` gives every batch column the Arrow type Spark's mapInArrow
    would deliver."""

    tasks: tuple
    fields: tuple
    schema: pa.Schema

    def groups(self, task: int):
        """Task ``task``'s input, one Arrow table per group."""
        for group in self.tasks[task]:
            yield pa.concat_tables([self._read(*u) for u in group])

    def _read(self, path: str, row_groups) -> pa.Table:
        import pyarrow.parquet as pq

        from fhirflat_spark import fsio

        fs, inner = fsio.resolve(path)
        with pq.ParquetFile(inner, filesystem=fs,
                            coerce_int96_timestamp_unit="us") as pf:
            have = set(pf.schema_arrow.names)
            want = [c for _, c in self.fields if c in have]
            t = (pf.read(columns=want, use_threads=False) if row_groups is None
                 else pf.read_row_groups(row_groups, columns=want,
                                         use_threads=False))
        lower = {c.lower() for c in have}
        cols = []
        for (name, c), f in zip(self.fields, self.schema):
            if c in have:
                cols.append(t.column(c).cast(f.type))
            elif c.lower() in lower:  # Spark would match it, unlike pyarrow
                raise RuntimeError(f"{path}: column {c!r} differs in case")
            else:  # a file without the column reads as NULLs, as in Spark
                cols.append(pa.nulls(t.num_rows, f.type))
        return pa.Table.from_arrays(cols, schema=self.schema)


def _parquet_scan(df: DataFrame) -> tuple[dict, list] | None:
    """(column -> file column, [(path, bytes)] sorted by path) when the
    optimized plan of ``df`` is plain-column projections over one
    parquet ``LogicalRelation`` without partition columns; None for any
    other plan (filters, computed columns, in-memory or cached frames)."""
    def cls(o) -> str:
        return o.getClass().getSimpleName()

    plan = df._jdf.queryExecution().optimizedPlan()
    names = None
    if cls(plan) == "Project":
        names = {}
        items = plan.projectList()
        for i in range(items.size()):
            e = items.apply(i)
            if cls(e) == "Alias" and cls(e.child()) == "AttributeReference":
                names[e.name()] = e.child().name()
            elif cls(e) == "AttributeReference":
                names[e.name()] = e.name()
            else:
                return None
        plan = plan.child()
    if cls(plan) != "LogicalRelation":
        return None
    rel = plan.relation()
    if cls(rel) != "HadoopFsRelation" or \
            cls(rel.fileFormat()) != "ParquetFileFormat" or \
            rel.partitionSchema().length():
        return None
    if names is None:
        out = plan.output()
        names = {out.apply(i).name(): out.apply(i).name()
                 for i in range(out.size())}
    if len(names) != len(df.columns):  # duplicate output names
        return None
    listing = rel.location().allFiles()
    files = sorted((listing.apply(i).getPath().toString(),
                    int(listing.apply(i).getLen()))
                   for i in range(listing.size()))
    return names, files


def _parquet_source(df: DataFrame,
                    fields: list[tuple[str, str]]) -> _ParquetSource | None:
    """The file-read stage-1 input for ``df``, or None when ``df`` must
    feed stage 1 through Spark: it is not a bare parquet scan
    (``_parquet_scan``), it has no files, or a column's type is not one
    Spark delivers that pyarrow reads exactly (``_exact_cast`` against
    the first file's footer schema).

    Units are whole files, and files above
    ``spark.sql.files.maxPartitionBytes`` split at row-group boundaries
    (their footers give the row-group sizes; besides the first
    file's, for the type check, no other footer is read). They go largest first onto the task
    with the fewest bytes, ``n`` tasks at most ``defaultParallelism``,
    so the assignment is a pure function of the file listing; each
    task's units run in path order, grouped up to the same byte size."""
    import heapq

    import pyarrow.parquet as pq

    from fhirflat_spark import fsio
    from fhirflat_spark.xxhash64 import covered

    scan = _parquet_scan(df)
    if scan is None or not scan[1]:
        return None
    names, files = scan
    spark = df.sparkSession
    large = spark.conf.get("spark.sql.execution.arrow.useLargeVarTypes",
                           "false").lower() == "true"
    zone = spark.conf.get("spark.sql.session.timeZone")
    arrow_fields = []
    for name, c in fields:
        f = df.schema[c]
        if type(f.dataType) is T.StringType and covered(f.dataType):
            t = pa.large_string() if large else pa.string()
        elif type(f.dataType) is T.BinaryType and large:
            t = pa.large_binary()
        elif type(f.dataType) is T.TimestampType:
            t = pa.timestamp("us", tz=zone)
        elif type(f.dataType) in _ARROW_OF:
            t = _ARROW_OF[type(f.dataType)]
        else:
            return None
        arrow_fields.append(pa.field(name, t, f.nullable))
    fs, inner = fsio.resolve(files[0][0])
    with pq.ParquetFile(inner, filesystem=fs,
                        coerce_int96_timestamp_unit="us") as pf:
        file_schema = pf.schema_arrow
    if any(b"legacy" in k for k in (file_schema.metadata or {})):
        return None  # Spark would rebase its dates/timestamps
    file_col = [names[c] for _, c in fields]
    if any("." in fc for fc in file_col):
        return None  # pyarrow would read a dotted name as a nested path
    for fc, f in zip(file_col, arrow_fields):
        if file_schema.get_field_index(fc) < 0 or \
                not _exact_cast(file_schema.field(fc).type, f.type):
            return None
    max_bytes = int(spark._jsparkSession.sessionState().conf()
                    .filesMaxPartitionBytes())
    units = []  # (bytes, path, row groups)
    for path, size in files:
        if size <= max_bytes:
            units.append((size, path, None))
            continue
        fs, inner = fsio.resolve(path)
        with pq.ParquetFile(inner, filesystem=fs) as pf:
            md = pf.metadata
        rg_bytes = []
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            rg_bytes.append((sum(g.column(i).total_compressed_size
                                 for i in range(g.num_columns)), rg))
        units += [(b, path, tuple(rgs))
                  for b, rgs in _byte_runs(rg_bytes, max_bytes)]
    n = max(1, min(len(units), spark.sparkContext.defaultParallelism))
    bins: list[list] = [[] for _ in range(n)]
    heap = [(0, j) for j in range(n)]
    for b, path, rgs in sorted(units, key=lambda u: (-u[0], u[1], u[2] or ())):
        load, j = heapq.heappop(heap)
        bins[j].append((b, path, rgs))
        heapq.heappush(heap, (load + b, j))
    tasks = tuple(
        tuple(tuple(group) for _, group in _byte_runs(
            [(b, (path, rgs)) for b, path, rgs in
             sorted(units_j, key=lambda u: (u[1], u[2] or ()))], max_bytes))
        for units_j in bins
    )
    return _ParquetSource(tasks, tuple(zip((b for b, _ in fields), file_col)),
                          pa.schema(arrow_fields))


def _byte_runs(sized, limit: int) -> list:
    """Consecutive runs of ``(bytes, item)`` pairs as ``(bytes, [item,
    ...])``: a run closes before an item would take it past ``limit``
    bytes, and holds at least one item."""
    runs: list = []
    for b, item in sized:
        if not runs or runs[-1][0] + b > limit:
            runs.append([0, []])
        runs[-1][0] += b
        runs[-1][1].append(item)
    return runs


def encoded_pack_kernel_factory(columns: list[str], placement: Placement,
                                tokens: list[int],
                                codec_overrides: dict | None,
                                name_map: dict[str, str] | None = None,
                                codec_opts: dict | None = None,
                                part_offset: int = 0,
                                sort_names: list[str] | None = None,
                                batch_rows: int = 16384,
                                bloom_columns: frozenset[str] | None = None,
                                ndv_columns: frozenset[str] | None = None,
                                qsk_columns: frozenset[str] | None = None,
                                source: _ParquetSource | None = None):
    """Stage 1 of the encoded exchange (``shuffle=True``): place THIS
    input split's rows (``placement``, dropping its ``skip`` buckets)
    and encode them per target partition BEFORE the exchange, so the
    shuffle moves the final compressed chunk bytes (~0.25-0.3x of raw on
    this corpus) instead of every data row — and the expensive work
    (zstd/fsst/prefix kernels, stats, blooms) runs exactly once,
    map-side.

    The input split is either the rows Spark feeds the task (one split
    per Spark partition; ``src_split`` is the partition id) or, with
    ``source``, the files the task reads itself (``_ParquetSource``; the
    task's ``spark.range`` id is ``src_split``). Columns the batches
    carry beyond ``columns`` serve placement only.

    Contrast with the removed blob pre-pack (SCALE.md): that variant
    shipped the RAW rows as Arrow-IPC blobs and still paid the full
    encode after the exchange; this one ships nothing that is not final
    output. The trade is chunk granularity: each (input split, target
    bucket) intersection becomes its own chunklet, so unclustered inputs
    produce chunklets smaller than a 16k-row chunk — stage 2
    consolidates the small ones."""
    import struct as _struct

    import numpy as np
    import pyarrow.compute as pc

    overrides = codec_overrides or {}
    base_opts = codec_opts or {}
    name_map = name_map or {c: c for c in columns}
    repo_batch_col = next((b for b, o in name_map.items() if o == "repo"), None)
    skip = np.array(sorted(placement.skip), dtype=np.int64)
    # Slices below the stage-2 consolidation threshold are decoded and
    # re-encoded there REGARDLESS of how well stage 1 encoded them — so
    # running the full codec pipeline (selector trials, zstd-3, stats,
    # sha256, blooms) on them is pure double work. Ship them as TRANSIT
    # chunklets instead: one whole-slice Arrow-IPC blob, lz4-framed and
    # length-prefixed, in payload.__c0 (stats == "t" marks the row for
    # stage 2, which inlines the table instead of per-column decodes).
    # Measured ~290 MB/s pack at ~0.53x of raw on the wire — vs the row
    # exchange's 1.0x and the full encode's ~140 MB/s — and transit rows
    # can never reach disk: n_rows < min_rows routes every one of them
    # into a consolidation run by contract. Slices at/above the
    # threshold still get the one real encode map-side and pass through
    # stage 2 untouched. Final layout is unchanged where it matters: the
    # consolidation merge rule is a pure function of the ordered
    # chunklet ROW COUNTS, which this does not change.
    min_rows = max(1, batch_rows // 4)
    payload_type = pa.struct(
        [(f"__c{i}", pa.binary()) for i in range(len(columns))]
    )
    transit_schema = pa.schema(
        [
            ("part_id", pa.int32()),
            ("chunk_seq", pa.int32()),
            ("n_rows", pa.int64()),
            ("payload", payload_type),
            ("stats", pa.string()),
            ("content_sha", pa.string()),
            ("raw_bytes", pa.int64()),
            ("encoded_bytes", pa.int64()),
            ("repo_min", pa.string()),
            ("repo_max", pa.string()),
        ]
    )

    extra_schema = pa.schema(
        [("meta_json", pa.string()), ("src_split", pa.int32()),
         ("local_seq", pa.int32()), ("__tok", pa.int64())]
    )
    full_schema = pa.schema(list(transit_schema) + list(extra_schema))

    def pack(tbl: pa.Table, pb, split: int, local: dict):
        """Chunk rows of one placed table of split ``split``; ``local``
        numbers each part's chunklets across the split's tables."""
        _lz4 = pa.Codec("lz4")  # per task: pa.Codec does not pickle
        # group the split by target bucket with a cheap stable integer
        # argsort (NOT a multi-key string sort: the full-split
        # (__pb, repo, path, commit) sort_indices + take measured ~1s/4
        # cores on 1M rows and its key ordering is thrown away for every
        # transit chunklet anyway — consolidation re-sorts the merged
        # run). Slices large enough to become final chunks directly get
        # a slice-local key sort below, which equals the old global
        # stable sort restricted to the slice.
        order = np.argsort(pb, kind="stable")
        data = tbl.select(columns).take(pa.array(order))
        pb = pb[order]
        bounds = np.flatnonzero(np.diff(pb)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(pb)]))
        # transit rows accumulate into ONE combined output batch per
        # table (plus one per real-encoded chunk): yielding each
        # chunklet as its own 1-row batch costs an Arrow IPC frame per
        # slice — splits x buckets frames on scattered inputs, measured
        # ~1s/4 cores of pure framing at 1M rows
        t_pid: list[int] = []
        t_rows: list[int] = []
        t_blob: list[bytes] = []
        t_tok: list[int] = []
        t_seq: list[int] = []
        real: list[pa.RecordBatch] = []
        for s, e in zip(starts, ends):
            g = int(pb[s])
            part_id = part_offset + g
            tok = tokens[g]
            sub = data.slice(s, e - s)
            if sub.num_rows < min_rows:
                # transit chunklet: stage 2 consolidation re-encodes it
                # (n_rows < min_rows routes it into a run by contract)
                sink = pa.BufferOutputStream()
                sc = sub.combine_chunks()
                with pa.ipc.new_stream(sink, sc.schema) as w:
                    w.write_table(sc)
                ipc = sink.getvalue()
                t_pid.append(part_id)
                t_rows.append(sub.num_rows)
                t_blob.append(
                    _struct.pack("<q", len(ipc))
                    + _lz4.compress(ipc, asbytes=True)
                )
                t_tok.append(tok)
                t_seq.append(local.get(part_id, 0))
                local[part_id] = t_seq[-1] + 1
                continue
            if sort_names:
                # slice-local key sort (stable, equals the old global
                # (__pb, keys) stable sort restricted to this slice):
                # these rows become final chunks as-is, so they keep the
                # zone/compression locality of the sorted layout
                sub = sub.take(pc.sort_indices(
                    sub,
                    sort_keys=[(c, "ascending") for c in sort_names],
                    null_placement="at_start",
                ))
            for off in range(0, sub.num_rows, batch_rows):
                sl = sub.slice(off, batch_rows).combine_chunks()
                for b in sl.to_batches():
                    if b.num_rows == 0:
                        continue
                    seq = local.get(part_id, 0)
                    local[part_id] = seq + 1
                    meta, out = _encode_one_batch(
                        b, part_id, seq, columns, name_map, overrides,
                        base_opts, repo_batch_col, bloom_columns,
                        ndv_columns, qsk_columns,
                    )
                    extra = pa.RecordBatch.from_pydict(
                        {
                            "meta_json": [json.dumps(meta)],
                            "src_split": [split],
                            "local_seq": [seq],
                            "__tok": [tok],
                        },
                        schema=extra_schema,
                    )
                    real.append(pa.RecordBatch.from_arrays(
                        list(out.columns) + list(extra.columns),
                        schema=full_schema,
                    ))
        if t_pid:
            n_t = len(t_pid)
            payload = pa.StructArray.from_arrays(
                [pa.array(t_blob, pa.binary())]
                + [pa.nulls(n_t, pa.binary())
                   for _ in range(1, len(columns))],
                names=[f"__c{i}" for i in range(len(columns))],
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(t_pid, pa.int32()),
                    pa.array([0] * n_t, pa.int32()),
                    pa.array(t_rows, pa.int64()),
                    payload,
                    pa.array(["t"] * n_t, pa.string()),
                    pa.array([""] * n_t, pa.string()),
                    pa.array([0] * n_t, pa.int64()),
                    pa.array([len(b) for b in t_blob], pa.int64()),
                    pa.nulls(n_t, pa.string()),
                    pa.nulls(n_t, pa.string()),
                    pa.array(["{}"] * n_t, pa.string()),
                    pa.array([split] * n_t, pa.int32()),
                    pa.array(t_seq, pa.int32()),
                    pa.array(t_tok, pa.int64()),
                ],
                schema=full_schema,
            )
        yield from real

    def splits(batches):
        """(split, table) of every input table of this task."""
        if source is not None:
            for b in batches:
                for j in b.column("id").to_pylist():
                    for t in source.groups(j):
                        yield j, t
            return
        ctx = TaskContext.get()
        parts = [b for b in batches if b.num_rows]
        if parts:
            yield (ctx.partitionId() if ctx is not None else 0,
                   pa.Table.from_batches(parts))

    def kernel(batches):
        local: dict[int, dict] = {}  # split -> part id -> next local_seq
        row0: dict[int, int] = {}
        for split, tbl in splits(batches):
            tbl = tbl.combine_chunks()
            pb = placement.place(tbl, row0.get(split, 0), split)
            row0[split] = row0.get(split, 0) + tbl.num_rows
            if len(skip):
                keep = ~np.isin(pb, skip)
                tbl, pb = tbl.filter(pa.array(keep)), pb[keep]
            if tbl.num_rows:
                yield from pack(tbl, pb, split, local.setdefault(split, {}))

    return kernel


def encoded_merge_kernel_factory(n_cols: int, manifest_dir: str | None = None,
                                 columns: list[str] | None = None,
                                 codec_overrides: dict | None = None,
                                 name_map: dict[str, str] | None = None,
                                 codec_opts: dict | None = None,
                                 batch_rows: int = 16384,
                                 bloom_columns: frozenset[str] | None = None,
                                 ndv_columns: frozenset[str] | None = None,
                                 qsk_columns: frozenset[str] | None = None,
                                 sort_names: list[str] | None = None):
    """Stage 2 of the encoded exchange: renumber this partition's
    chunklets into a deterministic chunk_seq order — (src_split,
    local_seq), a pure function of the input layout — and task-commit
    the manifest fragment.

    Chunklets at/above ``batch_rows // 4`` rows pass through untouched
    (no decode, no re-encode — cost O(#chunklets)); CONSECUTIVE runs of
    smaller ones are decoded, concatenated in order, and re-encoded at
    full chunk size. That consolidation is what keeps footprint stable
    on scattered inputs: a fully random input makes every (split,
    bucket) intersection tiny, and tiny chunks pay per-chunk overhead
    plus short-buffer compression loss (measured 1.9x footprint at 300-
    row chunklets). Clustered inputs — the common production shape —
    skip it almost entirely. The merge rule is a pure function of the
    ordered chunklet sizes, so layout determinism is preserved."""
    import pyarrow.compute as pc

    from fhirflat_spark.codecs import decode_array

    strip = ["meta_json", "src_split", "local_seq", "__tok"]
    min_rows = max(1, batch_rows // 4)
    columns = columns or [f"__c{i}" for i in range(n_cols)]
    name_map = name_map or {c: c for c in columns}
    overrides = codec_overrides or {}
    base_opts = codec_opts or {}
    repo_batch_col = next((b for b, o in name_map.items() if o == "repo"), None)

    import struct as _struct

    def _decode_run(rows: pa.Table) -> pa.Table:
        """Chunklet rows → the original data table (order-preserving).

        Two chunklet flavors: stage-1 TRANSIT rows (stats == "t") carry
        one lz4-framed whole-slice Arrow-IPC blob in ``__c0``; real
        chunklets decode per column through the codec registry."""
        _lz4 = pa.Codec("lz4")  # per call: pa.Codec does not pickle
        tables: list[pa.Table] = []
        payload = rows.column("payload")
        stats_col = rows.column("stats")
        for i in range(rows.num_rows):
            cell = payload[i]
            if stats_col[i].as_py() == "t":
                buf = memoryview(cell["__c0"].as_buffer())
                (rawsize,) = _struct.unpack_from("<q", buf, 0)
                ipc = _lz4.decompress(buf[8:], decompressed_size=rawsize)
                with pa.ipc.open_stream(pa.BufferReader(ipc)) as r:
                    tables.append(r.read_all().select(columns))
                continue
            tables.append(pa.table({
                c: decode_array(memoryview(cell[f"__c{j}"].as_buffer()))
                for j, c in enumerate(columns)
            }))
        first = tables[0].schema
        unified = [t if t.schema == first else t.cast(first) for t in tables]
        return pa.concat_tables(unified).combine_chunks()

    def kernel(batches):
        parts = [b for b in batches if b.num_rows]
        if not parts:
            return
        tbl = pa.Table.from_batches(parts).combine_chunks()
        tbl = tbl.take(pc.sort_indices(
            tbl,
            sort_keys=[("part_id", "ascending"), ("src_split", "ascending"),
                       ("local_seq", "ascending")],
        ))
        pids = tbl.column("part_id").to_pylist()
        nrows = tbl.column("n_rows").to_pylist()
        metas = tbl.column("meta_json").to_pylist()
        out_tbl = tbl.drop_columns(strip)

        # segment the partition-ordered chunklets: a "run" is a maximal
        # stretch of consecutive small chunklets within one part_id
        frag: list[dict] = []
        seq = 0
        prev_pid = None
        run: list[int] = []
        run_rows = 0

        def _flush_run():
            nonlocal seq, run, run_rows
            if not run:
                return
            sub = out_tbl.take(pa.array(run, pa.int64()))
            data = _decode_run(sub)
            if sort_names:
                # transit chunklets arrive bucket-grouped but key-UNSORTED
                # (stage 1 skips the key sort for them); ordering the
                # merged run here restores the sorted-chunk locality —
                # tighter per-chunk zones and the compression win of
                # clustered prefixes — at 16k-row sort cost
                data = data.take(pc.sort_indices(
                    data,
                    sort_keys=[(c, "ascending") for c in sort_names],
                    null_placement="at_start",
                ))
            for off in range(0, data.num_rows, batch_rows):
                sl = data.slice(off, batch_rows).combine_chunks()
                for b in sl.to_batches():
                    if b.num_rows == 0:
                        continue
                    meta, out = _encode_one_batch(
                        b, prev_pid, seq, columns, name_map, overrides,
                        base_opts, repo_batch_col, bloom_columns,
                        ndv_columns, qsk_columns,
                    )
                    frag.append(meta)
                    # one canonical schema for every yielded batch: the
                    # pass-through rows carry Spark's (non-null-marked)
                    # field flavor, _encode_one_batch a nullable one —
                    # Arrow's output writer rejects the mix
                    yield out.cast(out_tbl.schema)
                    seq += 1
            run, run_rows = [], 0

        def _flush_part():
            nonlocal frag, seq
            if prev_pid is not None and frag:
                _write_fragment(manifest_dir, prev_pid, frag)
            frag, seq = [], 0

        for i in range(out_tbl.num_rows):
            pid = pids[i]
            if pid != prev_pid:
                yield from _flush_run()
                _flush_part()
                prev_pid = pid
            if nrows[i] < min_rows:
                run.append(i)
                run_rows += nrows[i]
                if run_rows >= batch_rows:
                    yield from _flush_run()
                continue
            yield from _flush_run()
            meta = json.loads(metas[i])
            meta["chunk_seq"] = seq
            frag.append(meta)
            row = out_tbl.slice(i, 1)
            row = row.set_column(
                row.schema.get_field_index("chunk_seq"),
                out_tbl.schema.field("chunk_seq"),  # keep nullability flag
                pa.array([seq], pa.int32()),
            )
            yield from row.to_batches()
            seq += 1
        yield from _flush_run()
        _flush_part()

    return kernel


def _encoded_exchange(df: DataFrame, columns: list[str], plan: Placement, *,
                      codec_overrides: dict | None = None,
                      codec_opts: dict | None = None, part_offset: int = 0,
                      frag_dir: str | None = None,
                      bloom: frozenset = frozenset(),
                      ndv: frozenset = frozenset(),
                      qsk: frozenset = frozenset()):
    """The encoded exchange of ``shuffle=True`` up to the chunk write:
    (stage-2 input, stage-2 merge kernel).

    Stage 1 reads the input files itself when ``df`` is a bare parquet
    scan (``_parquet_source``: ``spark.range`` tasks, no JVM scan, no
    row transfer into Python) and otherwise takes the rows Spark feeds
    it (``df.select(...)``, plus Spark-computed placement columns for
    types the kernel does not hash — ``_spark_fed``). Either way the
    kernel places the rows by ``plan`` and the ONE exchange hashes the
    stage-1 chunk rows on ``__tok``."""
    spark = df.sparkSession
    fields, kplan = _placement_fields(df, columns, plan)
    safe_names = [b for b, _ in fields[:len(columns)]]
    name_map = dict(zip(safe_names, columns))
    # Stage 2 derives part_id from the DATA (the merge kernel segments
    # its input by part_id and flushes fragments per part), so its task
    # count is free: run ~2 tasks per core instead of one per target
    # partition. At P ≫ cores the per-task
    # costs (python worker round-trip, scheduling, shuffle-block
    # granularity — guide §2.2) otherwise dominate the merge stage;
    # grouping bucket g → task g % n2 spreads each hot key's buckets
    # evenly. Pure execution-level grouping: chunk layout, fragments
    # and part ids are identical for any n2.
    n2 = max(1, min(plan.P, spark.sparkContext.defaultParallelism * 2))
    toks2 = partition_tokens(n2)
    tokens = [toks2[g % n2] for g in range(plan.P)]
    sort_names = [
        s for s, c in zip(safe_names, columns)
        if c in ("repo", "path", "commit")
    ]
    try:
        batch_rows = int(
            spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        )
    except Exception:
        from fhirflat_spark.session import ARROW_BATCH_ROWS as batch_rows
    fed = _spark_fed(df, plan)
    source = None if fed else _parquet_source(df, fields)
    kernel = encoded_pack_kernel_factory(
        safe_names, kplan, tokens, codec_overrides, name_map=name_map,
        codec_opts=codec_opts, part_offset=part_offset,
        sort_names=sort_names, batch_rows=batch_rows,
        bloom_columns=bloom, ndv_columns=ndv, qsk_columns=qsk,
        source=source,
    )
    if source is None:
        stage1 = df.select(*[_bq(c).alias(b) for b, c in fields], *fed)
    else:
        stage1 = spark.range(0, len(source.tasks), 1, len(source.tasks))
    stage1 = stage1.mapInArrow(kernel,
                               schema=encoded_shuffle_schema(len(columns)))
    merge = encoded_merge_kernel_factory(
        len(columns), manifest_dir=frag_dir, columns=safe_names,
        codec_overrides=codec_overrides, name_map=name_map,
        codec_opts=codec_opts, batch_rows=batch_rows,
        bloom_columns=bloom, ndv_columns=ndv,
        qsk_columns=qsk, sort_names=sort_names,
    )
    return stage1.repartition(n2, F.col("__tok")), merge


def detect_clustering(df: DataFrame, salt_col: str = "repo",
                      rows_per_bucket: int = 250_000) -> bool:
    """True when the input's existing splits are already clustered on the
    salt key well enough that the salted exchange would buy nothing.

    One column-pruned scan job computes per-split (min, max, count) of the
    key; the splits count as clustered when (a) at most ~10% of their key
    ranges strictly interleave (a key merely TOUCHING a split boundary —
    one repo continuing into the next split — is still perfect locality)
    and (b) no split exceeds 4x the bucket-size target. This is the
    automatic form of the Iceberg-style "table already partitioned by
    repo" fast path: at 100 TB it turns re-encode of a clustered table
    into a zero-exchange job."""
    if salt_col not in df.columns:
        return False
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.min(F.col(f"`{salt_col}`")).alias("lo"),
            F.max(F.col(f"`{salt_col}`")).alias("hi"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    if not rows:
        return True  # empty input: nothing to re-cluster
    spans = sorted((r["lo"], r["hi"]) for r in rows if r["lo"] is not None)
    if not spans:
        return False  # all-null keys: let the shuffle group them
    # compare against the RUNNING max of prior his, not just the previous
    # span — one wide split (e.g. a compacted file spanning the whole key
    # range) must count as interleaving with everything after it
    interleaved = 0
    running_hi = spans[0][1]
    for lo, hi in spans[1:]:
        if lo < running_hi:
            interleaved += 1
        if hi > running_hi:
            running_hi = hi
    max_n = max(r["n"] for r in rows)
    return interleaved <= max(1, len(spans) // 10) and max_n <= 4 * rows_per_bucket


@dataclass
class EncodeResult:
    out_dir: str
    num_partitions: int
    seconds: float
    rows: int
    raw_bytes: int
    encoded_bytes: int
    shuffled: bool = True

    @property
    def ratio(self) -> float:
        return self.encoded_bytes / max(self.raw_bytes, 1)

    @property
    def throughput_gbps(self) -> float:
        return self.raw_bytes / 1e9 / max(self.seconds, 1e-9)


def _commit_data(out_dir: str, written: set[int], *, columns: list[str],
                 spark_schema: str | None, t0: float, bloom=(), ndv=(),
                 qsk=(), replace: bool = False,
                 replace_pids: set[int] | None = None,
                 new_deletes: list[dict] | None = None,
                 branch: str | None = None, shuffled: bool = False,
                 num_partitions: int | None = None) -> EncodeResult:
    """The one data-commit tail: ``encode_table``/``append_table``, the
    named sink's batch and streaming commits and ``transcode_table`` all
    finish here, after their tasks wrote the chunk files and fragments.

    1. Select the fragments of the new snapshot: the ``written`` part
       ids, plus — unless the write ``replace``s the whole table — the
       head's and staged branches' part ids minus ``replace_pids``.
       Fragments of rolled-back pids stay on disk for rollback-forward
       but never re-merge (silent resurrection).
    2. Commit the snapshot (``write_manifest``); a replace commit drops
       the prior delete entries.
    3. Build the ``EncodeResult`` (``num_partitions`` overrides the
       committed partition count: a fresh encode reports its plan).
    4. Write the summary with the columns, schema and capability
       columns; its totals derive from the head. A staged commit skips
       it: the summary is main-visible, and ``publish_branch``
       re-derives it from the published head."""
    from fhirflat_spark.manifest import (
        load_fragments,
        write_manifest,
        write_summary,
    )

    keep = set(written)
    if not replace:
        keep |= _head_part_ids(out_dir) - set(replace_pids or ())
    meta_rows = [r for r in load_fragments(f"{out_dir}/manifest_parts")
                 if r["part_id"] in keep]
    stats = write_manifest(None, out_dir, meta_rows, new_deletes=new_deletes,
                           carry_deletes=not replace, branch=branch)
    result = EncodeResult(
        out_dir=out_dir,
        num_partitions=num_partitions or stats["n_partitions"],
        seconds=time.time() - t0,
        rows=stats["rows"],
        raw_bytes=stats["raw_bytes"],
        encoded_bytes=stats["encoded_bytes"],
        shuffled=shuffled,
    )
    if branch is None:
        write_summary(
            None, out_dir, columns, spark_schema=spark_schema,
            extra={key: sorted(cols) for key, cols in (
                ("bloom_columns", bloom), ("ndv_columns", ndv),
                ("quantile_columns", qsk)) if cols},
        )
    return result


def encode_table(
    df: DataFrame,
    out_dir: str,
    columns: list[str] | None = None,
    codec_overrides: dict | None = None,
    rows_per_bucket: int = 250_000,
    num_partitions: int | None = None,
    resume: bool = False,
    key_counts: list[tuple] | None = None,
    shuffle: bool | str = True,
    profile: str = "balanced",
    append: bool = False,
    part_offset: int = 0,
    max_new_partitions: int | None = None,
    bloom_columns: list[str] | None = None,
    ndv_columns: list[str] | None = None,
    quantile_columns: list[str] | None = None,
    delete_keys: tuple | None = None,
    delete_positions: DataFrame | None = None,
    weight_col: str | None = None,
    branch: str | None = None,
    replace_pids: set[int] | None = None,
) -> EncodeResult:
    """Encode ``df`` into ``out_dir`` (chunks + manifest + summary).

    ``replace_pids`` (append-only): partitions this commit REWRITES —
    their manifest rows are dropped from the new snapshot in the same
    atomic commit that adds the appended partitions (the Iceberg
    ``rewrite_data_files`` shape: one snapshot swaps old files for
    new). Their chunk dirs and fragment files stay on disk for
    time-travel until snapshot expiry + vacuum reclaim them.

    ``shuffle`` is ``True`` (default), ``False`` or ``"auto"``.

    ``shuffle=True`` re-clusters through the ENCODED exchange: the
    driver plans placement (``placement_plan``, one pruned counting
    scan) and the stage-1 kernel places each row on its target
    partition, groups its input split by target bucket and
    kernel-encodes every (split, bucket) slice; the one exchange
    ships those COMPRESSED bytes (~0.3-0.5x of raw; slices below the
    consolidation threshold travel as lz4-framed Arrow IPC "transit"
    chunklets); stage 2 renumbers chunk_seq deterministically,
    CONSOLIDATES runs of small chunklets (decode+re-encode below
    batch_rows//4 rows — keeps footprint stable on scattered inputs),
    and commits the fragments. It guarantees sorted-prefix locality +
    skew defusal regardless of input layout and reproduces the golden
    manifest pin.

    When ``df`` is a bare parquet scan (plain columns of one parquet
    relation: no filter, no partition columns, types pyarrow reads
    exactly), stage 1 reads the files itself in ``spark.range`` tasks
    (at most ``defaultParallelism``; files cut at row groups above
    ``spark.sql.files.maxPartitionBytes``) instead of taking rows from
    a JVM scan; any other input is fed by Spark. Both place rows by the
    same rule, so a row with a ``repo`` goes to the same partition
    either way.

    Layout is a pure function of the input, the session's
    ``defaultParallelism`` and the input's split structure — not of the
    input alone. P of a table without ``repo`` and the "o:" fallback
    size for caller ``key_counts`` read ``defaultParallelism``; rows of
    a table without ``repo`` spread round-robin by their index within
    their split; chunk order follows split order. The same input encoded
    twice in the same session gives the same dataset checksum (a
    parquet input split by its file listing, another input by Spark's
    partitioning), which is what lets ``resume=True`` skip exactly the
    committed partitions: their buckets' rows are dropped in stage 1
    and the rest land where a clean encode puts them. A resume at
    another parallelism or over a differently split input can place
    rows differently (ROADMAP direction 1).

    ``shuffle=False`` is the layout-preserving mode: encode each input
    split in place with NO exchange — correct for any input, optimal when
    the table is already clustered (e.g. an Iceberg table partitioned by
    repo); compression can be slightly worse because rows aren't
    re-sorted, and skew handling falls back to the source's file split
    sizes (``spark.sql.files.maxPartitionBytes`` caps a split, so a giant
    repo still spreads across tasks). ``shuffle="auto"`` runs
    ``detect_clustering`` (one pruned scan) and picks the layout-
    preserving mode when the input is already clustered.

    ``weight_col`` (opt-in, e.g. ``"content"``): bucket allocation per
    salt key follows that column's total BYTES instead of row counts —
    bounds partition payload size when file sizes vary wildly across
    repos (row counts under-provision a repo of few giant files, the
    straggler/OOM skew a 10^12-file corpus actually has). Same single
    counting scan; ignored when ``key_counts`` is caller-supplied.

    Chunk files are written by the encoding task itself (the stage-2
    merge task on the encoded exchange), one file per partition under
    ``chunks/part_id=N/`` with a deterministic name; there are no
    ``_SUCCESS`` or ``.crc`` files. Retries and speculative duplicates
    publish identical bytes under that name, and the driver drops every
    other file in the part dirs the job wrote: a retried append (same
    ``part_offset``; the crash came before the manifest merge) replaces
    exactly its own partitions' files instead of adding duplicates.

    ``profile``: ``"balanced"`` (default — faster than a parquet/zstd
    write of the same table at near-identical footprint) or
    ``"archive"`` (high-volume string chunks compress at a higher zstd
    level: ~4-6% smaller than parquet/zstd at default AND level-matched
    settings, at a slower encode — the write-once/store-forever mode)."""
    if branch is not None and not append:
        raise ValueError("branch staging is append-only (WAP audits a "
                         "delta against an existing table)")
    if replace_pids:
        if not append:
            raise ValueError("replace_pids is a rewrite COMMIT against an "
                             "existing table; it requires append=True")
        if branch is not None:
            # a staged rewrite's manifest would hide main partitions from
            # the branch view and publish_branch fast-forwards blindly
            raise ValueError("replace_pids cannot be staged on a branch")
    if profile not in ("balanced", "archive"):
        raise ValueError(f"unknown profile {profile!r}")
    spark = df.sparkSession
    columns = columns or df.columns
    # bloom_columns: per-chunk Bloom filters for point-lookup pruning
    # (decode_table(point_filter=...)); string columns only — the probe
    # hashes utf-8 bytes. An append inherits the dataset's bloom
    # columns when the caller names none — otherwise any direct append
    # (e.g. the streaming sink) would write unbloomed chunks AND
    # rewrite the summary without the key, silently killing the
    # point-lookup capability
    if append and (bloom_columns is None or ndv_columns is None
                   or quantile_columns is None):
        from fhirflat_spark.manifest import read_summary as _read_summary

        try:
            _summary = _read_summary(spark, out_dir)
        except FileNotFoundError:
            _summary = {}
        if bloom_columns is None:
            bloom_columns = [
                c for c in _summary.get("bloom_columns", ()) if c in columns
            ]
        # ndv inherits for the same reason bloom does: a direct append
        # must not silently write unsketched chunks into a tracked table
        if ndv_columns is None:
            ndv_columns = [
                c for c in _summary.get("ndv_columns", ()) if c in columns
            ]
        if quantile_columns is None:
            quantile_columns = [
                c for c in _summary.get("quantile_columns", ())
                if c in columns
            ]
    bloom_set = frozenset(bloom_columns or ())
    for c in bloom_set:
        if c not in columns:
            raise ValueError(f"bloom column {c!r} not in encoded columns")
        if not isinstance(df.schema[c].dataType, T.StringType):
            raise ValueError(
                f"bloom column {c!r} must be a string column "
                f"(got {df.schema[c].dataType})"
            )
    ndv_set = frozenset(ndv_columns or ())
    for c in ndv_set:
        if c not in columns:
            raise ValueError(f"ndv column {c!r} not in encoded columns")
        if not isinstance(df.schema[c].dataType,
                          (T.StringType, T.BinaryType, T.ByteType,
                           T.ShortType, T.IntegerType, T.LongType)):
            raise ValueError(
                f"ndv column {c!r} must be a string/binary/integer column "
                f"(got {df.schema[c].dataType})"
            )
    qsk_set = frozenset(quantile_columns or ())
    for c in qsk_set:
        if c not in columns:
            raise ValueError(f"quantile column {c!r} not in encoded columns")
        if not isinstance(df.schema[c].dataType,
                          (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType, T.FloatType, T.DoubleType)):
            raise ValueError(
                f"quantile column {c!r} must be a numeric column "
                f"(got {df.schema[c].dataType})"
            )
    t0 = time.time()

    if shuffle not in (True, False, "auto"):
        raise ValueError(f"shuffle must be True, False or 'auto', got {shuffle!r}")
    if shuffle == "auto":
        shuffle = not detect_clustering(df, rows_per_bucket=rows_per_bucket)

    skip: frozenset[int] = frozenset()
    committed = False
    if resume and not append:
        # the head's partitions are the skip set; only a table with no
        # snapshot yet resumes from scratch — a failed metadata read
        # raises instead of masquerading as "nothing committed"
        from fhirflat_spark.manifest import table_view

        view = table_view(out_dir)
        skip, committed = frozenset(view.part_ids), view.version is not None
    from fhirflat_spark import fsio

    chunks_dir = f"{out_dir}/chunks"
    if not (append or committed):
        # a fresh encode owns every chunk dir (an append writes NEW part
        # ids, a resume keeps the ones its snapshots reference)
        fsio.delete_dir(chunks_dir)
    frag_dir = f"{out_dir}/manifest_parts"
    if not (resume or append):
        _own_table(out_dir)
    elif append:
        if replace_pids:
            # rewrite commit: the replaced partitions leave the live
            # manifest atomically with this append (their fragments stay
            # on disk — retained snapshots still reference them)
            missing = set(replace_pids) - _head_part_ids(out_dir)
            if missing:
                raise ValueError(
                    f"replace_pids {sorted(missing)} are not live "
                    "partitions of the current head"
                )
        # crashed-attempt fragment sweep: tasks write manifest fragments
        # as a side effect DURING the job, so a killed append leaves
        # fragments for part ids its chunk files never committed. A
        # retry re-mints the same offset, but if it plans FEWER
        # partitions the leftovers above its range would stay on disk
        # as phantom partitions pointing at missing chunk dirs. Any
        # fragment at/above this run's offset that no retained snapshot
        # references is exactly such a leftover (committed pids are
        # always snapshot-referenced; this run's fragments don't exist
        # yet) — delete them before the job starts. Below the offset,
        # fragments of pids the head no longer references (rolled-back
        # appends) stay: a later rollback BACK onto one of their
        # snapshots must still find them, and the commit tail leaves
        # them out of the merge.
        from fhirflat_spark.manifest import all_snapshot_part_ids

        committed = all_snapshot_part_ids(out_dir)
        for name in fsio.list_files(frag_dir, suffix=".json"):
            pid = int(name[: -len(".json")])
            if pid >= part_offset and pid not in committed:
                fsio.delete_file(f"{frag_dir}/{name}")
    codec_opts = {"archive": True} if profile == "archive" else None
    plan_stats: dict = {}

    if shuffle:
        # encoded exchange: encode map-side per target bucket, exchange
        # the COMPRESSED chunk bytes (~0.3-0.5x of raw), renumber +
        # consolidate + fragment-commit post-shuffle
        plan = placement_plan(
            df, rows_per_bucket=rows_per_bucket, num_partitions=num_partitions,
            key_counts=key_counts, stats_out=plan_stats, weight_col=weight_col,
        )
        P = plan.P
        if skip:
            # resume: placement is a pure function of the input and stage
            # 1 sets part_id = part_offset + bucket, so dropping the
            # committed buckets' rows skips exactly the committed
            # partitions; the rest land where a clean encode puts them
            plan = dataclasses.replace(
                plan, skip=frozenset(p - part_offset for p in skip))
        source, kernel = _encoded_exchange(
            df, columns, plan, codec_overrides=codec_overrides,
            codec_opts=codec_opts, part_offset=part_offset,
            frag_dir=frag_dir, bloom=bloom_set, ndv=ndv_set, qsk=qsk_set,
        )
    else:  # layout-preserving: encode splits in place, no exchange
        # pyspark's mapInArrow resolves plain column names, which breaks
        # on dotted flat names (period.start) — feed it positional safe
        # names and keep the original names inside the kernel for
        # payload/stats keys
        safe_names = [f"__c{i}" for i in range(len(columns))]
        name_map = dict(zip(safe_names, columns))
        P = df.rdd.getNumPartitions()
        source = df.select(
            *[F.col(f"`{c}`").alias(s) for s, c in zip(safe_names, columns)]
        )
        kernel = encode_kernel_factory(
            safe_names, codec_overrides, skip_parts=skip,
            manifest_dir=frag_dir, name_map=name_map, codec_opts=codec_opts,
            part_offset=part_offset, bloom_columns=bloom_set,
            ndv_columns=ndv_set, qsk_columns=qsk_set,
        )
    if max_new_partitions is not None and P > max_new_partitions:
        # part-id namespace guard (streaming: batch_id * parts_per_batch):
        # silently bleeding into the next range would let a later replay
        # rewrite ANOTHER batch's partitions — fail loudly instead
        raise ValueError(
            f"planned {P} partitions exceed the {max_new_partitions}-wide "
            "part-id namespace; raise parts_per_batch or rows_per_bucket"
        )
    written = _write_chunks(source, kernel, chunks_dir, len(columns))
    new_deletes = None
    if delete_keys is not None:
        # upsert: shadow-delete matching keys in PRE-EXISTING partitions
        # (below_part = this append's offset — the sequence scope), in
        # the SAME snapshot commit as the appended data. File name keyed
        # by offset: a retried append overwrites its own keys file.
        if not append:
            raise ValueError("delete_keys (upsert) requires append=True")
        from fhirflat_spark.manifest import write_delete_keys

        dcol, dvals = delete_keys
        dname, _ = write_delete_keys(
            spark, out_dir, dcol, dvals, f"u{part_offset:010d}.parquet"
        )
        new_deletes = [
            {"file": dname, "column": dcol, "below_part": part_offset}
        ]
    if delete_positions is not None:
        # predicate UPDATE: position-delete the matched rows' old copies
        # in the SAME snapshot commit as their rewritten images (the
        # appended partitions sit at/above part_offset — fresh addresses
        # a position file captured beforehand can never hit). Offset-
        # keyed name: a retried append replaces its own positions file.
        if not append:
            raise ValueError("delete_positions requires append=True")
        pname = f"w{part_offset:010d}.parquet"
        (delete_positions
         .select(F.col("part_id").cast("int"),
                 F.col("chunk_seq").cast("int"),
                 F.col("row_idx").cast("int"))
         .distinct()
         .write.mode("overwrite")
         .parquet(f"{out_dir}/deletes/{pname}"))
        new_deletes = (new_deletes or []) + [
            {"file": pname, "column": None, "positional": True}
        ]
    result = _commit_data(
        out_dir, written, columns=columns,
        spark_schema=df.select(*[F.col(f"`{c}`") for c in columns]).schema.json(),
        bloom=bloom_set, ndv=ndv_set, qsk=qsk_set, t0=t0,
        replace=not (resume or append), replace_pids=replace_pids,
        new_deletes=new_deletes, branch=branch, shuffled=bool(shuffle),
        num_partitions=None if append else P,
    )
    if (branch is None and plan_stats.get("key_counts")
            and not plan_stats.get("caller_counts")):
        # persist SCAN-DERIVED counts only (caller-provided stats are the
        # caller's to maintain), as this part offset's fragment: a fresh
        # encode cleared the stats before its job, and an append, a
        # replayed batch or a resume atomically replaces only its own
        # fragment — idempotent under retries. A staged commit skips
        # them: merged counts are main-visible, and drop_branch must not
        # leak them (stale counts are safe by design).
        from fhirflat_spark.manifest import write_key_counts

        write_key_counts(out_dir, plan_stats["key_counts"],
                         label=f"{part_offset:012d}")
    return result


def append_table(
    df: DataFrame,
    out_dir: str,
    rows_per_bucket: int = 250_000,
    num_partitions: int | None = None,
    key_counts: list[tuple] | None = None,
    shuffle: bool | str = True,
    profile: str = "balanced",
    delete_keys: tuple | None = None,
    delete_positions: DataFrame | None = None,
    weight_col: str | None = None,
    branch: str | None = None,
    ndv_columns: list[str] | None = None,
    quantile_columns: list[str] | None = None,
    replace_pids: set[int] | None = None,
) -> EncodeResult:
    """Incrementally append ``df`` to an EXISTING encoded dataset — the
    daily-ingest pattern at 100 TB: new rows become NEW partitions
    (part ids offset past every existing one), the manifest re-merges old
    + new fragments, and the dataset checksum/summary update to cover the
    whole table. Existing chunk files are never touched, so concurrent
    readers keep a consistent view until the summary swap.

    Schema evolution (Iceberg add-column semantics): the delta may ADD
    columns — they append to the dataset's column list (old columns keep
    their positional payload fields, so existing chunks stay readable
    as-is) and old partitions decode as typed nulls for them. The delta
    may also OMIT existing columns — they are null-filled from the
    dataset schema. A shared column whose Spark type differs is an
    error: silent coercion at 100 TB is how tables rot. When no
    ``key_counts`` are given, the placement planner scans the append
    batch's per-key counts (cost proportional to the DELTA, not the
    table), plans THIS append's buckets from them (capped at
    ``SALT_STATS_CAP`` keys like any placement scan: the tail folds into
    an "o:" bucket sized from its measured row mass), and persists them
    as this offset's stats fragment — so merged statistics keep tracking
    the whole dataset across appends without rescanning it, and a
    retried append replaces its own fragment instead of double-counting.
    Returned totals cover the WHOLE dataset after the append."""
    # Planning deliberately counts only the DELTA (cost proportional to
    # the append, never the table): merged totals from load_key_counts
    # would size buckets as if the whole table were in this append and
    # over-fragment small deltas. The persisted merged stats serve
    # whole-table observability (tests/test_pipeline.py) and future
    # full re-plans, not per-append placement.
    from fhirflat_spark.manifest import read_summary

    spark = df.sparkSession
    summary = read_summary(spark, out_dir)
    old_cols = list(summary["columns"])
    added = [c for c in df.columns if c not in old_cols]
    missing = [c for c in old_cols if c not in df.columns]
    evolved = bool(added or missing) or list(df.columns) != old_cols
    if branch is not None and (added or missing):
        # staged appends may not evolve the schema: the columns list and
        # spark_schema live in the MAIN-visible summary, so a staged
        # evolution would leak unpublished columns to main readers
        raise ValueError(
            f"branch {branch!r} append adds/omits columns "
            f"({added or missing}); schema evolution must commit to main"
        )
    if summary.get("spark_schema"):
        old_schema = T.StructType.fromJson(json.loads(summary["spark_schema"]))
        by_name = {f.name: f for f in old_schema.fields}
        for c in df.columns:
            if c in by_name and df.schema[c].dataType != by_name[c].dataType:
                raise ValueError(
                    f"append column {c!r} type {df.schema[c].dataType} != "
                    f"dataset type {by_name[c].dataType} — evolve types "
                    "explicitly (transcode), not by append coercion"
                )
        for c in missing:
            df = df.withColumn(c, F.lit(None).cast(by_name[c].dataType))
        if evolved:
            # stable positional payload mapping: old columns keep their
            # indices, added columns take fresh trailing ones — existing
            # chunks stay readable and decode fills typed nulls
            df = df.select(*[F.col(f"`{c}`") for c in old_cols + added])
    elif evolved:
        raise ValueError(
            f"append columns {list(df.columns)} != dataset columns "
            f"{old_cols} and the dataset records no spark_schema to "
            "evolve against"
        )
    from fhirflat_spark.manifest import FORMAT_VERSION

    fv = summary.get("format_version", 0)
    if fv != FORMAT_VERSION:
        # appending current-format chunks into an older-format dataset
        # would mix codec blob formats inside one table (pre-v4 fsst
        # chunks are unreadable by this engine) — upgrade first
        raise ValueError(
            f"dataset format_version {fv} != engine {FORMAT_VERSION}; "
            "upgrade the dataset first (compact_table/transcode_table "
            "with this engine — or re-encode from source if it contains "
            "chunks this engine's codecs no longer read)"
        )
    # mint ids past every partition any RETAINED snapshot references
    # (the head is one of them), not just the head's: after a rollback
    # the dropped partitions are still time-travel-readable, and reusing
    # their ids (the new write replaces the dir's files) would silently
    # rewrite that history. Ids from a crashed append are in NO
    # snapshot — those stay reusable, which is what makes a retried
    # append idempotent.
    from fhirflat_spark.manifest import all_snapshot_part_ids

    top = max(all_snapshot_part_ids(out_dir), default=None)
    offset = (top + 1) if top is not None else 0
    return encode_table(
        df, out_dir, rows_per_bucket=rows_per_bucket,
        num_partitions=num_partitions, key_counts=key_counts,
        shuffle=shuffle, profile=profile, append=True, part_offset=offset,
        # appended chunks keep indexing the columns the dataset blooms
        # (added columns can opt in only via a fresh encode)
        bloom_columns=[c for c in summary.get("bloom_columns", ())
                       if c in df.columns],
        delete_keys=delete_keys,
        delete_positions=delete_positions,
        branch=branch,
        ndv_columns=ndv_columns,
        quantile_columns=quantile_columns,
        replace_pids=replace_pids,
        weight_col=weight_col,
    )


def upsert_rows(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    rows_per_bucket: int = 250_000,
    shuffle: bool | str = True,
    profile: str = "balanced",
) -> EncodeResult:
    """MERGE/upsert by key — ONE atomic snapshot commit that appends
    ``df``'s rows as new partitions and shadow-deletes every
    pre-existing row whose ``key_col`` matches (a scoped equality-delete
    entry committed in the same sidecar as the data, so readers never
    see the intermediate delete-without-insert or insert-with-duplicate
    states). Existing chunk files are untouched; the rewrite happens at
    the next compaction, the Iceberg merge-on-read trade. Keys present
    only in ``df`` are plain inserts; matched keys read as ``df``'s
    version afterwards."""
    return append_table(
        df, out_dir, rows_per_bucket=rows_per_bucket, shuffle=shuffle,
        profile=profile,
        delete_keys=(key_col, df.select(key_col).distinct()),
    )


APPLY_UPSERT_OPS = frozenset({"insert", "update", "upsert", "I", "U"})
APPLY_DELETE_OPS = frozenset({"delete", "D"})


def apply_changes(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    op_col: str = "_op",
    rows_per_bucket: int = 250_000,
    shuffle: bool | str = True,
    profile: str = "balanced",
) -> dict:
    """SQL ``MERGE`` / CDC apply in ONE snapshot commit: ``df`` carries
    an op column (``insert``/``update``/``upsert``/``I``/``U`` = write
    this row's image, ``delete``/``D`` = remove the key) and the whole
    batch lands atomically — non-delete rows append as new partitions
    while a single scoped equality-delete entry shadows every touched
    key's pre-existing copy, so a reader never observes a half-applied
    batch (the two-commit delete-then-upsert shape has a window where
    deleted keys are gone but updates haven't landed; this has none).
    A pure-delete batch commits just the delete entry.

    Contract (validated delta-proportionally, never scanning the
    table): exactly one row per key in the batch — resolve multi-event
    CDC streams to their latest image upstream — and no NULL keys
    (equality deletes can't address them). Insert vs update is not
    distinguished against the table (both write the image; matching is
    the shadow delete's job) — the Iceberg merge-on-read trade, same as
    :func:`upsert_rows`. Unknown op values raise.

    Returns {"inserts", "deletes", "snapshot"}: upserted row-images,
    delete ops applied, and the table's snapshot after the commit (an
    empty batch commits nothing and returns the current snapshot)."""
    from fhirflat_spark.manifest import current_snapshot, delete_rows

    spark = df.sparkSession
    if key_col not in df.columns or op_col not in df.columns:
        raise ValueError(
            f"apply_changes needs {key_col!r} and {op_col!r} in the batch"
        )
    ops = [r[0] for r in df.select(op_col).distinct().collect()]
    bad = [o for o in ops if o not in APPLY_UPSERT_OPS | APPLY_DELETE_OPS]
    if bad:
        raise ValueError(
            f"unknown op values {sorted(map(repr, bad))}: expected "
            f"{sorted(APPLY_UPSERT_OPS)} or {sorted(APPLY_DELETE_OPS)}"
        )
    if df.where(F.col(key_col).isNull()).limit(1).count():
        raise ValueError(f"NULL {key_col!r} in the change batch — "
                         "equality deletes cannot address NULL keys")
    if (df.groupBy(key_col).count().where(F.col("count") > 1)
            .limit(1).count()):
        raise ValueError(
            f"duplicate {key_col!r} in the change batch — one row per "
            "key (resolve CDC streams to their latest image upstream)"
        )
    data = (
        df.where(F.col(op_col).isin(list(APPLY_UPSERT_OPS))).drop(op_col)
    )
    n_ins = int(data.count())
    touched = df.select(key_col).distinct()
    n_del = int(df.where(
        F.col(op_col).isin(list(APPLY_DELETE_OPS))).count())
    if n_ins:
        append_table(
            data, out_dir, rows_per_bucket=rows_per_bucket,
            shuffle=shuffle, profile=profile,
            delete_keys=(key_col, touched),
        )
    elif n_del:
        delete_rows(spark, out_dir, key_col, touched)
    return {"inserts": n_ins, "deletes": n_del,
            "snapshot": current_snapshot(out_dir)}
