"""``spark.read.format("fhirflat")`` — the chunk store as a first-class
Spark data source (PySpark 4 Python DataSource API).

The engine's decode surfaces (``decode_table`` & friends) are library
calls; this module registers the same chunk-store layout as a *named
source*, so plain Spark SQL / DataFrame users — and Spark's own planner —
can read an encoded dataset with zero engine imports:

    spark.dataSource.register(FhirflatDataSource)
    df = (spark.read.format("fhirflat")
          .option("path", out_dir)
          .option("columns", "doc_id,lang")      # payload IO pruning
          .option("snapshot", "1")               # time travel
          .load())
    stream = (spark.readStream.format("fhirflat")
              .option("path", out_dir).load())   # snapshot-log CDC tail

written back the same way (the writer half lives in ``writer.py``):

    df.write.format("fhirflat").mode("append").save(out_dir)
    df.writeStream.format("fhirflat").option(
        "checkpointLocation", cp).start(out_dir)

and introspected through Iceberg-style metadata tables:

    spark.read.format("fhirflat").option("path", out_dir)
         .option("metadata", "snapshots").load()   # | partitions
                                                   # | chunks | deletes

Design (scale-first):

- **Planning is metadata-only.** The reader plans one ``InputPartition``
  per manifest-committed part-id (orphaned / uncommitted / rolled-back
  chunk directories are invisible — the table IS what the manifest says,
  same contract as ``decode_table``). Driver cost is O(partitions) over
  the manifest parquet, payload bytes untouched.
- **Reads are embarrassingly parallel and Spark-free.** Each task opens
  its partition's chunk parquet directly with pyarrow (nested projection:
  unselected payload fields cost zero IO) and decodes with the same numpy
  kernels as ``decode_table`` — no JVM row materialization on the input
  side at all; batches flow back over one Arrow channel.
- **Filter pushdown prunes chunks, Spark keeps the exact residual.**
  ``pushFilters`` accepts =, <, <=, >, >=, IN on stats'd columns — plus
  ``startswith`` on strings (compiled to the [prefix, next-prefix) zone
  range) and IS [NOT] NULL (pruned via the per-chunk/partition null
  counts) — and turns them into zone-map intersection tests (plus Bloom
  probes on bloom-encoded columns) evaluated per chunk BEFORE any
  payload decode.
  Every filter is returned to Spark unchanged: zones and Blooms
  overapproximate, so pruning is always conservative and the residual
  makes the answer exact.
  Known limitation (PySpark 4.1.2): ``PythonScanBuilder.pushFilters``
  stores the reader it planned with the pushed filters in
  ``PythonDataSourceV2.setReadInfo``. A later action on the same loaded
  DataFrame with no pushable filter skips Python pushdown, and
  ``getOrCreateReadInfo`` hands back that filtered reader, whose row
  masks and prunes drop rows the new action asked for: after
  ``df.where(...).count()``, ``df.collect()`` returns only the filtered
  rows. Build a fresh ``spark.read.format("fhirflat")`` DataFrame per
  filtered action.
- **Merge-on-read deletes.** Active equality-delete files (incl.
  partition-scoped entries, the sequence-number analog) are applied
  in-task with vectorized ``is_in`` masks. Delete-key files are
  metadata-sized and read once per task; takedown-list-scale key sets
  should read through ``decode_table`` whose anti-join distributes.
- **Streaming offsets are snapshot versions.** The stream reader tails
  the snapshot log: micro-batch (a, b] covers exactly the part-ids
  committed between snapshot a and snapshot b, so restarts resume
  exactly-once from the checkpointed version. Delete-only commits move
  the offset without emitting rows (the tail is an insert CDC feed;
  net diffs live in ``fhirflat_spark.changes.table_changes``).

Reference parity: the reference exposes its store only through library
entry points (reference fhirflat/ingest.py:381-432 writes, base.py:152
reads); a named Spark source is the cluster-native equivalent surface.
"""

from __future__ import annotations

import json

import pyarrow as pa

try:  # PySpark >= 4.0
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
    )

    HAVE_DATASOURCE_API = True
except ImportError:  # pragma: no cover - pyspark 3.x fallback
    HAVE_DATASOURCE_API = False

try:  # filter-pushdown classes are 4.1+ — a 4.0 runtime keeps the
    # source, just without pushdown (pushFilters returns everything)
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        StringStartsWith,
    )

    HAVE_PUSHDOWN_API = True
except ImportError:  # pragma: no cover - pyspark 4.0 fallback
    HAVE_PUSHDOWN_API = False

if not HAVE_DATASOURCE_API:  # pragma: no cover

    class DataSource:  # type: ignore[no-redef]
        def __init__(self, options):
            self.options = options

    class DataSourceReader:  # type: ignore[no-redef]
        pass

    class DataSourceStreamReader:  # type: ignore[no-redef]
        pass

    class InputPartition:  # type: ignore[no-redef]
        def __init__(self, value):
            self.value = value


class ChunkPartition(InputPartition):
    """One committed part-id = one Spark input partition (chunk files are
    written per part-id, so this is also the IO locality unit). Wide
    partitions are sub-split into [seq_lo, seq_hi) chunk-seq ranges so a
    few-partition table still fans out across every core — the manifest's
    per-partition chunk counts make the split metadata-only."""

    def __init__(self, part_id: int, seq_lo: int | None = None,
                 seq_hi: int | None = None):
        self.part_id = int(part_id)
        self.seq_lo = seq_lo
        self.seq_hi = seq_hi


def _plan(options) -> dict:
    """Driver-side plan state, picklable: schema + column mapping + the
    committed part-id universe + active delete entries."""
    from pyspark.sql import types as T

    from fhirflat_spark import fsio
    from fhirflat_spark.manifest import MANIFEST_VERSION, table_view

    path = options.get("path") or options.get("location")
    if not path:
        raise ValueError(
            'the fhirflat source needs .option("path", <dataset dir>) '
            f"(got options: {sorted(options)})"
        )
    summary = json.loads(fsio.read_bytes(f"{path}/_SUMMARY.json"))
    if summary.get("manifest_version") != MANIFEST_VERSION:
        raise ValueError(
            f"dataset manifest format v{summary.get('manifest_version')} != "
            f"engine v{MANIFEST_VERSION} — transcode with a matching engine"
        )
    all_cols = list(summary["columns"])
    cols_opt = options.get("columns")
    columns = (
        [c.strip() for c in cols_opt.split(",") if c.strip()]
        if cols_opt
        else list(all_cols)
    )
    unknown = [c for c in columns if c not in all_cols]
    if unknown:
        raise ValueError(f"columns {unknown} not in dataset columns {all_cols}")
    if summary.get("spark_schema"):
        full = T.StructType.fromJson(json.loads(summary["spark_schema"]))
        # declare every column nullable: schema evolution null-fills
        # partitions that predate a column, so a stored non-nullable
        # field (possible in library-written datasets) must not make
        # Spark's row conversion NPE on those typed nulls
        by_name = {
            f.name: T.StructField(f.name, f.dataType, True)
            for f in full.fields
        }
        schema = T.StructType([by_name[c] for c in columns])
        type_of = {f.name: f.dataType for f in full.fields}
    else:
        schema = T.StructType(
            [T.StructField(c, T.StringType(), True) for c in columns]
        )
        type_of = {c: T.StringType() for c in all_cols}

    # int version, tag/branch name or wall-clock as_of (epoch s /
    # ISO-8601); neither = the head
    view = table_view(path, options.get("snapshot"), options.get("as_of"))
    t = view.manifest
    deletes = [
        {
            "file": entry["file"],
            "column": entry.get("column"),
            "below_part": entry.get("below_part"),
            "positional": bool(entry.get("positional")),
        }
        for entry in view.deletes
    ]
    return {
        "path": path,
        "summary_rows": int(summary.get("rows") or 0),
        "all_cols": all_cols,
        "columns": columns,
        "schema": schema,
        "type_of": type_of,
        "bloomed": set(summary.get("bloom_columns") or ()),
        "part_ids": view.part_ids,
        "chunks_of": dict(
            zip(t["part_id"].to_pylist(), t["n_chunks"].to_pylist())
        ),
        # the view's pruning rollups: partitions() prunes on the
        # snapshot this read resolved, without re-reading it
        "rollups": t.select([c for c in ("part_id", "rows", "col_zones",
                                         "col_nulls")
                             if c in t.schema.names]),
        "split_chunks": int(options.get("split_chunks") or 16),
        "deletes": deletes,
    }


def _arrow_schema(spark_schema) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.schema(
        [(f.name, to_arrow_type(f.dataType)) for f in spark_schema.fields]
    )


def _coerce_bound(dt, value):
    from fhirflat_spark.manifest import coerce_zone_bound

    return coerce_zone_bound(dt, value)


def _zone_keeps(stats: dict, col: str, dt, lo, hi) -> bool:
    """True when the chunk's [zmin, zmax] for ``col`` may intersect
    [lo, hi] (either bound None = one-sided). Missing bounds keep the
    chunk — pruning must never drop a matching row."""
    s = stats.get(col)
    if not isinstance(s, dict):
        return True
    zmin, zmax = s.get("zmin"), s.get("zmax")
    if zmin is None or zmax is None:
        return True
    zmin = _coerce_bound(dt, zmin)
    zmax = _coerce_bound(dt, zmax)
    if zmin is None or zmax is None:
        return True
    # the literal coerces through the same family map (temporal
    # literals → epoch ints, matching the zone encoding); a bound that
    # does not coerce cannot prune, not "keeps everything"
    lo = _coerce_bound(dt, lo) if lo is not None else None
    hi = _coerce_bound(dt, hi) if hi is not None else None
    try:
        if lo is not None and zmax < lo:
            return False
        if hi is not None and zmin > hi:
            return False
    except TypeError:
        return True
    return True


def _bloom_keeps(stats: dict, col: str, values) -> bool:
    """True when ANY of ``values`` might be in the chunk per its Bloom
    filter; chunks without a (geometry-matching) bloom are kept."""
    from fhirflat_spark import bloom as B

    s = stats.get(col)
    if not isinstance(s, dict):
        return True
    hexstr, bbits = s.get("bloom"), s.get("bbits")
    if hexstr is None or str(bbits) != str(B.M_BITS):
        return True
    return any(B.might_contain(hexstr, str(v)) for v in values)


class _ReadMixin:
    """Shared per-partition read: pyarrow scan → chunk pruning → numpy
    decode → delete masks → Arrow batches in the output schema."""

    def _read_part(self, plan: dict, pid: int, zones: list, points: list,
                   seq_range: tuple[int, int] | None = None,
                   rows: list | None = None,
                   nulls: list | None = None):
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        from fhirflat_spark import fsio
        from fhirflat_spark.codecs import decode_array

        path = plan["path"]
        columns = list(plan["columns"])
        field_of = {c: f"__c{i}" for i, c in enumerate(plan["all_cols"])}
        # delete-key columns ride along for masking, then are dropped
        pos_deletes = [d for d in plan["deletes"] if d.get("positional")]
        deletes = [
            d for d in plan["deletes"]
            if not d.get("positional")
            and (d["below_part"] is None or pid < d["below_part"])
        ]
        extra = sorted({d["column"] for d in deletes} - set(columns))
        read_cols = columns + extra
        nulls = nulls or []
        need_stats = bool(zones or points or nulls)

        fs, inner = fsio.resolve(f"{path}/chunks/part_id={pid}")
        dset = pads.dataset(inner, filesystem=fs, format="parquet")
        scan_filter = None
        if seq_range is not None:
            lo, hi = seq_range
            scan_filter = (pads.field("chunk_seq") >= lo) & (
                pads.field("chunk_seq") < hi
            )
        proj = {"n_rows": pads.field("n_rows")}
        if need_stats:
            proj["stats"] = pads.field("stats")
        if pos_deletes:
            proj["chunk_seq"] = pads.field("chunk_seq")
        # schema evolution: a partition written before a column was added
        # has no payload.__c{i} field for it at all (vs a NULL cell when
        # only some chunks predate it) — project only the fields this
        # partition's files carry and typed-null-fill the rest
        pf = dset.schema.field("payload").type
        present = {pf.field(i).name for i in range(pf.num_fields)}
        absent = {c for c in read_cols if field_of[c] not in present}
        for c in read_cols:
            if c not in absent:
                proj[field_of[c]] = pads.field("payload", field_of[c])
        from pyspark.sql.pandas.types import to_arrow_type

        out_schema = _arrow_schema(plan["schema"])
        arrow_of = dict(zip(out_schema.names, out_schema.types))
        for c in extra:
            arrow_of[c] = to_arrow_type(plan["type_of"][c])
        # row-level application of pushed filters (=, <, <=, >, >=, IN):
        # Spark re-applies the full predicate as the exact residual, so
        # filtering here only has to never drop a row Spark would keep.
        # Restricted to types whose comparison semantics match Spark's
        # exactly (binary-collated strings, integers, booleans — floats
        # excluded: Spark orders NaN above everything, IEEE does not).
        # Filter columns decode FIRST so an all-miss chunk (e.g. a Bloom
        # false positive) skips decompressing every other column.
        col_set = set(columns)
        row_filters = [
            (c, op, v) for (c, op, v) in (rows or [])
            if c in col_set and (
                op in ("nu", "nn")  # null tests are type-independent:
                # Spark and Arrow agree on validity for every type
                # (NaN is NOT null on either side)
                or (op == "sw" and pa.types.is_string(arrow_of[c]))
                or (op not in ("nu", "nn", "sw")
                    and _row_filterable(arrow_of[c]))
            )
        ]
        key_sets = {
            d["file"]: _delete_keys(path, d["file"]) for d in deletes
        }
        # positional deletes for THIS partition, grouped by chunk:
        # chunk_seq -> sorted row indices (metadata-sized per task —
        # mass-dedup-scale position sets should read via decode_table,
        # whose anti-join distributes, same caveat as big key sets)
        pos_of: dict[int, list[int]] = {}
        for d in pos_deletes:
            t = _delete_positions(path, d["file"], pid)
            for cs, ri in zip(t.column("chunk_seq").to_pylist(),
                              t.column("row_idx").to_pylist()):
                pos_of.setdefault(int(cs), []).append(int(ri))

        for batch in dset.to_batches(columns=proj, filter=scan_filter):
            nrs = batch.column("n_rows")
            stats_col = batch.column("stats") if need_stats else None
            for i in range(batch.num_rows):  # chunk granularity (~16k rows)
                if need_stats:
                    stats = json.loads(stats_col[i].as_py())
                    if not all(
                        _zone_keeps(stats, c, plan["type_of"].get(c), lo, hi)
                        for c, lo, hi in zones
                    ):
                        continue
                    if not all(
                        _bloom_keeps(stats, c, vals) for c, vals in points
                    ):
                        continue
                    if nulls and not all(
                        _null_keeps(stats, c, want_null, absent,
                                    nrs[i].as_py())
                        for c, want_null in nulls
                    ):
                        continue
                def _cell(c):
                    if c in absent:  # partition predates the column
                        return pa.nulls(nrs[i].as_py(), type=arrow_of[c])
                    cell = batch.column(field_of[c])[i]
                    if not cell.is_valid:  # chunk predates the column
                        return pa.nulls(nrs[i].as_py(), type=arrow_of[c])
                    arr = decode_array(memoryview(cell.as_buffer()))
                    if arr.type != arrow_of[c]:
                        arr = arr.cast(arrow_of[c])
                    return arr

                arrays = {}
                mask = None
                all_miss = False
                enc_ctx: dict = {}
                for c, op, v in row_filters:
                    # dictionary-domain fast path: for dict/rle/constant
                    # chunks the predicate runs against the DISTINCT
                    # values (dictionary / run values) and maps through
                    # the code stream — the filter column's row values
                    # are never materialized while testing, and an
                    # all-miss chunk costs one tiny dictionary decode
                    # instead of a full column decompress
                    if c not in arrays and c not in enc_ctx \
                            and c not in absent:
                        cell = batch.column(field_of[c])[i]
                        enc_ctx[c] = (
                            _encoded_filter_ctx(
                                memoryview(cell.as_buffer()), arrow_of[c]
                            )
                            if cell.is_valid else None
                        )
                    ctx = enc_ctx.get(c) if c not in arrays else None
                    if ctx is not None:
                        hit = _encoded_pred_mask(ctx, op, v)
                        if isinstance(hit, str):  # "keep": mistyped literal
                            continue
                    else:
                        if c not in arrays:
                            arrays[c] = _cell(c)
                        hit = _pred_mask(arrays[c], op, v)
                        if hit is None:  # mistyped literal: keep rows
                            continue
                    mask = hit if mask is None else pc.and_(mask, hit)
                    if not pc.any(mask).as_py():
                        all_miss = True
                        break
                if all_miss:
                    continue  # remaining columns never decompressed
                for c in read_cols:
                    if c not in arrays:
                        ctx = enc_ctx.get(c)
                        if ctx is not None:
                            # surviving chunk: rebuild the column from
                            # the already-decoded (codes, keys) pair —
                            # identical values/type to a fresh decode
                            arrays[c] = _ctx_materialize(ctx)
                        else:
                            arrays[c] = _cell(c)
                for d in deletes:
                    hit = pc.is_in(
                        arrays[d["column"]], value_set=key_sets[d["file"]]
                    )
                    keep = pc.invert(pc.fill_null(hit, False))
                    mask = keep if mask is None else pc.and_(mask, keep)
                if pos_of:
                    cs = int(batch.column("chunk_seq")[i].as_py())
                    hits = pos_of.get(cs)
                    if hits:
                        import numpy as np

                        keep_np = np.ones(nrs[i].as_py(), dtype=bool)
                        keep_np[np.asarray(hits, dtype=np.int64)] = False
                        keep = pa.array(keep_np)
                        mask = keep if mask is None else pc.and_(mask, keep)
                out = pa.RecordBatch.from_arrays(
                    [arrays[c] for c in columns], schema=out_schema
                )
                if mask is not None:
                    out = out.filter(mask)
                if out.num_rows:
                    yield out


def _row_filterable(t: pa.DataType) -> bool:
    """Types where pyarrow comparison semantics equal Spark's: binary
    collation strings, two's-complement integers, booleans, NTZ
    timestamps and dates (both compare as epoch ints after arrow's
    date→timestamp promotion, which matches Spark's — the literal
    family is separately gated by :func:`_temporal_literal_ok`).
    Floats are excluded (Spark: NaN > everything and NaN = NaN; IEEE:
    neither); tz-AWARE timestamps are excluded (their comparison
    family is session state, not data)."""
    return (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_integer(t)
        or pa.types.is_boolean(t)
        or (pa.types.is_timestamp(t) and t.tz is None)
        or pa.types.is_date32(t)
    )


def _temporal_literal_ok(t: pa.DataType, v) -> bool:
    """Strict literal-family gate for temporal comparisons. pa.scalar
    coercion is TOO permissive here — it silently truncates a datetime
    to a date and accepts tz-aware datetimes — so the allowed pairs are
    explicit: NTZ timestamp columns take naive datetimes or dates
    (arrow promotes date → midnight timestamp exactly like Spark);
    date columns take dates ONLY (a datetime would need the same
    promotion of the COLUMN, which the dictionary path's typed-key
    comparison does not guarantee — refuse, the caller falls back)."""
    import datetime as _dt

    if pa.types.is_timestamp(t):
        if isinstance(v, _dt.datetime):
            return v.tzinfo is None
        return isinstance(v, _dt.date)
    if pa.types.is_date(t):
        return isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)
    return True


_PC_OP = {
    "eq": "equal",
    "gt": "greater",
    "ge": "greater_equal",
    "lt": "less",
    "le": "less_equal",
}


def _prefix_upper(prefix: str) -> str | None:
    """Smallest string greater than every string starting with
    ``prefix`` (exclusive upper bound for a starts-with range), or None
    when no such string exists. UTF-8 byte order equals code-point
    order, so Python string comparison against it matches Spark's
    binary collation."""
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp < 0x10FFFF:
            return prefix[:i] + chr(cp + 1)
    return None


def _null_keeps(stats: dict, col: str, want_null: bool, absent: set,
                n_rows: int) -> bool:
    """Chunk-level IS [NOT] NULL pruning from the per-chunk null count
    (stats v2). A column absent from the partition payload or from this
    chunk's stats decodes as ALL nulls; stats without a ``nulls`` key
    (pre-v2) keep the chunk — pruning must stay conservative."""
    if col in absent or not isinstance(stats.get(col), dict):
        return want_null  # every row null: IS NULL keeps, IS NOT NULL skips
    n = stats[col].get("nulls")
    if n is None:
        return True
    return n < n_rows if not want_null else n > 0


def _pred_mask(arr: pa.Array, op: str, v):
    """Boolean keep-mask for one pushed predicate, or None when the
    literal does not coerce to the column type (keep every row — Spark's
    residual is the exact answer either way). Null comparisons fill to
    False, matching Spark's null-rejecting WHERE semantics."""
    import pyarrow.compute as pc

    if pa.types.is_temporal(arr.type):
        vals = list(v) if op == "in" else ([] if op in ("nu", "nn")
                                           else [v])
        if not all(_temporal_literal_ok(arr.type, x) for x in vals):
            return None
    try:
        if op == "nu":
            return pc.is_null(arr)
        if op == "nn":
            return pc.is_valid(arr)
        if op == "sw":
            hit = pc.starts_with(arr, pattern=v)
        elif op == "in":
            hit = pc.is_in(arr, value_set=pa.array(list(v), type=arr.type))
        else:
            hit = getattr(pc, _PC_OP[op])(arr, v)
        return pc.fill_null(hit, False)
    except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError,
            TypeError, OverflowError):
        return None


def _encoded_filter_ctx(blob, target: pa.DataType) -> dict | None:
    """Dictionary-domain filter context for one chunk blob, or None when
    the chunk's codec does not expose a (codes, distinct-values) split.

    For dict / rle / constant chunks (bare or nullable-wrapped) the
    pushed predicate can be evaluated against the DISTINCT values and
    broadcast through the integer code stream — O(distinct) value work
    + O(rows) on small ints, instead of materializing every row's value
    just to test it. ``keys`` is cast to the column's declared read type
    so predicate semantics are byte-identical to the decoded path."""
    from fhirflat_spark.codecs.core import CodecError, unpack_chunk

    try:
        codec, n, _token, _meta, secs = unpack_chunk(blob)
        inner = codec
        if codec == "nullable":
            inner = unpack_chunk(secs[1])[0]
        if inner not in ("dict", "rle", "constant"):
            return None
        from fhirflat_spark.encoded_exec import _codes_keys

        codes, keys = _codes_keys(blob)
    except (CodecError, KeyError, ValueError):
        return None
    if isinstance(keys, pa.ChunkedArray):
        keys = keys.combine_chunks()
    if keys.type != target:
        try:
            keys = keys.cast(target)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            return None
    return {"codes": codes, "keys": keys, "n": n}


def _encoded_pred_mask(ctx: dict, op: str, v):
    """Row keep-mask for one pushed predicate evaluated in the encoded
    domain: ``_pred_mask`` runs on the distinct values only, then the
    boolean verdicts fan out through the code stream (NULL rows — code
    -1 — fail value predicates, exactly like the decoded path's
    fill_null(False)). Returns the literal string ``"keep"`` when the
    literal does not coerce (mirror of ``_pred_mask``'s None)."""
    import numpy as np

    codes = ctx["codes"]
    if op == "nu":
        return pa.array(codes < 0)
    if op == "nn":
        return pa.array(codes >= 0)
    key_pass = _pred_mask(ctx["keys"], op, v)
    if key_pass is None:
        return "keep"
    kp = key_pass.to_numpy(zero_copy_only=False).astype(bool)
    out = np.zeros(len(codes), dtype=bool)
    pos = codes >= 0
    if len(kp) and pos.any():
        out[pos] = kp[codes[pos]]
    return pa.array(out)


def _ctx_materialize(ctx: dict) -> pa.Array:
    """Rebuild the full column from an encoded filter context — the same
    ``dictionary.take(codes)`` a fresh decode performs, reusing the
    already-unpacked codes/keys instead of re-reading the blob."""
    codes, keys = ctx["codes"], ctx["keys"]
    if (codes < 0).any():
        return keys.take(pa.array(codes, mask=codes < 0))
    return keys.take(pa.array(codes))


def _delete_positions(path: str, name: str, pid: int) -> pa.Table:
    """One positional-delete file (Spark-written dir) filtered to a
    partition."""
    import pyarrow.dataset as pads

    from fhirflat_spark import fsio

    fs, inner = fsio.resolve(f"{path}/deletes/{name}")
    dset = pads.dataset(inner, filesystem=fs, format="parquet")
    return dset.to_table(filter=pads.field("part_id") == pid)


def _delete_keys(path: str, name: str) -> pa.Array:
    """Load one delete-keys file (single-file or Spark-written directory
    form) as a flat arrow array."""
    from fhirflat_spark import fsio

    p = f"{path}/deletes/{name}"
    if fsio.is_dir(p):
        tables = [
            fsio.read_parquet(f"{p}/{m}")
            for m in fsio.list_files(p, suffix=".parquet")
        ]
        t = pa.concat_tables(tables)
    else:
        t = fsio.read_parquet(p)
    return t.column(0).combine_chunks()


# --- Iceberg-style metadata inspection tables: the table's own metadata
# as queryable relations, no engine imports needed —
#   spark.read.format("fhirflat").option("path", out)
#        .option("metadata", "snapshots" | "partitions" | "chunks"
#                            | "deletes").load()
# snapshots/partitions/deletes are driver-metadata-sized (one input
# partition); chunks fans out one task per part-id and reads ONLY the
# chunk files' metadata columns (payload blobs pruned by the nested
# projection), so cost is #chunks, not data bytes.

METADATA_DDL = {
    "snapshots": (
        "version INT, n_partitions BIGINT, rows BIGINT, raw_bytes BIGINT, "
        "encoded_bytes BIGINT, dataset_sha256 STRING, is_current BOOLEAN, "
        "parent INT, committed_at_us BIGINT"
    ),
    "partitions": (
        "part_id INT, n_chunks INT, rows BIGINT, raw_bytes BIGINT, "
        "encoded_bytes BIGINT, partition_sha STRING, repo_min STRING, "
        "repo_max STRING, status STRING, col_zones STRING, "
        "col_nulls STRING, col_sums STRING, col_hlls STRING, "
        "col_ddqs STRING"
    ),
    "chunks": (
        "part_id INT, chunk_seq INT, n_rows BIGINT, column STRING, "
        "codec STRING, raw_bytes BIGINT, encoded_bytes BIGINT, sha STRING, "
        "zmin STRING, zmax STRING"
    ),
    "deletes": "file STRING, column STRING, below_part INT, n_keys BIGINT",
    "refs": (
        "name STRING, type STRING, snapshot INT, base INT, "
        "staged_commits INT"
    ),
}


class FhirflatMetadataReader(DataSourceReader):
    def __init__(self, options, table: str):
        from fhirflat_spark.manifest import table_view

        self._table = table
        self._path = options.get("path") or options.get("location")
        if table == "chunks":
            self._part_ids = table_view(self._path).part_ids

    def partitions(self):
        if self._table == "chunks":
            return [ChunkPartition(p) for p in self._part_ids] or [
                ChunkPartition(-1)
            ]
        return [ChunkPartition(-1)]

    # arrow twins of METADATA_DDL (executors have no SparkContext to
    # parse DDL with; the two must stay in sync)
    _ARROW = {
        "snapshots": pa.schema(
            [("version", pa.int32()), ("n_partitions", pa.int64()),
             ("rows", pa.int64()), ("raw_bytes", pa.int64()),
             ("encoded_bytes", pa.int64()),
             ("dataset_sha256", pa.string()), ("is_current", pa.bool_()),
             ("parent", pa.int32()), ("committed_at_us", pa.int64())]
        ),
        "partitions": pa.schema(
            [("part_id", pa.int32()), ("n_chunks", pa.int32()),
             ("rows", pa.int64()), ("raw_bytes", pa.int64()),
             ("encoded_bytes", pa.int64()), ("partition_sha", pa.string()),
             ("repo_min", pa.string()), ("repo_max", pa.string()),
             ("status", pa.string()), ("col_zones", pa.string()),
             ("col_nulls", pa.string()), ("col_sums", pa.string()),
             ("col_hlls", pa.string()), ("col_ddqs", pa.string())]
        ),
        "chunks": pa.schema(
            [("part_id", pa.int32()), ("chunk_seq", pa.int32()),
             ("n_rows", pa.int64()), ("column", pa.string()),
             ("codec", pa.string()), ("raw_bytes", pa.int64()),
             ("encoded_bytes", pa.int64()), ("sha", pa.string()),
             ("zmin", pa.string()), ("zmax", pa.string())]
        ),
        "refs": pa.schema(
            [("name", pa.string()), ("type", pa.string()),
             ("snapshot", pa.int32()), ("base", pa.int32()),
             ("staged_commits", pa.int32())]
        ),
        "deletes": pa.schema(
            [("file", pa.string()), ("column", pa.string()),
             ("below_part", pa.int32()), ("n_keys", pa.int64())]
        ),
    }

    def _arrow(self):
        return self._ARROW[self._table]

    def read(self, partition):
        from fhirflat_spark.manifest import (
            _sha_of_partition_shas,
            _snapshot_versions,
            current_snapshot,
            read_snapshot_manifest,
            table_view,
        )

        path = self._path
        schema = self._arrow()
        if self._table == "snapshots":
            cur = current_snapshot(path)
            rows = []
            for v in _snapshot_versions(path):
                t = read_snapshot_manifest(
                    path, v,
                    columns=["part_id", "partition_sha", "rows",
                             "raw_bytes", "encoded_bytes"],
                )
                sha = _sha_of_partition_shas(
                    t["part_id"].to_pylist(), t["partition_sha"].to_pylist()
                )
                meta = t.schema.metadata or {}
                parent = (
                    int(meta[b"fhirflat.parent"]) or None
                    if b"fhirflat.parent" in meta else None
                )
                committed = (
                    int(meta[b"fhirflat.committed_at_us"])
                    if b"fhirflat.committed_at_us" in meta else None
                )
                rows.append(
                    (v, t.num_rows, sum(t["rows"].to_pylist()),
                     sum(t["raw_bytes"].to_pylist()),
                     sum(t["encoded_bytes"].to_pylist()), sha, v == cur,
                     parent, committed)
                )
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(c), type=f.type)
                 for c, f in zip(zip(*rows), schema)]
                if rows else [pa.array([], type=f.type) for f in schema],
                schema=schema,
            )
        elif self._table == "partitions":
            t = table_view(path).manifest
            for f in schema:  # pre-stats-v2 manifests lack the rollups
                if f.name not in t.schema.names:
                    t = t.append_column(f, pa.nulls(t.num_rows, f.type))
            yield from t.select(schema.names).cast(schema).to_batches()
        elif self._table == "refs":
            from fhirflat_spark.manifest import _read_refs_full

            rows = []
            for name, r in sorted(_read_refs_full(path).items()):
                rows.append((
                    name, r.get("type", "tag"), int(r["snapshot"]),
                    int(r["base"]) if r.get("base") is not None else None,
                    len(r.get("history") or ()),
                ))
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(c), type=f.type)
                 for c, f in zip(zip(*rows), schema)]
                if rows else [pa.array([], type=f.type) for f in schema],
                schema=schema,
            )
        elif self._table == "deletes":
            rows = []
            for e in table_view(path).deletes:
                keys = _delete_keys(path, e["file"])
                rows.append((e["file"], e["column"], e.get("below_part"),
                             len(keys)))
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(c), type=f.type)
                 for c, f in zip(zip(*rows), schema)]
                if rows else [pa.array([], type=f.type) for f in schema],
                schema=schema,
            )
        else:  # chunks: per-(chunk, column) lineage from the stats JSON
            if partition is None or partition.part_id < 0:
                return
            from fhirflat_spark.decode import read_chunks

            pid = partition.part_id
            cols = {n: [] for n in schema.names}
            for batch in read_chunks(path, pid,
                                     meta=["chunk_seq", "n_rows", "stats"]):
                seqs = batch.column("chunk_seq").to_pylist()
                nrs = batch.column("n_rows").to_pylist()
                for seq, n, stats_json in zip(
                    seqs, nrs, batch.column("stats").to_pylist()
                ):
                    for col, st in json.loads(stats_json).items():
                        cols["part_id"].append(pid)
                        cols["chunk_seq"].append(seq)
                        cols["n_rows"].append(n)
                        cols["column"].append(col)
                        cols["codec"].append(st.get("codec"))
                        cols["raw_bytes"].append(st.get("raw"))
                        cols["encoded_bytes"].append(st.get("enc"))
                        cols["sha"].append(st.get("sha"))
                        zmin = st.get("zmin")
                        zmax = st.get("zmax")
                        cols["zmin"].append(
                            None if zmin is None else str(zmin)
                        )
                        cols["zmax"].append(
                            None if zmax is None else str(zmax)
                        )
            if cols["part_id"]:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(cols[f.name], type=f.type) for f in schema],
                    schema=schema,
                )


class FhirflatBatchReader(DataSourceReader, _ReadMixin):
    def __init__(self, options, schema, plan: dict | None = None):
        self._plan_state = dict(plan) if plan is not None else _plan(options)
        # Spark may hand back our own schema() or a user override; the
        # column set drives payload projection either way
        if schema is not None and schema.names != self._plan_state["columns"]:
            self._plan_state["columns"] = list(schema.names)
            self._plan_state["schema"] = schema
        self._zones: list[tuple] = []  # (col, lo, hi) — None = unbounded
        self._points: list[tuple] = []  # (col, [values])
        self._rows: list[tuple] = []  # (col, op, value) row-level masks
        self._nulls: list[tuple] = []  # (col, want_null) null-stat prunes

    def pushFilters(self, filters):
        """Record zone/Bloom pruning opportunities; return EVERY filter
        (by reference, per contract) — pruning is partial, Spark owns the
        exact residual."""
        if not HAVE_PUSHDOWN_API:  # pragma: no cover - pyspark 4.0
            return filters
        statable = set(self._plan_state["all_cols"])
        bloomed = self._plan_state["bloomed"]
        for f in filters:
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1 or attr[0] not in statable:
                continue
            col = attr[0]
            if isinstance(f, EqualTo):
                self._zones.append((col, f.value, f.value))
                self._rows.append((col, "eq", f.value))
                if col in bloomed:
                    self._points.append((col, [f.value]))
            elif isinstance(f, GreaterThan) or isinstance(f, GreaterThanOrEqual):
                # zone test is inclusive-overlap: > vs >= both prune only
                # chunks wholly below the bound (conservative for >);
                # the row mask keeps the strict/inclusive distinction
                self._zones.append((col, f.value, None))
                self._rows.append(
                    (col, "gt" if isinstance(f, GreaterThan) else "ge",
                     f.value)
                )
            elif isinstance(f, LessThan) or isinstance(f, LessThanOrEqual):
                self._zones.append((col, None, f.value))
                self._rows.append(
                    (col, "lt" if isinstance(f, LessThan) else "le", f.value)
                )
            elif isinstance(f, In):
                # null literals dropped: `x IN (v, NULL)` is TRUE only on
                # a non-null v match (else NULL → row rejected) — same
                # rows either way
                vals = [v for v in f.value if v is not None]
                if vals:
                    self._zones.append((col, min(vals), max(vals)))
                    self._rows.append((col, "in", tuple(vals)))
                    if col in bloomed:
                        self._points.append((col, vals))
            elif isinstance(f, StringStartsWith):
                # a match satisfies prefix <= col < next(prefix): both
                # reach zone pruning (string zones are stored as safe
                # truncated bounds, so the intersection test stays
                # conservative); the row mask is the exact starts_with
                from pyspark.sql.types import StringType

                if isinstance(self._plan_state["type_of"].get(col),
                              StringType):
                    upper = _prefix_upper(f.value)
                    self._zones.append((col, f.value, upper))
                    self._rows.append((col, "sw", f.value))
            elif isinstance(f, IsNull):
                self._nulls.append((col, True))
                self._rows.append((col, "nu", None))
            elif isinstance(f, IsNotNull):
                self._nulls.append((col, False))
                self._rows.append((col, "nn", None))
        return filters

    def partitions(self):
        ids = self._plan_state["part_ids"]
        if self._zones:
            # partition-level zone pruning from the manifest (metadata-
            # only): non-matching partitions never become tasks at all
            from fhirflat_spark.manifest import prune_part_ids_by_zones

            ids = prune_part_ids_by_zones(
                self._plan_state["rollups"], ids, self._zones,
                self._plan_state["type_of"],
            )
        if self._nulls:
            # null-stat partition pruning: col_nulls rollups answer
            # IS [NOT] NULL at partition granularity with zero chunk IO
            from fhirflat_spark.manifest import prune_part_ids_by_nulls

            ids = prune_part_ids_by_nulls(
                self._plan_state["rollups"], ids, self._nulls
            )
        split = self._plan_state["split_chunks"]
        chunks_of = self._plan_state["chunks_of"]
        parts = []
        for p in ids:
            n = chunks_of.get(p, 0)
            if split and n > split:
                parts.extend(
                    ChunkPartition(p, lo, min(lo + split, n))
                    for lo in range(0, n, split)
                )
            else:
                parts.append(ChunkPartition(p))
        return parts

    def read(self, partition: ChunkPartition):
        if partition is None:
            # Spark substitutes [None] when partitions() returns [] (an
            # empty table, or every partition pruned): a valid 0-row read
            return
        rng = (
            (partition.seq_lo, partition.seq_hi)
            if partition.seq_lo is not None
            else None
        )
        yield from self._read_part(
            self._plan_state, partition.part_id, self._zones, self._points,
            seq_range=rng, rows=self._rows, nulls=self._nulls,
        )


class FhirflatStreamReader(DataSourceStreamReader, _ReadMixin):
    """Snapshot-log tail: offsets are snapshot versions; micro-batch
    (a, b] reads exactly the part-ids snapshot b committed beyond a."""

    def __init__(self, options, schema, plan: dict | None = None):
        self._plan_state = dict(plan) if plan is not None else _plan(options)
        if schema is not None and schema.names != self._plan_state["columns"]:
            self._plan_state["columns"] = list(schema.names)
            self._plan_state["schema"] = schema
        start = options.get("startingsnapshot", options.get("startingSnapshot"))
        if start == "latest":
            self._start = self._current()
        else:
            self._start = int(start) if start is not None else 0

    def _current(self) -> int:
        from fhirflat_spark.manifest import current_snapshot

        return current_snapshot(self._plan_state["path"]) or 0

    def initialOffset(self):
        return {"snapshot": self._start}

    def latestOffset(self):
        return {"snapshot": self._current()}

    def _ids_between(self, a: int, b: int) -> list[int]:
        from fhirflat_spark.manifest import snapshot_part_ids

        if b <= a:
            return []
        try:
            new = set(snapshot_part_ids(self._plan_state["path"], b))
            if a > 0:
                new -= set(snapshot_part_ids(self._plan_state["path"], a))
        except FileNotFoundError as e:
            # the checkpointed offset's snapshot manifest was expired
            # while the query was down — surface the retention/offset
            # conflict instead of an opaque missing-file error on every
            # micro-batch (recovery: keep more snapshots, or restart
            # with a fresh checkpoint accepting re-emission)
            raise RuntimeError(
                f"stream offset window ({a}, {b}] references an expired "
                f"snapshot manifest ({e}); expire_snapshots retention "
                "must outlive every active stream checkpoint — retain "
                "more snapshots or discard this checkpoint"
            ) from e
        return sorted(new)

    def partitions(self, start, end):
        ids = self._ids_between(int(start["snapshot"]), int(end["snapshot"]))
        # a delete-only / empty window still needs a valid (empty) batch
        return [ChunkPartition(p) for p in ids] or [ChunkPartition(-1)]

    def read(self, partition: ChunkPartition):
        if partition is None or partition.part_id < 0:
            return  # sentinel / substituted-None: an empty window
        # the tail is an insert feed: rows as their commit wrote them —
        # later deletes do not rewrite history, so no delete masking here
        plan = dict(self._plan_state, deletes=[])
        yield from self._read_part(plan, partition.part_id, [], [])

    def commit(self, end):
        pass


_CHANGE_COL = "_change_type"  # mirrors changes.CHANGE_COL


class ChangeFeedPartition(InputPartition):
    """One unit of change-feed work: either the insert rows of one NEW
    part-id (``kind='insert'``) or the delete hits of one snapshot-``a``
    part-id against the window's new equality-delete files
    (``kind='delete'``). ``vis_deletes`` carries the delete-entry dicts
    that define row visibility for the read (snapshot-``b``'s full set
    for inserts, snapshot-``a``'s for deletes) so executors never
    re-resolve window metadata."""

    def __init__(self, kind: str, part_id: int, vis_deletes=(),
                 groups=()):
        self.kind = kind
        self.part_id = int(part_id)
        self.vis_deletes = tuple(
            tuple(sorted(d.items())) for d in vis_deletes
        )  # picklable, hashable form
        self.groups = tuple(groups)  # ((column, (files...)), ...)


class FhirflatChangeFeedReader(FhirflatStreamReader):
    """Streaming change data feed: each micro-batch (a, b] emits the
    table's columns plus ``_change_type`` ('insert' | 'delete') — the
    per-window increments whose composition is ``changes.table_changes``
    over the same span. Enable with ``.option("changefeed", "true")`` on
    ``spark.readStream.format("fhirflat")``.

    Scope (the streamable fast path): windows that only APPEND partitions
    and ADD equality-delete files — the shape every library write op
    (append, named-sink append, upsert, delete_rows, WAP publish)
    produces. A window that rewrote history (rollback, compaction) or
    added POSITIONAL deletes (physical dedup maintenance) raises with
    instructions to reconcile via the batch ``table_changes`` and restart
    from a fresh checkpoint — silent wrong deltas are never emitted.

    Delete rows are reported per surviving physical copy (multiset);
    the batch fast path reports them set-wise (see changes.py caveat) —
    consumers applying "remove all copies matching this row" semantics
    see identical results.

    Reference parity: the reference library has no incremental surface
    at all (fhirflat/ingest.py re-reads whole datasets); the CDF stream
    is the cluster-native equivalent of re-running its pipeline on just
    the changed rows."""

    def __init__(self, options, schema, plan: dict | None = None):
        # Spark hands back our own CDF schema (table columns +
        # _change_type); the base reader's column-override must see only
        # the table columns — the change column is synthesized per batch
        if schema is not None and _CHANGE_COL in schema.names:
            from pyspark.sql import types as T

            schema = T.StructType(
                [f for f in schema.fields if f.name != _CHANGE_COL]
            )
        super().__init__(options, schema, plan)

    def partitions(self, start, end):
        from fhirflat_spark.manifest import (
            active_delete_files,
            snapshot_part_ids,
        )

        a, b = int(start["snapshot"]), int(end["snapshot"])
        if b <= a:
            return [ChangeFeedPartition("none", -1)]
        path = self._plan_state["path"]
        try:
            a_parts = set(snapshot_part_ids(path, a)) if a > 0 else set()
            b_parts = set(snapshot_part_ids(path, b))
            a_del = active_delete_files(path, a) if a > 0 else []
            b_del = active_delete_files(path, b)
        except FileNotFoundError as e:
            raise RuntimeError(
                f"changefeed window ({a}, {b}] references an expired "
                f"snapshot manifest ({e}); keep retention beyond every "
                "active stream checkpoint or restart with a fresh one"
            ) from e
        names_a = [e["file"] for e in a_del]
        names_b = [e["file"] for e in b_del]
        if not (a_parts <= b_parts
                and names_b[: len(names_a)] == names_a):
            raise RuntimeError(
                f"changefeed window ({a}, {b}] rewrote table history "
                "(rollback or compaction): per-window deltas are not "
                "derivable incrementally — reconcile with "
                "changes.table_changes and restart the stream from a "
                "fresh checkpoint at the rewritten snapshot"
            )
        new_entries = b_del[len(a_del):]
        if any(e.get("positional") for e in new_entries):
            raise RuntimeError(
                f"changefeed window ({a}, {b}] added positional deletes "
                "(physical-dedup maintenance): not streamable — "
                "reconcile with changes.table_changes and restart from "
                "a fresh checkpoint"
            )
        b_vis = [
            {
                "file": e["file"],
                "column": e.get("column"),
                "below_part": e.get("below_part"),
                "positional": bool(e.get("positional")),
            }
            for e in b_del
        ]
        a_vis = b_vis[: len(a_del)]
        parts: list[ChangeFeedPartition] = [
            ChangeFeedPartition("insert", p, vis_deletes=b_vis)
            for p in sorted(b_parts - a_parts)
        ]
        # group new delete files by (column, fence): each snapshot-a
        # part-id gets ONE delete task covering every group that scopes
        # it, so a row hit by several groups is still emitted once
        groups: dict[tuple, list[str]] = {}
        for e in new_entries:
            key = (e["column"], e.get("below_part"))
            groups.setdefault(key, []).append(e["file"])
        by_pid: dict[int, list] = {}
        for (col, below), files in groups.items():
            for p in a_parts:
                if below is None or p < below:
                    by_pid.setdefault(p, []).append((col, tuple(files)))
        parts.extend(
            ChangeFeedPartition("delete", p, vis_deletes=a_vis,
                                groups=gs)
            for p, gs in sorted(by_pid.items())
        )
        return parts or [ChangeFeedPartition("none", -1)]

    def _emit(self, rb: pa.RecordBatch, kind: str, keep: int):
        arrays = [rb.column(i) for i in range(keep)]
        arrays.append(pa.array([kind] * rb.num_rows, type=pa.string()))
        fields = [rb.schema.field(i) for i in range(keep)]
        fields.append(pa.field(_CHANGE_COL, pa.string()))
        return pa.RecordBatch.from_arrays(
            arrays, schema=pa.schema(fields)
        )

    def read(self, partition: ChangeFeedPartition):
        if partition is None or partition.part_id < 0:
            return
        import pyarrow.compute as pc

        vis = [dict(items) for items in partition.vis_deletes]
        plan = dict(self._plan_state, deletes=vis)
        n_out = len(plan["columns"])
        if partition.kind == "insert":
            for rb in self._read_part(plan, partition.part_id, [], []):
                yield self._emit(rb, "insert", n_out)
            return
        # delete task: snapshot-a visibility, then keep only rows whose
        # group column matches the group's (unioned) delete keys
        from pyspark.sql import types as T

        need = sorted(
            {c for c, _ in partition.groups} - set(plan["columns"])
        )
        if need:
            plan = dict(
                plan,
                columns=list(plan["columns"]) + need,
                schema=T.StructType(
                    list(plan["schema"].fields)
                    + [T.StructField(c, plan["type_of"][c], True)
                       for c in need]
                ),
            )
        path = plan["path"]
        keys_of = {
            files: pa.concat_arrays(
                [_delete_keys(path, f) for f in files]
            )
            for _, files in partition.groups
        }
        idx_of = {c: plan["columns"].index(c) for c, _ in partition.groups}
        for rb in self._read_part(plan, partition.part_id, [], []):
            mask = None
            for col, files in partition.groups:
                ks = keys_of[files]
                arr = rb.column(idx_of[col])
                if ks.type != arr.type:
                    ks = ks.cast(arr.type)
                hit = pc.fill_null(pc.is_in(arr, value_set=ks), False)
                mask = hit if mask is None else pc.or_(mask, hit)
            out = rb.filter(mask)
            if out.num_rows:
                yield self._emit(out, "delete", n_out)


class FhirflatDataSource(DataSource):
    """Register with ``spark.dataSource.register(FhirflatDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "fhirflat"

    def _plan_once(self) -> dict:
        # schema() and reader() both need the plan; one load() calls
        # both on the same instance, so memoize to avoid re-reading the
        # summary/manifest/delete sidecar (two metadata round-trips per
        # query on an object store otherwise)
        if not hasattr(self, "_plan_cache"):
            self._plan_cache = _plan(self.options)
        return self._plan_cache

    def _metadata_table(self) -> str | None:
        meta = self.options.get("metadata")
        if meta and meta not in METADATA_DDL:
            raise ValueError(
                f"unknown metadata table {meta!r} — one of "
                f"{sorted(METADATA_DDL)}"
            )
        return meta

    def _changefeed(self) -> bool:
        v = self.options.get("changefeed")
        return str(v).lower() in ("true", "1", "yes") if v is not None else False

    def schema(self):
        meta = self._metadata_table()
        if meta:
            return METADATA_DDL[meta]
        schema = self._plan_once()["schema"]
        if self._changefeed():
            from pyspark.sql import types as T

            schema = T.StructType(
                list(schema.fields)
                + [T.StructField(_CHANGE_COL, T.StringType(), True)]
            )
        return schema

    def reader(self, schema):
        meta = self._metadata_table()
        if meta:
            return FhirflatMetadataReader(self.options, meta)
        if self._changefeed():
            raise ValueError(
                "changefeed is a streaming option — use "
                "spark.readStream.format('fhirflat'), or "
                "changes.table_changes for a batch window"
            )
        return FhirflatBatchReader(self.options, schema, self._plan_once())

    def streamReader(self, schema):
        if self._changefeed():
            return FhirflatChangeFeedReader(
                self.options, schema, self._plan_once()
            )
        return FhirflatStreamReader(self.options, schema, self._plan_once())

    def writer(self, schema, overwrite: bool):
        from fhirflat_spark.sources.writer import FhirflatBatchWriter

        return FhirflatBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        from fhirflat_spark.sources.writer import FhirflatStreamWriter

        return FhirflatStreamWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Idempotent format registration for this SparkSession."""
    if not HAVE_DATASOURCE_API:  # pragma: no cover
        raise RuntimeError("the fhirflat named source needs PySpark >= 4.0")
    # the reader implements pushFilters(), which Spark rejects outright
    # unless python-source pushdown is on (runtime-settable conf)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(FhirflatDataSource)
