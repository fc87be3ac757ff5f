"""Encoded-domain aggregation: GROUP BY directly on compressed chunks.

The classic payoff of lightweight compression (C-Store / Abadi,
"Integrating Compression and Execution in Column-Oriented Database
Systems", SIGMOD'06) is that some operators can run on the encoded
representation without ever materializing row values.

Every group column of a chunk becomes one code stream plus a small
key array (``_codes_keys``): **dict** chunks give their bit-unpacked
codes and dictionary, **rle** chunks their run index per row and run
values, **constant** chunks an all-zero stream and the header value;
anything else (zstd/fsst/prefix strings, numeric streams) decodes and
dictionary-encodes with Arrow. One path then serves every codec and
any number of group columns (``_group_ids``): the code streams combine
into a mixed-radix int64 id per row, the ids are counted with
``np.bincount`` (or ``np.unique`` when the radix product exceeds the
chunk's rows), and only the distinct tuples touch the key arrays — so
per-chunk work is O(rows) on small ints and O(distinct) on the actual
values; a single group column is the 1-tuple case. An unfiltered
single-column count does not expand rle and constant chunks to rows:
their runs are counted weighted by run length (``_run_codes``).

Both entry points emit **per-task partial aggregates** (one row per
distinct group value per task — metadata-sized), so the only shuffle
moves partials, never rows: on a 1000-executor scan of a 100-TB table
the exchange carries |tasks| x |distinct| rows. The final merge is a
plain Catalyst ``groupBy`` over that tiny frame.

Correctness contract: results equal ``SELECT g, COUNT(*) ... GROUP BY
g`` / ``SUM/MIN/MAX(v)`` with SQL NULL semantics (NULL is a group;
SUM/MIN/MAX skip NULL values and return NULL for all-NULL groups).
Mirrors the reference's summary statistics over flat bundles
(reference fhirflat/ingest.py:381-432 records per-resource row counts
in ``fhirflat.toml``) — here the counts come from the codec streams.

Active row-level deletes are REFUSED (like
``manifest.aggregate_from_metadata``): encoded chunks are physical,
deletes are logical overlays — compact first, or use
``decode_table(...).groupBy`` which applies the overlay.
"""

from __future__ import annotations

import json
import math

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fhirflat_spark.codecs import decode_array
from fhirflat_spark.codecs.core import from_physical, unpack_bits
from fhirflat_spark.codecs.kernels import _dec_sub, ipc_array


def _runs(codec: str, n: int, token, secs):
    """(run codes, run values, run lengths) of an unwrapped rle or
    constant chunk — its code stream before expansion to rows — or None
    for any other codec."""
    if codec == "constant":
        one = from_physical(ipc_array(bytes(secs[0])), token)
        return np.zeros(1, dtype=np.int64), one.slice(0, 1), np.array([n])
    if codec == "rle":
        lens = _dec_sub(secs[0]).to_numpy(zero_copy_only=False)
        vals = from_physical(_dec_sub(secs[1]), token)
        return np.arange(len(lens), dtype=np.int64), vals, lens
    return None


def _run_codes(blob):
    """``_runs`` of an rle or constant chunk, NULL-wrapped or not (the
    NULL rows become one run of code -1), or None for any other codec:
    what an unfiltered count needs — each run counts its length."""
    from fhirflat_spark.codecs.core import unpack_chunk

    codec, n, token, _, secs = unpack_chunk(blob)
    nulls = 0
    if codec == "nullable":
        nulls = n - int(np.unpackbits(
            np.frombuffer(secs[0], dtype=np.uint8), count=n
        ).sum())
        codec, n, token, _, secs = unpack_chunk(secs[1])
    runs = _runs(codec, n, token, secs)
    if runs is None or not nulls:
        return runs
    codes, vals, lens = runs
    return np.append(codes, -1), vals, np.append(lens, nulls)


def _codes_keys(blob) -> tuple[np.ndarray, pa.Array]:
    """One chunk blob -> (full-length group codes, code->value array).

    ``codes[i] == -1`` marks a NULL group row; otherwise
    ``keys[codes[i]]`` is row i's group value. Used where a second
    column must be aggregated in row alignment with the groups — the
    group VALUES still materialize only once per distinct (or per run),
    never once per row."""
    from fhirflat_spark.codecs.core import unpack_chunk

    codec, n, token, meta, secs = unpack_chunk(blob)
    if codec == "nullable":
        valid = np.unpackbits(
            np.frombuffer(secs[0], dtype=np.uint8), count=n
        ).astype(bool)
        inner_codes, keys = _codes_keys(secs[1])
        codes = np.full(n, -1, dtype=np.int64)
        codes[valid] = inner_codes
        return codes, keys
    runs = _runs(codec, n, token, secs)
    if runs is not None:
        codes, vals, lens = runs
        return np.repeat(codes, lens), vals
    if codec == "dict":
        codes = unpack_bits(secs[0], meta["width"], n).view(np.int64)
        return codes, from_physical(_dec_sub(secs[1]), token)
    arr = decode_array(blob)
    de = arr.dictionary_encode()
    idx = de.indices
    if idx.null_count:
        codes = idx.fill_null(-1).to_numpy(zero_copy_only=False)
    else:
        codes = idx.to_numpy(zero_copy_only=False)
    return codes.astype(np.int64, copy=False), de.dictionary


_WHERE_OPS = ("eq", "lt", "le", "gt", "ge", "in", "sw", "nu", "nn")


def _normalize_where(where) -> list[list[tuple]]:
    """Normalize a where spec to CNF: a list of clauses, each clause a
    list of ``(col, op, literal)`` predicates OR'd together; clauses
    AND together. Accepted inputs: ``None``; one predicate tuple; a
    list mixing predicate tuples (unit clauses) and lists/tuples OF
    predicate tuples (disjunctive clauses). A bare predicate is
    recognized by its first element being the column name (a str)."""
    if where is None:
        return []

    def _pred(p):
        p = tuple(p)
        if len(p) == 2:  # (col, "nu"/"nn") null tests carry no literal
            p = (p[0], p[1], None)
        if len(p) != 3:
            raise ValueError(f"where predicate {p!r}: expected (col, op, "
                             "literal)")
        col, op, v = p
        if op not in _WHERE_OPS:
            raise ValueError(f"where op {op!r}: expected one of {_WHERE_OPS}")
        return (col, op, v)

    def _is_pred(it):
        return (isinstance(it, (tuple, list)) and len(it) > 0
                and isinstance(it[0], str))

    items = [where] if _is_pred(where) else list(where)
    cnf = []
    for it in items:
        if _is_pred(it):
            cnf.append([_pred(it)])
        else:
            clause = [_pred(p) for p in it]
            if not clause:
                raise ValueError("empty OR clause in where")
            cnf.append(clause)
    return cnf


def _flat_preds(cnf: list[list[tuple]]) -> list[tuple]:
    return [p for clause in cnf for p in clause]


def _validate_where(cnf: list[list[tuple]], by_name: dict, spark) -> None:
    """Driver-side exactness gate: unlike the named source's pushed
    filters (where Spark re-applies the full predicate as a residual),
    an encoded-domain aggregate IS the final answer — so predicates are
    restricted to types whose Arrow comparison equals Spark/SQL
    semantics (binary-collated strings, integers, booleans; floats
    excluded: Spark orders NaN above everything), and a literal that
    does not coerce RAISES instead of silently keeping rows."""
    from fhirflat_spark.sources.datasource import (
        _row_filterable,
        _temporal_literal_ok,
    )

    for col, op, v in _flat_preds(cnf):
        if col not in by_name:
            raise ValueError(f"where column {col!r} not in dataset")
        if op in ("nu", "nn"):
            continue
        at = _arrow_field(spark, by_name[col])
        if not _row_filterable(at) or (
            op == "sw" and not pa.types.is_string(at)
        ):
            raise ValueError(
                f"where on {col!r} ({at}): only string/integer/boolean/"
                "date/ntz-timestamp columns support exact encoded-domain "
                "predicates"
            )
        vals = list(v) if op == "in" else [v]
        if op == "sw":
            if not isinstance(v, str):
                raise ValueError("sw (starts-with) needs a string literal")
            continue
        if pa.types.is_temporal(at):
            # pa.scalar coercion is too permissive for temporal types
            # (silently truncates datetime→date, accepts tz-aware) —
            # the strict family gate is the refusal here. IN builds an
            # arrow value-set of the column type, which (unlike the
            # binary comparisons) cannot promote date→timestamp, so a
            # timestamp IN-list must hold datetimes proper.
            import datetime as _dt

            for x in vals:
                if op == "in" and pa.types.is_timestamp(at) and \
                        not isinstance(x, _dt.datetime):
                    raise ValueError(
                        f"where literal {x!r}: a timestamp IN-list "
                        "needs naive datetime literals"
                    )
                if not _temporal_literal_ok(at, x):
                    raise ValueError(
                        f"where literal {x!r} does not match {col!r}'s "
                        f"temporal family ({at}): dates take date "
                        "literals, NTZ timestamps take naive datetimes "
                        "or dates — no residual exists to correct a "
                        "coerced comparison"
                    )
            continue
        for x in vals:
            try:
                pa.scalar(x, type=at)
            except (pa.ArrowInvalid, pa.ArrowTypeError, TypeError,
                    OverflowError) as e:
                raise ValueError(
                    f"where literal {x!r} does not coerce to {col!r} "
                    f"({at}) — no residual exists to correct it"
                ) from e


def _zone_of(pred: tuple) -> list[tuple]:
    """[(col, lo, hi)] range one predicate bounds, or [] when it bounds
    none (null tests, empty IN, uncomparable literals)."""
    col, op, v = pred
    if op == "eq":
        return [(col, v, v)]
    if op in ("lt", "le"):
        return [(col, None, v)]
    if op in ("gt", "ge"):
        return [(col, v, None)]
    if op == "in" and v is not None and len(v):
        try:
            return [(col, min(v), max(v))]
        except TypeError:
            return []
    if op == "sw":
        from fhirflat_spark.sources.datasource import _prefix_upper

        return [(col, v, _prefix_upper(v))]
    return []


def _where_zones(cnf: list[list[tuple]]) -> list[tuple]:
    """Conservative (col, lo, hi) zone triples for partition/chunk
    pruning. A disjunctive clause bounds a range only when EVERY branch
    bounds a range on the SAME column — the union range [min lo, max hi]
    then over-approximates the clause (a nu/nn branch admits rows a
    zone check would wrongly prune, so it voids the clause's zone)."""
    zones = []
    for clause in cnf:
        per = [_zone_of(p) for p in clause]
        if any(len(z) != 1 for z in per):
            continue
        triples = [z[0] for z in per]
        if len({t[0] for t in triples}) != 1:
            continue
        los = [t[1] for t in triples]
        his = [t[2] for t in triples]
        try:
            lo = None if any(x is None for x in los) else min(los)
            hi = None if any(x is None for x in his) else max(his)
        except TypeError:
            continue
        zones.append((triples[0][0], lo, hi))
    return zones


def _pred_entails_chunk(pred: tuple, chunk: dict, dtype=None) -> bool:
    """True only when the predicate provably holds for EVERY row of the
    chunk from metadata alone (zone bounds + null counts). Used by the
    top-k threshold walk: a fully-entailed chunk's non-null rows all
    satisfy the WHERE, so they may count toward the k-row guarantee.
    String zone bounds are truncated prefix (lo <= true min) / successor
    (hi >= true max) — every test below uses the bound on its safe side,
    so truncation can only LOSE entailment, never fake it. A type
    mismatch between the zone value and the literal declines (the Spark
    residual still applies the predicate exactly)."""
    col, op, v = pred
    n = chunk["n_rows"]
    # evolved-schema chunks omit the column from the nulls rollup:
    # every cell is NULL there
    nulls = chunk["nulls"].get(col, n)
    if op == "nu":
        return nulls == n
    if nulls != 0:
        return False  # a NULL row fails every value predicate
    if op == "nn":
        return True
    if dtype is not None:
        # type-directed literal conversion: temporal predicates compare
        # in the epoch-INT space the zones record (DateType days,
        # TimestampNTZType micros); a literal that does not convert —
        # incl. every session-tz TimestampType literal and a datetime
        # against a DATE column's day-zones — DECLINES rather than
        # comparing mismatched units
        if isinstance(dtype, (T.DateType, T.TimestampNTZType,
                              T.TimestampType)):
            from fhirflat_spark.manifest import coerce_zone_bound

            if op == "sw":
                return False
            if op == "in":
                vals = [coerce_zone_bound(dtype, x) for x in (v or [])]
                if not vals or any(x is None for x in vals):
                    return False
                v = vals
            else:
                v = coerce_zone_bound(dtype, v)
                if v is None:
                    return False
    zone = (chunk.get("zones") or {}).get(col)
    if zone is None:
        return False
    lo, hi = zone

    def _cmpable(a, b):
        if isinstance(a, str) and isinstance(b, str):
            return True
        return (isinstance(a, int) and not isinstance(a, bool)
                and isinstance(b, int) and not isinstance(b, bool))

    if op == "sw":
        from fhirflat_spark.sources.datasource import _prefix_upper

        if not (isinstance(v, str) and isinstance(lo, str)
                and isinstance(hi, str)):
            return False
        up = _prefix_upper(v)
        return lo >= v and up is not None and hi < up
    if op == "in":
        vals = list(v) if v is not None else []
        return (_cmpable(lo, hi) and lo == hi
                and any(_cmpable(lo, x) and lo == x for x in vals))
    if not _cmpable(lo, v) or not _cmpable(hi, v):
        return False
    if op == "eq":
        return lo == v and hi == v
    if op == "lt":
        return hi < v
    if op == "le":
        return hi <= v
    if op == "gt":
        return lo > v
    if op == "ge":
        return lo >= v
    return False


def _clause_entails_chunk(clause: list[tuple], chunk: dict,
                          type_of: dict | None = None) -> bool:
    """A disjunctive clause provably holds for every row when ANY one
    branch does (conservative: rows may also mix branches, which this
    check misses — it affects pruning, never answers)."""
    return any(
        _pred_entails_chunk(
            p, chunk, None if type_of is None else type_of.get(p[0])
        )
        for p in clause
    )


def _pred_expr(pred: tuple):
    col, op, v = pred
    c = F.col(col)
    if op == "eq":
        return c == F.lit(v)
    if op == "lt":
        return c < F.lit(v)
    if op == "le":
        return c <= F.lit(v)
    if op == "gt":
        return c > F.lit(v)
    if op == "ge":
        return c >= F.lit(v)
    if op == "in":
        return c.isin(list(v) if v is not None else [])
    if op == "sw":
        return c.startswith(v)
    if op == "nu":
        return c.isNull()
    if op == "nn":
        return c.isNotNull()
    raise ValueError(f"where op {op!r}")


def _where_exprs(cnf: list[list[tuple]]) -> list:
    """One Catalyst Column per CNF clause (OR within a clause) — used
    where a Spark residual IS available (top-k scan), so, unlike
    :func:`_validate_where` consumers, any Spark-coercible literal is
    acceptable: Spark's own comparison semantics define the answer."""
    from functools import reduce
    from operator import or_

    return [reduce(or_, (_pred_expr(p) for p in clause)) for clause in cnf]


def _chunk_mask(fplan: dict, batch, i: int, n: int):
    """Evaluate a filter plan against one chunk: returns ``None`` (no
    filters), the string ``"skip"`` (all-miss row mask), or a boolean
    numpy keep-mask of length n. Chunk-level zone/Bloom pruning already
    ran in the reader (``_plan_scan``).

    Per-column evaluation prefers the dictionary domain
    (``_encoded_filter_ctx``) — the same machinery the named source's
    row filters use — and falls back to a full chunk decode +
    ``_pred_mask`` for heavy codecs. A ``_pred_mask`` None here is a
    bug (literals were validated driver-side), so it raises."""
    if not fplan["preds"]:
        return None
    from fhirflat_spark.sources.datasource import (
        _encoded_filter_ctx,
        _encoded_pred_mask,
        _pred_mask,
    )

    mask = None
    ctxs = {}
    decoded = {}

    def _hit(col, op, v):
        at = fplan["arrow_of"][col]
        if col not in ctxs and col not in decoded:
            cell = batch.column(fplan["blob_of"][col])[i]
            if not cell.is_valid:  # chunk predates the column: all NULL
                decoded[col] = pa.nulls(n, type=at)
                ctxs[col] = None
            else:
                ctxs[col] = _encoded_filter_ctx(
                    memoryview(cell.as_buffer()), at
                )
                if ctxs[col] is None:
                    decoded[col] = decode_array(
                        memoryview(cell.as_buffer())
                    )
                    if decoded[col].type != at:
                        decoded[col] = decoded[col].cast(at)
        if ctxs.get(col) is not None:
            h = _encoded_pred_mask(ctxs[col], op, v)
            if isinstance(h, str):
                raise RuntimeError(
                    f"validated literal failed to coerce on {col!r}"
                )
        else:
            h = _pred_mask(decoded[col], op, v)
            if h is None:
                raise RuntimeError(
                    f"validated literal failed to coerce on {col!r}"
                )
        return h.to_numpy(zero_copy_only=False).astype(bool)

    for clause in fplan["preds"]:
        cmask = None
        for col, op, v in clause:
            hm = _hit(col, op, v)
            cmask = hm if cmask is None else (cmask | hm)
        mask = cmask if mask is None else (mask & cmask)
        if not mask.any():
            return "skip"
    return mask


def _plan_scan(spark: SparkSession, out_dir: str, cols: list[str],
               snapshot, where=None, only_part_ids=None):
    """Shared chunk-store scan plan: live/snapshot part pruning + payload
    projection of exactly the needed columns. Returns (``scan(kernel,
    schema)``, which runs ``kernel`` over chunk batches holding n_rows +
    one blob col ``__b{j}`` per scanned column through
    ``decode.scan_chunks``; spark field per column; filter plan for
    ``_chunk_mask``).

    ``where`` — one ``(col, op, literal)``, a conjunctive list, or CNF
    (list elements that are themselves lists of predicates OR within
    the clause); ops eq/lt/le/gt/ge/in/sw/nu/nn. Pushdown stacks
    exactly like the named source: partition-level manifest zones →
    chunk-level zones + Bloom → dictionary-domain (or decoded) row
    masks — a disjunctive clause prunes by its union range and is
    masked branch-wise (OR of branch hits) — except here the result
    is FINAL (no Spark residual), so literals/types are validated
    up front and refused when exactness cannot be guaranteed."""
    from fhirflat_spark.decode import _check_version, scan_chunks
    from fhirflat_spark.manifest import (
        prune_part_ids_by_zones,
        read_summary,
        table_view,
    )

    summary = read_summary(spark, out_dir)
    _check_version(summary)
    all_cols = summary["columns"]
    preds = _normalize_where(where)
    flat = _flat_preds(preds)
    scan_cols = list(cols) + [
        c for c in dict.fromkeys(p[0] for p in flat) if c not in cols
    ]
    for c in scan_cols:
        if c not in all_cols:
            raise ValueError(f"column {c!r} not in dataset columns {all_cols}")
    view = table_view(out_dir, snapshot)
    if view.deletes:
        raise ValueError(
            "dataset has active row-level deletes: encoded-domain "
            "aggregation reads physical chunks — run compact_table to "
            "materialize deletes, or aggregate via decode_table().groupBy"
        )
    full = T.StructType.fromJson(json.loads(summary["spark_schema"]))
    by_name = {f.name: f for f in full.fields}
    for c in cols:
        if isinstance(by_name[c].dataType,
                      (T.ArrayType, T.MapType, T.StructType)):
            raise ValueError(
                f"column {c!r} is nested ({by_name[c].dataType.simpleString()})"
                " — encoded-domain aggregation supports scalar columns"
            )
    _validate_where(preds, by_name, spark)
    zones = _where_zones(preds)
    type_of = {p[0]: by_name[p[0]].dataType for p in flat}
    # Bloom probes come from UNIT clauses only: an OR'd eq/in cannot
    # prune a chunk on its own branch's absence
    points = [
        (c, [v] if op == "eq" else list(v))
        for clause in preds
        if len(clause) == 1
        for c, op, v in clause
        if op in ("eq", "in")
        and c in set(summary.get("bloom_columns", ()))
    ]
    ids = view.part_ids
    if zones:
        # partition-level pruning from the view's column zones —
        # metadata-only, before any chunk file is listed
        ids = prune_part_ids_by_zones(view.manifest, ids, zones, type_of)
    if only_part_ids is not None:
        # caller-supplied restriction (metadata-tier split): intersect
        # with our own pruning — may legitimately be empty
        ids = sorted(set(ids) & {int(p) for p in only_part_ids})
    field_of = {c: f"__c{i}" for i, c in enumerate(all_cols)}

    def scan(kernel, schema: T.StructType) -> DataFrame:
        # chunk-level zone and Bloom pruning runs in the reader, on each
        # chunk's stats before its payload is read
        return scan_chunks(
            spark, out_dir, view, ids, kernel, schema,
            payload={f"__b{j}": field_of[c] for j, c in enumerate(scan_cols)},
            prune={"zones": zones, "points": points, "type_of": type_of},
        )

    fplan = {
        "view": view,
        "preds": preds,
        "type_of": type_of,
        "arrow_of": {
            p[0]: _arrow_field(spark, by_name[p[0]]) for p in flat
        },
        "blob_of": {
            c: f"__b{scan_cols.index(c)}"
            for c in dict.fromkeys(p[0] for p in flat)
        },
    }
    return scan, [by_name[c] for c in cols], fplan


def _arrow_field(spark, field: T.StructField) -> pa.DataType:
    from fhirflat_spark.decode import _arrow_types

    return _arrow_types(spark, T.StructType([field]))[0]


_RADIX_CAP = 1 << 62  # mixed-radix group ids stay clear of int64 overflow


def _group_ids(codes_l: list[np.ndarray], keys_l: list[pa.Array],
               radix_cap: int, weights: np.ndarray | None = None):
    """One chunk's group columns -> ``(ids, uniq, cnts, keys)``.

    Each column's ``_codes_keys`` stream (code -1 = NULL, shifted +1)
    is one digit of a mixed-radix int64 id per row. ``uniq`` holds the
    sorted distinct ids, ``cnts`` their row counts and ``keys`` one
    array per column with the group values aligned to ``uniq`` — values
    are touched once per distinct tuple, never once per row. Distinct
    ids come from ``np.bincount`` when the radix product is at most the
    row count, from ``np.unique`` otherwise. A product at or above
    ``radix_cap`` (int64 overflow) uniques the code tuples row-wise
    instead; ``ids`` are then their dense ranks — same groups, slower.
    ``weights`` gives each code position a row count (``_run_codes``:
    one position per run), which ``cnts`` then sums."""
    radices = [len(k) + 1 for k in keys_l]
    prod = math.prod(radices)
    if prod >= radix_cap:
        tup, ids = np.unique(np.stack(codes_l, axis=1), axis=0,
                             return_inverse=True)
        ids = ids.reshape(-1)
        cnts = np.bincount(ids, weights)
        uniq, digits = np.arange(len(cnts)), tup.T
    else:
        ids = codes_l[0] + 1
        for cds, r in zip(codes_l[1:], radices[1:]):
            ids = ids * r + (cds + 1)
        if prod <= len(ids):
            cnts = np.bincount(ids, weights, minlength=prod)
            uniq = np.flatnonzero(cnts)
            cnts = cnts[uniq]
        else:
            uniq, inv = np.unique(ids, return_inverse=True)
            cnts = np.bincount(inv.reshape(-1), weights)
        digits, rem = [], uniq
        for r in reversed(radices):
            digits.append(rem % r - 1)  # back to -1 = NULL
            rem = rem // r
        digits.reverse()
    keys = [k.take(pa.array(d, mask=d < 0)) for d, k in zip(digits, keys_l)]
    return ids, uniq, cnts.astype(np.int64, copy=False), keys


def _chunk_groups(batches, fplan: dict, ats: list[pa.DataType],
                  radix_cap: int, runs: bool = False):
    """Per chunk with matching rows of a ``_plan_scan`` frame: yields
    ``(batch, i, m, _group_ids(...))`` over the group blobs ``__b0..``
    (one per Arrow type in ``ats``), row-masked by the where plan ``m``
    (None = every row). A chunk that predates a group column gives it
    an all-NULL digit. ``runs`` (counting only): an unmasked single
    rle or constant column groups its runs, weighted by their lengths,
    instead of one code per row — ``ids`` then index runs, not rows."""
    from fhirflat_spark.decode import _blob_view

    for batch in batches:
        nrs = batch.column("n_rows")
        for i in range(batch.num_rows):  # chunk granularity (~16k rows)
            n = nrs[i].as_py()
            m = _chunk_mask(fplan, batch, i, n) if n else "skip"
            if isinstance(m, str):  # empty chunk or all-miss mask
                continue
            codes_l, keys_l, w = [], [], None
            for j, at in enumerate(ats):
                blobs = batch.column(f"__b{j}")
                if not blobs[i].is_valid:
                    cds = np.full(n, -1, dtype=np.int64)
                    kys = pa.array([], type=at)
                else:
                    blob = _blob_view(blobs, i)
                    rc = (_run_codes(blob)
                          if runs and m is None and len(ats) == 1 else None)
                    cds, kys = rc[:2] if rc else _codes_keys(blob)
                    w = rc[2] if rc else None
                if isinstance(kys, pa.ChunkedArray):
                    kys = kys.combine_chunks()
                codes_l.append(cds if m is None else cds[m])
                keys_l.append(kys.cast(at))
            yield batch, i, m, _group_ids(codes_l, keys_l, radix_cap, w)


def _merge_parts(parts: list[pa.Table], kn: list[str],
                 ats: list[pa.DataType], aggs: list[tuple]):
    """Task-wide merge of per-chunk partials: group on the key columns
    ``kn`` and fold each ``(column, arrow agg, type)`` of ``aggs``.
    ``min_count=1`` keeps SQL semantics: an all-NULL sum stays NULL."""
    import pyarrow.compute as pc

    opts = pc.ScalarAggregateOptions(min_count=1)
    merged = pa.concat_tables(parts).group_by(
        kn, use_threads=False
    ).aggregate([(c, fn, opts) for c, fn, _ in aggs])
    return pa.RecordBatch.from_arrays(
        [merged.column(k).combine_chunks().cast(at)
         for k, at in zip(kn, ats)]
        + [merged.column(f"{c}_{fn}").combine_chunks().cast(t)
           for c, fn, t in aggs],
        names=kn + [c for c, _, _ in aggs],
    )


def _group_by(scan, kernel, gfields: list[T.StructField],
              cols: list[str], tail: list[T.StructField],
              aggs: list) -> DataFrame:
    """Run ``kernel`` over the chunk scan — it emits key columns
    ``k0..`` then the ``tail`` fields, one row per group per task — and
    merge the partials with one Catalyst groupBy; the keys come back
    named ``cols``."""
    if not cols:
        raise ValueError("encoded GROUP BY needs at least one group column")
    kn = [f"k{j}" for j in range(len(cols))]
    partial = T.StructType(
        [T.StructField(k, f.dataType, True) for k, f in zip(kn, gfields)]
        + tail
    )
    merged = scan(kernel, partial).groupBy(*kn).agg(*aggs)
    return merged.toDF(*cols, *merged.columns[len(kn):])


def group_count_encoded(spark: SparkSession, out_dir: str,
                        column: str | list[str],
                        snapshot: int | str | None = None,
                        where=None) -> DataFrame:
    """``SELECT column(s), COUNT(*) AS cnt FROM dataset [WHERE ...]
    GROUP BY ...`` computed on the encoded chunks — dict/rle/constant
    chunks never materialize a row's value (see module docstring).
    Exact, including the NULL group(s). A single column is the 1-tuple
    case: per chunk the per-column code streams combine into one
    mixed-radix id (:func:`_group_ids`), so the distinct work is
    O(rows) integer ops + O(distinct tuples) value touches. ``where``
    pushes predicates down the zone → Bloom → dictionary-domain
    row-mask tower (see ``_plan_scan``); exactness is validated up
    front since no residual re-check exists."""
    cols = [column] if isinstance(column, str) else list(column)
    return _group_count_multi(spark, out_dir, cols, snapshot, where=where)


def _group_count_multi(spark: SparkSession, out_dir: str,
                       cols: list[str], snapshot,
                       radix_cap: int = _RADIX_CAP,
                       where=None) -> DataFrame:
    """:func:`group_count_encoded` over a list of group columns; a low
    ``radix_cap`` forces the overflow fallback of :func:`_group_ids`."""
    scan, gfields, fplan = _plan_scan(spark, out_dir, cols, snapshot,
                                      where=where)
    ats = [_arrow_field(spark, f) for f in gfields]
    kn = [f"k{j}" for j in range(len(cols))]

    def kernel(batches):
        parts = [
            pa.table(dict(zip(kn, keys)) | {"cnt": cnts})
            for *_, (_ids, _uniq, cnts, keys)
            in _chunk_groups(batches, fplan, ats, radix_cap, runs=True)
        ]
        if parts:
            yield _merge_parts(parts, kn, ats, [("cnt", "sum", pa.int64())])

    return _group_by(scan, kernel, gfields, cols,
                     [T.StructField("cnt", T.LongType(), False)],
                     [F.sum("cnt").alias("cnt")])


_BUCKET_US = {
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 7 * 86_400_000_000,
}
# date_trunc('week') starts Monday; 1970-01-01 was a Thursday, so week
# buckets anchor 3 days BEFORE the epoch (both Spark and DuckDB agree)
_WEEK_ANCHOR_US = -3 * 86_400_000_000


def group_timebucket_encoded(spark: SparkSession, out_dir: str,
                             ts_col: str, bucket: str = "day",
                             snapshot: int | str | None = None,
                             where=None) -> DataFrame:
    """``SELECT date_trunc(bucket, ts) AS bucket, COUNT(*) AS cnt FROM
    dataset [WHERE ...] GROUP BY 1`` computed on the encoded chunks —
    the ad-hoc time-series histogram (events per day/hour) without a
    rollup table. Each task reads ONLY the timestamp column's chunk
    bytes, floor-divides the epoch-micros view by the bucket width
    (week buckets anchor to the epoch's preceding Monday, matching
    ``date_trunc``), and emits per-bucket partials — the exchange
    carries |tasks|×|buckets| rows at any table size. NULL timestamps
    group under the NULL bucket (SQL ``date_trunc(NULL) = NULL``).

    Restricted to TimestampNTZType columns: the session-tz
    TimestampType truncates in wall-clock space, which is session
    state, not data — use a rollup with an explicit zone instead.
    ``where`` composes exactly like every other encoded aggregate
    (zones → Bloom → row masks; ``_plan_scan``)."""
    if bucket not in _BUCKET_US:
        raise ValueError(
            f"bucket {bucket!r}: expected one of {sorted(_BUCKET_US)} "
            "(fixed-width buckets only — months vary)"
        )
    step = _BUCKET_US[bucket]
    anchor = _WEEK_ANCHOR_US if bucket == "week" else 0
    scan, (tfield,), fplan = _plan_scan(spark, out_dir, [ts_col],
                                        snapshot, where=where)
    if not isinstance(tfield.dataType, T.TimestampNTZType):
        raise ValueError(
            f"time-bucket column {ts_col!r} "
            f"({tfield.dataType.simpleString()}): only TIMESTAMP_NTZ "
            "buckets are engine-neutral (session-tz timestamps truncate "
            "in session wall-clock space)"
        )
    at = _arrow_field(spark, tfield)
    out_pa = pa.schema([pa.field("b", at), pa.field("cnt", pa.int64())])

    def kernel(batches):
        from fhirflat_spark.decode import _blob_view

        agg: dict[int, int] = {}
        null_cnt = 0
        for batch in batches:
            nrs = batch.column("n_rows")
            blobs = batch.column("__b0")
            for i in range(batch.num_rows):
                n = nrs[i].as_py()
                m = _chunk_mask(fplan, batch, i, n)
                if isinstance(m, str):
                    continue
                if not blobs[i].is_valid:  # chunk predates the column
                    null_cnt += n if m is None else int(m.sum())
                    continue
                arr = decode_array(_blob_view(blobs, i))
                if arr.type != at:
                    arr = arr.cast(at)
                if m is not None:
                    arr = arr.filter(pa.array(m))
                null_cnt += arr.null_count
                if arr.null_count:
                    arr = arr.drop_null()
                if not len(arr):
                    continue
                micros = arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
                bk = np.floor_divide(micros - anchor, step) * step + anchor
                u, c = np.unique(bk, return_counts=True)
                for b_, c_ in zip(u.tolist(), c.tolist()):
                    agg[b_] = agg.get(b_, 0) + int(c_)
        if not agg and not null_cnt:
            return
        ks = sorted(agg)
        kcol = pa.array(ks, type=pa.int64()).cast(at)
        ccol = pa.array([agg[k] for k in ks], type=pa.int64())
        if null_cnt:
            kcol = pa.concat_arrays([kcol, pa.nulls(1, type=at)])
            ccol = pa.concat_arrays(
                [ccol, pa.array([null_cnt], type=pa.int64())]
            )
        yield pa.RecordBatch.from_arrays([kcol, ccol], schema=out_pa)

    partial = T.StructType([
        T.StructField("b", tfield.dataType, True),
        T.StructField("cnt", T.LongType(), False),
    ])
    partials = scan(kernel, partial)
    return (
        partials.groupBy("b").agg(F.sum("cnt").alias("cnt"))
        .withColumnRenamed("b", "bucket")
    )


def _check_integral(vfield: T.StructField, value_col: str) -> None:
    if not isinstance(vfield.dataType,
                      (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        raise ValueError(
            f"value column {value_col!r} is "
            f"{vfield.dataType.simpleString()} — integral columns only "
            "(float partial sums are not bit-exact)"
        )


def group_agg_encoded(spark: SparkSession, out_dir: str,
                      group_col: str | list[str],
                      value_col: str,
                      snapshot: int | str | None = None,
                      where=None) -> DataFrame:
    """``SELECT g, COUNT(*), COUNT(v), SUM(v), MIN(v), MAX(v) GROUP BY
    g`` with the GROUP side kept in the encoded domain (codes, not
    values) and the value column decoded once per chunk. Output columns:
    ``group_col(s), cnt, count_{v}, sum_{v}, min_{v}, max_{v}`` —
    ``count_{v}`` is the NON-NULL value count (AVG's denominator;
    ``cnt`` counts rows). One or more group columns group on the tuple
    (mixed-radix combined codes, as in :func:`group_count_encoded`).

    ``value_col`` is integral — int64 partial sums stay bit-exact
    under re-aggregation (the same reason manifest col_sums track only
    integer columns; float partial sums drift) — or a string, where
    the aggregate is ``cnt, COUNT, MIN, MAX`` with no SUM
    (binary-collated string min/max re-aggregates exactly; arrow's
    byte-wise UTF-8 comparison equals Spark's). ``where`` as in
    :func:`group_count_encoded`."""
    gcols = [group_col] if isinstance(group_col, str) else list(group_col)
    return _group_agg_multi(spark, out_dir, gcols, value_col, snapshot,
                            where=where)


def _group_agg_multi(spark: SparkSession, out_dir: str, gcols: list[str],
                     value_col: str, snapshot,
                     radix_cap: int = _RADIX_CAP, where=None) -> DataFrame:
    """:func:`group_agg_encoded` over a list of group columns: Arrow's
    hash aggregate runs over each chunk's combined group ids (small
    ints), and the distinct tuples materialize once per chunk, never
    per row. A low ``radix_cap`` forces :func:`_group_ids`' fallback."""
    scan, fields, fplan = _plan_scan(spark, out_dir, gcols + [value_col],
                                     snapshot, where=where)
    gfields, vfield = fields[:-1], fields[-1]
    is_str = isinstance(vfield.dataType, T.StringType)
    if not is_str:
        _check_integral(vfield, value_col)
    ats = [_arrow_field(spark, f) for f in gfields]
    vat, vst = ((pa.string(), vfield.dataType) if is_str
                else (pa.int64(), T.LongType()))
    # (arrow per-chunk agg, arrow merge agg, arrow type, spark type,
    # spark merge agg) per value aggregate; "count" is COUNT(v)
    vaggs = [("count", "sum", pa.int64(), T.LongType(), F.sum)]
    if not is_str:
        vaggs.append(("sum", "sum", pa.int64(), T.LongType(), F.sum))
    vaggs += [("min", "min", vat, vst, F.min), ("max", "max", vat, vst, F.max)]
    kn = [f"k{j}" for j in range(len(gcols))]

    def kernel(batches):
        from fhirflat_spark.decode import _blob_view

        parts: list[pa.Table] = []
        for batch, i, m, (ids, uniq, cnts, keys) in _chunk_groups(
            batches, fplan, ats, radix_cap
        ):
            vblobs = batch.column(f"__b{len(gcols)}")
            if vblobs[i].is_valid:
                vals = decode_array(_blob_view(vblobs, i)).cast(vat)
                if m is not None:
                    vals = vals.filter(pa.array(m))
            else:  # chunk predates the value column: all NULL
                vals = pa.nulls(len(ids), type=vat)
            # ("v", "count") counts only valid values: COUNT(v)
            agg = pa.table({"g": pa.array(ids), "v": vals}).group_by(
                "g", use_threads=False
            ).aggregate([("v", fn) for fn, *_ in vaggs])
            pos = np.searchsorted(uniq, agg.column("g").to_numpy())
            parts.append(pa.table(
                {k: key.take(pa.array(pos)) for k, key in zip(kn, keys)}
                | {"cnt": cnts[pos]}
                | {f"v_{fn}": agg.column(f"v_{fn}").cast(t)
                   for fn, _, t, _, _ in vaggs}
            ))
        if parts:
            yield _merge_parts(
                parts, kn, ats,
                [("cnt", "sum", pa.int64())]
                + [(f"v_{fn}", mfn, t) for fn, mfn, t, _, _ in vaggs],
            )

    return _group_by(
        scan, kernel, gfields, gcols,
        [T.StructField("cnt", T.LongType(), False)]
        + [T.StructField(f"v_{fn}", st, fn != "count")
           for fn, _, _, st, _ in vaggs],
        [F.sum("cnt").alias("cnt")]
        + [sagg(f"v_{fn}").alias(f"{fn}_{value_col}")
           for fn, _, _, _, sagg in vaggs],
    )


def group_avg_encoded(spark: SparkSession, out_dir: str,
                      group_col: str | list[str], value_col: str,
                      snapshot: int | str | None = None,
                      where=None) -> DataFrame:
    """``SELECT g, AVG(v) GROUP BY g`` from the encoded domain. Exact
    SQL AVG semantics via the exact integer partials: the int64 SUM and
    the non-null COUNT from :func:`group_agg_encoded` re-aggregate
    bit-exactly, and the single final division ``sum / count`` is one
    IEEE-754 double op — deterministic and engine-identical (unlike a
    double RUNNING sum, whose value depends on accumulation order).
    All-NULL groups yield NULL (NULL sum propagates through the
    division). Output: ``group_col(s), count_{v}, avg_{v}``."""
    from fhirflat_spark.manifest import read_summary

    summary = read_summary(spark, out_dir)
    full = T.StructType.fromJson(json.loads(summary["spark_schema"]))
    if value_col in {f.name for f in full.fields}:
        _check_integral(full[value_col], value_col)  # strings have no SUM
    agg = group_agg_encoded(spark, out_dir, group_col, value_col,
                            snapshot=snapshot, where=where)
    gcols = [group_col] if isinstance(group_col, str) else list(group_col)
    return agg.select(
        *gcols,
        F.col(f"count_{value_col}"),
        (F.col(f"sum_{value_col}").cast("double")
         / F.col(f"count_{value_col}")).alias(f"avg_{value_col}"),
    )


def group_count_distinct_encoded(spark: SparkSession, out_dir: str,
                                 group_col: str, distinct_col: str,
                                 snapshot: int | str | None = None,
                                 where=None) -> DataFrame:
    """``SELECT g, COUNT(DISTINCT d) AS cntd_{d} FROM dataset GROUP BY
    g`` — exact, from the encoded domain: the distinct (g, d) pairs fall
    out of the tuple group-count (unique combined codes per chunk), so
    the shuffle carries distinct pairs, never rows; the final count is a
    Catalyst aggregate over that pair set. NULL d values don't count
    (SQL COUNT(DISTINCT) semantics); a NULL group still appears."""
    pairs = group_count_encoded(
        spark, out_dir, [group_col, distinct_col], snapshot, where=where
    )
    return pairs.groupBy(group_col).agg(
        F.sum(
            F.when(F.col(distinct_col).isNotNull(), 1).otherwise(0)
        ).cast("long").alias(f"cntd_{distinct_col}")
    )


def group_topk_encoded(spark: SparkSession, out_dir: str, group_col: str,
                       value_col: str, k: int,
                       snapshot: int | str | None = None,
                       where=None) -> DataFrame:
    """Top-``k`` most frequent ``value_col`` values per ``group_col``
    (ties broken by value ascending, NULL first — deterministic).
    Composes on the encoded pair counts, so the heavy lifting is the
    same code-stream work as :func:`group_count_encoded`; the window
    ranks |distinct pairs| rows, never the table."""
    from pyspark.sql import Window

    pairs = group_count_encoded(
        spark, out_dir, [group_col, value_col], snapshot, where=where
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("cnt").desc(), F.col(value_col).asc_nulls_first()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= int(k)).drop("rn")
    )


def _topk_zone_threshold(out_dir: str, order_col: str, k: int,
                         snapshot, descending: bool,
                         preds: list[list[tuple]] | None = None):
    """A sound metadata-only bound for global top-``k``: every non-null
    row in a chunk is >= its zone min (string zone mins are truncated
    PREFIXES of the true min, still valid lower bounds), so walking the
    chunks by zone-min descending and accumulating non-null row counts
    until >= ``k`` yields a threshold tau with a GUARANTEED k rows at or
    above it — `order_col >= tau` can then prune every other chunk
    without losing a top-k row. Ascending mirrors via zone maxes.

    Returns None (caller falls back to an exact full scan) whenever the
    guarantee cannot be made: active row-level deletes (fragment counts
    are physical, the view is logical), any chunk with values but no
    zone (NaN-poisoned float / unsupported type / pre-zone format), any
    chunk predating stats-v2 null counts, or < k non-null rows total.

    With ``preds`` (a normalized CNF WHERE), only chunks where EVERY
    clause is metadata-entailed (:func:`_clause_entails_chunk` — all
    rows provably satisfy it) may count toward the k-row guarantee;
    partially-matching chunks contribute nothing but are still scanned,
    so tau stays sound: >= k WHERE-matching rows at-or-beyond tau are
    proven to exist before anything is pruned."""
    preds = _normalize_where(preds)  # idempotent — accepts flat or CNF
    from fhirflat_spark.manifest import load_fragments, table_view

    view = table_view(out_dir, snapshot)
    if view.deletes:
        return None
    try:
        rows = load_fragments(f"{out_dir}/manifest_parts")
    except FileNotFoundError:
        return None
    idset = set(view.part_ids)
    rows = [r for r in rows if r["part_id"] in idset]
    bounds = []  # (guaranteed bound, non-null rows) per chunk
    for c in rows:
        if "nulls" not in c:
            return None
        nonnull = c["n_rows"] - c["nulls"].get(order_col, c["n_rows"])
        zone = (c.get("zones") or {}).get(order_col)
        if zone is None:
            if nonnull:
                return None  # values exist but unbounded — unsafe
            continue
        if preds and not all(_clause_entails_chunk(cl, c) for cl in preds):
            continue  # can't prove its rows match — no guarantee credit
        bounds.append((zone[0] if descending else zone[1], nonnull))
    bounds.sort(key=lambda b: b[0], reverse=descending)
    acc = 0
    for bound, nonnull in bounds:
        acc += nonnull
        if acc >= k:
            return bound
    return None  # fewer than k non-null rows — nulls may reach the top-k


def topk_rows_encoded(spark: SparkSession, out_dir: str, order_col: str,
                      k: int, tiebreak_col: str,
                      columns: list[str] | None = None,
                      snapshot: int | str | None = None,
                      descending: bool = True,
                      where=None) -> DataFrame:
    """Global ``ORDER BY order_col [DESC] LIMIT k`` that derives a sound
    threshold tau from per-chunk zone metadata (:func:`_topk_zone_threshold`,
    zero data IO) and scans through the named source with
    ``order_col >= tau`` pushed down — partition zones, chunk zones and
    dictionary-domain row masks skip everything that cannot hold a
    top-k row, and Spark re-applies the exact residual. When no sound
    tau exists (deletes, NaN-poisoned zones, < k non-null rows) the
    same scan runs unfiltered — exact either way, just unpruned.

    ``tiebreak_col`` makes the result deterministic; NULL ``order_col``
    rows sort LAST in both directions (coherent with the threshold
    guarantee, which counts non-null rows — with >= k non-null rows a
    NULL can never be a top-k row). The sort itself is Spark's
    distributed TakeOrderedAndProject over only the surviving rows.

    ``where`` (same conjunctive mini-language as the encoded
    aggregates: (col, op, value) with op in eq/lt/le/gt/ge/in/sw/nu/nn)
    composes: the predicate is applied as an exact Spark residual (and
    pushed into the source for zone/Bloom/row-mask pruning), while tau
    only counts chunks whose rows PROVABLY all match, so threshold
    pruning stays sound under filters. Unlike the residual-free
    encoded aggregates, any Spark-coercible literal is accepted."""
    from fhirflat_spark.decode import _check_version
    from fhirflat_spark.manifest import read_summary, table_view
    from fhirflat_spark.sources.datasource import register

    summary = read_summary(spark, out_dir)
    _check_version(summary)
    all_cols = summary["columns"]
    out_cols = list(columns) if columns is not None else list(all_cols)
    preds = _normalize_where(where)
    for c in {order_col, tiebreak_col, *out_cols,
              *(p[0] for p in _flat_preds(preds))}:
        if c not in all_cols:
            raise ValueError(f"column {c!r} not in dataset columns {all_cols}")
    view = table_view(out_dir, snapshot)
    full = T.StructType.fromJson(json.loads(summary["spark_schema"]))
    otype = {f.name: f.dataType for f in full.fields}[order_col]
    tau = (
        _topk_zone_threshold(out_dir, order_col, int(k), view, descending,
                             preds)
        # zones survive the JSON round-trip comparably for exactly the
        # integral + string types (the row-level pushdown exactness set);
        # other types fall back to the unfiltered exact scan
        if isinstance(otype, (T.ByteType, T.ShortType, T.IntegerType,
                              T.LongType, T.StringType))
        else None
    )

    register(spark)
    reader = spark.read.format("fhirflat").option("path", out_dir)
    if view.version is not None:
        # the source reads the version the threshold was computed on
        reader = reader.option("snapshot", str(view.version))
    scan_cols = list(dict.fromkeys(
        [*out_cols, order_col, tiebreak_col,
         *(p[0] for p in _flat_preds(preds))]
    ))
    if len(scan_cols) < len(all_cols):
        reader = reader.option("columns", ",".join(scan_cols))
    df = reader.load()
    for e in _where_exprs(preds):
        df = df.where(e)
    if tau is not None:
        df = df.where(
            F.col(order_col) >= F.lit(tau) if descending
            else F.col(order_col) <= F.lit(tau)
        )
    order = (
        F.col(order_col).desc_nulls_last() if descending
        else F.col(order_col).asc_nulls_last()
    )
    return (
        df.orderBy(order, F.col(tiebreak_col).asc_nulls_first())
        .limit(int(k)).select(*out_cols)
    )


def _partition_tiers(view, preds: list[list[tuple]], type_of: dict):
    """Classify a view's partitions for a filtered aggregate: returns
    ``(entailed, straddle, meta)`` where
    ``entailed`` partitions' manifest rollups (col_zones + col_nulls)
    prove EVERY physical row matches the CNF where — their contribution
    comes from metadata with zero data IO, the filtered analog of
    :func:`manifest.aggregate_from_metadata` — and ``straddle`` must be
    scanned. Partitions zone-proven to have NO matching row appear in
    neither list. ``meta[pid] = (rows, zones, nulls, sums)`` (sums may
    be ``None``). Entailment is conservative (floats, missing stats,
    pre-v2 partitions decline to the scan tier), so this affects IO,
    never answers. The caller is responsible for the active-delete
    refusal (physical rollups vs logical view)."""
    import json as _json

    from fhirflat_spark.maintenance import _entails_partition
    from fhirflat_spark.manifest import prune_part_ids_by_zones

    t = view.manifest
    names = t.schema.names
    meta = {}
    for i in range(t.num_rows):
        pid = int(t["part_id"][i].as_py())
        zj = t["col_zones"][i].as_py() if "col_zones" in names else None
        nj = t["col_nulls"][i].as_py() if "col_nulls" in names else None
        sj = t["col_sums"][i].as_py() if "col_sums" in names else None
        meta[pid] = (
            int(t["rows"][i].as_py()),
            _json.loads(zj) if zj else {},
            _json.loads(nj) if nj is not None else None,
            _json.loads(sj) if sj is not None else None,
        )
    cand = prune_part_ids_by_zones(t, sorted(meta), _where_zones(preds),
                                   type_of)
    entailed, straddle = [], []
    for pid in cand:
        n_rows, zones, nulls, _sums = meta[pid]
        if n_rows == 0:
            continue
        if all(any(_entails_partition(p, n_rows, zones, nulls,
                                      type_of.get(p[0]))
                   for p in cl) for cl in preds):
            entailed.append(pid)
        else:
            straddle.append(pid)
    return entailed, straddle, meta


def count_encoded(spark: SparkSession, out_dir: str, where=None,
                  snapshot: int | str | None = None,
                  report: dict | None = None) -> int:
    """``SELECT COUNT(*) FROM dataset [WHERE ...]`` — with no filter
    this is pure chunk-header arithmetic (n_rows column; zero payload
    IO, like ``aggregate_from_metadata`` but snapshot-scoped through
    the same scan plan); with a filter, three tiers: partitions whose
    manifest rollups ENTAIL the predicate count from metadata (zero
    chunk IO), zone-missed partitions contribute nothing, and only
    straddlers read their predicate columns' bytes for the mask
    popcount. Pass a dict as ``report`` to observe the split
    (parts_metadata / parts_scanned / rows_metadata). Returns a
    Python int (the partial frame is |tasks| rows)."""
    scan, _, fplan = _plan_scan(spark, out_dir, [], snapshot, where=where)
    total = 0
    if fplan["preds"]:
        # _plan_scan validated everything (version, nested cols, literal
        # exactness) and refused active deletes — the metadata tier
        # below is only sound after that refusal
        view = fplan["view"]
        entailed, straddle, meta = _partition_tiers(view, fplan["preds"],
                                                    fplan["type_of"])
        total = sum(meta[p][0] for p in entailed)
        if report is not None:
            report.update(
                parts_metadata=len(entailed), parts_scanned=len(straddle),
                rows_metadata=total,
            )
        if not straddle:
            return total
        scan, _, fplan = _plan_scan(spark, out_dir, [], view,
                                    where=where, only_part_ids=straddle)

    def kernel(batches):
        total = 0
        for batch in batches:
            nrs = batch.column("n_rows")
            for i in range(batch.num_rows):
                n = nrs[i].as_py()
                m = _chunk_mask(fplan, batch, i, n)
                if isinstance(m, str):
                    continue
                total += n if m is None else int(m.sum())
        yield pa.RecordBatch.from_arrays(
            [pa.array([total], type=pa.int64())], names=["c"]
        )

    partials = scan(kernel, T.StructType([T.StructField("c", T.LongType())]))
    row = partials.agg(F.sum("c").alias("c")).collect()[0]
    return total + int(row["c"] or 0)


def sum_encoded(spark: SparkSession, out_dir: str, value_col: str,
                where=None,
                snapshot: int | str | None = None,
                report: dict | None = None) -> int | None:
    """``SELECT SUM(v) FROM dataset [WHERE ...]`` for an integral
    column — the value column decodes once per chunk (skipped entirely
    for zone/Bloom/row-mask-missed chunks), everything else stays
    unread. With a filter, partitions whose manifest rollups ENTAIL the
    predicate contribute their stats-v2 ``col_sums`` rollup with zero
    chunk IO (demoted to the scan tier when the sum rollup is absent
    for a partition with real values); only straddlers decode. Returns
    None for the SQL all-NULL/empty case."""
    scan, (vfield,), fplan = _plan_scan(spark, out_dir, [value_col],
                                        snapshot, where=where)
    _check_integral(vfield, value_col)
    meta_total, meta_seen = 0, 0
    if fplan["preds"]:
        view = fplan["view"]
        entailed, straddle, meta = _partition_tiers(view, fplan["preds"],
                                                    fplan["type_of"])
        for pid in list(entailed):
            n_rows, _zones, nulls, sums = meta[pid]
            nonnull = n_rows - (nulls or {}).get(value_col, n_rows)
            if nonnull == 0:
                continue  # no values: contributes nothing, stays free
            if sums is None or value_col not in sums:
                # values exist but no sum rollup — scan this partition
                entailed.remove(pid)
                straddle.append(pid)
                continue
            meta_total += int(sums[value_col])
            meta_seen += 1
        if report is not None:
            report.update(
                parts_metadata=len(entailed), parts_scanned=len(straddle),
                sum_metadata=meta_total if meta_seen else None,
            )
        if not straddle:
            return meta_total if meta_seen else None
        scan, (vfield,), fplan = _plan_scan(
            spark, out_dir, [value_col], view, where=where,
            only_part_ids=straddle,
        )

    def kernel(batches):
        import pyarrow.compute as pc

        from fhirflat_spark.decode import _blob_view

        total = 0
        seen = 0
        for batch in batches:
            nrs = batch.column("n_rows")
            blobs = batch.column("__b0")
            for i in range(batch.num_rows):
                n = nrs[i].as_py()
                m = _chunk_mask(fplan, batch, i, n)
                if isinstance(m, str) or not blobs[i].is_valid:
                    continue
                vals = decode_array(_blob_view(blobs, i)).cast(pa.int64())
                if m is not None:
                    vals = vals.filter(pa.array(m))
                s = pc.sum(vals, min_count=1).as_py()
                if s is not None:
                    total += s
                    seen += 1
        yield pa.RecordBatch.from_arrays(
            [pa.array([total if seen else None], type=pa.int64())],
            names=["s"],
        )

    partials = scan(kernel, T.StructType([T.StructField("s", T.LongType())]))
    row = partials.agg(F.sum("s").alias("s")).collect()[0]
    if row["s"] is None:
        return meta_total if meta_seen else None
    return meta_total + int(row["s"])


def distinct_encoded(spark: SparkSession, out_dir: str, column: str,
                     snapshot: int | str | None = None,
                     where=None) -> DataFrame:
    """``SELECT DISTINCT column`` from the encoded domain — the value
    bytes are touched once per distinct (dictionary / run values), never
    once per row."""
    return group_count_encoded(
        spark, out_dir, column, snapshot, where=where
    ).select(column)
