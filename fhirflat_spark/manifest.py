"""Per-partition encode manifest + dataset summary — the lineage layer.

The analog of the reference's dataset bundle metadata: ``fhirflat.toml``
(row count, generator version, checksum-of-checksums) + ``sha256sums.txt``
(per-file sha256), reference fhirflat/ingest.py:381-432. Here the unit of
lineage is the *partition*: codec choices, sizes, row counts, and a
content checksum per partition, all queryable as a parquet table — which
is what makes encode runs checkpoint-resumable (skip partitions the head
snapshot lists, re-encode the rest).

Readers plan from ONE resolved view (:func:`table_view`): a snapshot
version, that immutable ``snapshots/v{N}`` manifest and its active
delete entries. ``manifest/manifest.parquet`` is an advisory copy of
the head, written by every commit for on-disk compatibility; no reader
plans from it.

Scale note: manifest cardinality is #partitions (+#chunks while being
aggregated) — input_rows/8192 chunks, so ~1/10^4 of the data. It is
aggregated driver-side from the task-committed manifest fragments
(payload blobs never read).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from collections import defaultdict
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhirflat_spark import fsio

MANIFEST_VERSION = 2  # v2: payload = struct<__c{i}: binary> (was map<string,binary>)

# Dataset layout epoch — bump whenever codec selection, chunking, bucket
# placement, or hashing changes the bytes a given input encodes to (the
# same changes that re-pin tests/golden_manifest_sha.txt). Cache layers
# key on this so a format change can never silently reuse stale data.
FORMAT_VERSION = 4  # v4: kernel rebatcher — chunk geometry independent of
#     source row-group layout; fsst tile-pair format (round 4)

MANIFEST_ARROW_SCHEMA = pa.schema(
    [
        ("part_id", pa.int32()),
        ("n_chunks", pa.int32()),
        ("rows", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("encoded_bytes", pa.int64()),
        ("partition_sha", pa.string()),
        ("repo_min", pa.string()),
        ("repo_max", pa.string()),
        ("status", pa.string()),
        # per-partition column zones (JSON {col: [zmin, zmax]}), present
        # only when EVERY chunk in the partition recorded bounds for the
        # column — a chunk without bounds can hold anything, so a partial
        # aggregate could not prune safely. NULL on pre-zone datasets.
        ("col_zones", pa.string()),
        # stats v2 (NULL on datasets whose chunks predate it): JSON
        # {col: null_count} / {col: value_sum, integer columns only}.
        # A column ABSENT from the nulls map is all-null in this
        # partition (its chunks predate the column) — distinct from the
        # whole column being NULL, which means "not tracked".
        ("col_nulls", pa.string()),
        ("col_sums", pa.string()),
        # per-partition merged HLL registers (JSON {col: hex}) for
        # ndv_columns datasets; NULL = untracked (pre-ndv chunks or no
        # sketched columns). Register-wise max merge is exact.
        ("col_hlls", pa.string()),
        # per-partition merged DDSketch quantile sketches (JSON
        # {col: {z,po,pc,no,nc}}) for quantile_columns datasets; NULL =
        # untracked. Bucket-count addition merge is exact.
        ("col_ddqs", pa.string()),
    ]
)


class CommitConflictError(RuntimeError):
    """Another writer committed a snapshot between this commit's read of
    the current version and its attempt to publish the next one. The
    in-flight commit published NOTHING (the versioned manifest is
    created exclusively); the winner's SNAPSHOT is intact. Metadata-only
    commits (delete_rows, delete_rows_at, commit_partition_drop,
    commit_stats_update, rollback) retry internally and raise this only
    after 10 straight lost races; data commits surface it at once
    because their partition placement was planned on a stale snapshot.
    Seeing this from an append means the single-data-writer contract
    was violated (SCALE.md): run ``verify_table`` —
    partition checksums flag any chunk files the losing write left in
    partitions the winner committed — then re-run the append."""


def _local(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


def load_fragments(frag_dir: str) -> list[dict]:
    """Merge task-committed manifest fragments (one json per partition).

    Scheme-agnostic via :mod:`fhirflat_spark.fsio`: the task writes
    ``<part_id>.json`` atomically (rename locally, single put on an
    object store), the driver lists + merges.
    """
    rows: list[dict] = []
    for name in fsio.list_files(frag_dir, suffix=".json"):
        rows.extend(json.loads(fsio.read_bytes(f"{frag_dir}/{name}")))
    return rows


def _merge_chunk_zones(chunks: list[dict]) -> dict | None:
    """Per-partition [zmin, zmax] per column from the chunks' recorded
    zones — a column survives only if EVERY chunk bounded it (a chunk
    without bounds can hold anything, so a partial aggregate cannot
    prune safely). Fragment rows written before zones existed contribute
    nothing → the whole partition stays unbounded (conservative)."""
    zones: dict | None = None
    for i, c in enumerate(chunks):
        cz = c.get("zones")
        if not cz:
            return None
        if i == 0:
            zones = {k: list(v) for k, v in cz.items()}
            continue
        for k in list(zones):
            v = cz.get(k)
            if v is None:
                del zones[k]
                continue
            zones[k][0] = min(zones[k][0], v[0])
            zones[k][1] = max(zones[k][1], v[1])
    return zones or None


def _merge_chunk_rollups(chunks: list[dict]) -> tuple[dict | None,
                                                      dict | None]:
    """Partition-level (col_nulls, col_sums) from the chunks' stats-v2
    rollups, or (None, None) when any chunk predates them (a partial
    total would read as a wrong exact answer). A column missing from a
    chunk's nulls map is all-null there (schema evolution) and
    contributes its row count; missing from sums contributes 0."""
    if any("nulls" not in c for c in chunks):
        return None, None
    cols: set[str] = set()
    for c in chunks:
        cols.update(c["nulls"])
    nulls = {
        k: sum(c["nulls"].get(k, c["n_rows"]) for c in chunks) for k in cols
    }
    sum_cols: set[str] = set()
    for c in chunks:
        sum_cols.update(c.get("sums") or ())
    sums = {
        k: sum((c.get("sums") or {}).get(k, 0) for c in chunks)
        for k in sum_cols
    }
    return nulls, sums


def _merge_chunk_hlls(chunks: list[dict]) -> dict | None:
    """Partition-level merged NDV sketches ({col: hex}) via register-wise
    max, or None when any chunk predates sketching (its values would be
    invisible to the estimate). A column absent from a chunk's map had
    no non-null values there — contributes nothing, which is exact."""
    if any("hlls" not in c for c in chunks):
        return None
    from fhirflat_spark import ndv as _ndv

    cols: set[str] = set()
    for c in chunks:
        cols.update(c["hlls"])
    out = {}
    for k in cols:
        merged = None
        for c in chunks:
            hx = c["hlls"].get(k)
            if hx:
                merged = _ndv.hll_merge(merged, bytes.fromhex(hx))
        if merged is not None:
            out[k] = merged.hex()
    return out or None


def _merge_chunk_ddqs(chunks: list[dict]) -> dict | None:
    """Partition-level merged quantile sketches ({col: sketch dict}) via
    bucket-count addition, or None when any chunk predates sketching. A
    column absent from a chunk's map had no non-null finite values there
    — all-null contributes nothing (exact); NaN/inf poisoning is caught
    by the reader's null-count cross-check (quantiles.py)."""
    if any("ddqs" not in c for c in chunks):
        return None
    from fhirflat_spark import quantiles as _q

    cols: set[str] = set()
    for c in chunks:
        cols.update(c["ddqs"])
    out = {}
    for k in cols:
        merged = None
        for c in chunks:
            sk = c["ddqs"].get(k)
            if sk:
                merged = _q.ddq_merge(merged, sk)
        if merged is not None:
            out[k] = merged
    return out or None


def coerce_zone_bound(dt, value):
    """Coerce a zone bound / filter constant into the comparison family
    of a Spark type (zones round-trip through JSON). None = not
    comparable → callers must keep the partition (conservative).

    Temporal types compare in epoch-INT space (the unit the encode-time
    zones record): DateType = days (a ``date`` literal converts; a
    ``datetime`` literal DECLINES — its micros against day-zones would
    prune wrongly), TimestampNTZType = micros (naive ``datetime``
    converts — NTZ wall-clock is tz-free; aware literals and the
    session-tz TimestampType decline entirely: their comparison family
    is session state, not data)."""
    import datetime as _dt

    from pyspark.sql import types as T

    try:
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return int(value)
        if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
            return float(value)
        if isinstance(dt, T.StringType):
            return str(value)
        if isinstance(dt, T.DateType):
            if isinstance(value, _dt.datetime):  # datetime IS a date —
                return None                      # test it first
            if isinstance(value, _dt.date):
                return (value - _dt.date(1970, 1, 1)).days
            if isinstance(value, int) and not isinstance(value, bool):
                return int(value)
            return None
        if isinstance(dt, T.TimestampNTZType):
            if isinstance(value, _dt.datetime):
                if value.tzinfo is not None:
                    return None
                delta = value - _dt.datetime(1970, 1, 1)
                return (delta.days * 86_400 + delta.seconds) * 1_000_000 \
                    + delta.microseconds
            if isinstance(value, int) and not isinstance(value, bool):
                return int(value)
            return None
    except (TypeError, ValueError):
        return None
    return None


def prune_part_ids_by_zones(manifest: pa.Table, candidates: list[int],
                            filters: list[tuple], type_of: dict) -> list[int]:
    """Driver-side partition pruning from a snapshot manifest's
    per-partition column zones (``manifest`` = the read's
    :func:`table_view` rows): drop candidate part-ids whose recorded
    [zmin, zmax] cannot intersect EVERY ``(col, lo, hi)`` filter (lo/hi
    None = one-sided). Metadata-only — payload bytes untouched; at 10^5+
    partitions this is what keeps a selective scan from listing every
    chunk file. Ids absent from the manifest, partitions without zones
    and pre-zone manifests are KEPT — pruning is always conservative;
    chunk-level zones and the exact residual still apply downstream."""
    if "col_zones" not in manifest.schema.names:
        return candidates  # pre-zone manifest
    zones_of = dict(zip(manifest["part_id"].to_pylist(),
                        manifest["col_zones"].to_pylist()))
    keep = []
    for pid in candidates:
        z = zones_of.get(pid)
        if z is None:
            keep.append(pid)
            continue
        zones = json.loads(z)
        ok = True
        for col, lo, hi in filters:
            v = zones.get(col)
            if v is None:
                continue  # column unbounded in this partition: keep
            dt = type_of.get(col)
            zmin, zmax = coerce_zone_bound(dt, v[0]), coerce_zone_bound(dt, v[1])
            if zmin is None or zmax is None:
                continue
            clo = coerce_zone_bound(dt, lo) if lo is not None else None
            chi = coerce_zone_bound(dt, hi) if hi is not None else None
            if (clo is not None and zmax < clo) or (
                chi is not None and zmin > chi
            ):
                ok = False
                break
        if ok:
            keep.append(pid)
    return keep


def prune_part_ids_by_nulls(manifest: pa.Table, candidates: list[int],
                            checks: list[tuple]) -> list[int]:
    """Partition pruning for pushed IS [NOT] NULL predicates from the
    per-partition null rollups (stats v2 ``col_nulls``): a partition
    whose null count for ``col`` is 0 has no IS NULL rows; one whose
    null count equals its row count has no IS NOT NULL rows. Same
    conservative contract as the zone variant — missing rollups, ids
    absent from the manifest, and pre-v2 partitions are kept."""
    if "col_nulls" not in manifest.schema.names:
        return candidates
    info = {
        pid: (r, n) for pid, r, n in zip(
            manifest["part_id"].to_pylist(), manifest["rows"].to_pylist(),
            manifest["col_nulls"].to_pylist(),
        )
    }
    keep = []
    for pid in candidates:
        rec = info.get(pid)
        if rec is None or rec[1] is None:
            keep.append(pid)
            continue
        rows, nulls = int(rec[0]), json.loads(rec[1])
        ok = True
        for col, want_null in checks:
            n = nulls.get(col)
            if n is None:
                continue  # column untracked in this partition: keep
            if (want_null and n == 0) or (not want_null and n >= rows):
                ok = False
                break
        if ok:
            keep.append(pid)
    return keep


def write_manifest(spark: SparkSession, out_dir: str, meta_rows: list,
                   new_deletes: list[dict] | None = None,
                   carry_deletes: bool = True,
                   branch: str | None = None) -> dict:
    """Aggregate collected chunk-meta rows → manifest parquet + stats,
    committed as a new SNAPSHOT (Iceberg-style versioned metadata).

    Partition checksum = sha256 over that partition's chunk checksums in
    chunk order; dataset checksum = sha256 over partition checksums in
    part_id order (the checksum-of-checksums pattern of the reference's
    ``sha256sums.txt`` + ``fhirflat.toml``).

    Commit protocol (every write atomic via fsio, all through
    :func:`_commit`): (1) the immutable ``snapshots/v{N}.manifest.parquet``,
    created exclusively, (2) the current ``manifest/manifest.parquet``,
    (3) the ``snapshots/version-hint.txt`` pointer. A reader mid-commit
    sees the previous manifest or the new one, never a torn state. Chunk
    files for committed partitions are immutable (appends mint fresh part
    ids), so every retained snapshot stays readable — the basis for time
    travel and rollback.
    """
    by_part: dict[int, list] = defaultdict(list)
    for r in meta_rows:
        by_part[r["part_id"]].append(r)
    cols: dict[str, list] = defaultdict(list)
    for part_id in sorted(by_part):
        chunks = sorted(by_part[part_id], key=lambda r: r["chunk_seq"])
        h = hashlib.sha256()
        rows = raw = enc = 0
        rmin = rmax = None
        zones = _merge_chunk_zones(chunks)
        nulls, sums = _merge_chunk_rollups(chunks)
        hlls = _merge_chunk_hlls(chunks)
        ddqs = _merge_chunk_ddqs(chunks)
        for c in chunks:
            h.update(c["content_sha"].encode())
            rows += c["n_rows"]
            raw += c["raw_bytes"]
            enc += c["encoded_bytes"]
            if c["repo_min"] is not None:
                rmin = c["repo_min"] if rmin is None else min(rmin, c["repo_min"])
            if c["repo_max"] is not None:
                rmax = c["repo_max"] if rmax is None else max(rmax, c["repo_max"])
        cols["part_id"].append(part_id)
        cols["n_chunks"].append(len(chunks))
        cols["rows"].append(rows)
        cols["raw_bytes"].append(raw)
        cols["encoded_bytes"].append(enc)
        cols["partition_sha"].append(h.hexdigest())
        cols["repo_min"].append(rmin)
        cols["repo_max"].append(rmax)
        cols["status"].append("ok")
        cols["col_zones"].append(
            json.dumps(zones, separators=(",", ":")) if zones else None
        )
        cols["col_nulls"].append(
            json.dumps(nulls, separators=(",", ":"))
            if nulls is not None else None
        )
        cols["col_sums"].append(
            json.dumps(sums, separators=(",", ":"))
            if sums is not None else None
        )
        cols["col_hlls"].append(
            json.dumps(hlls, separators=(",", ":"))
            if hlls is not None else None
        )
        cols["col_ddqs"].append(
            json.dumps(ddqs, separators=(",", ":"))
            if ddqs is not None else None
        )
    table = pa.table(
        {f.name: pa.array(cols[f.name], f.type) for f in MANIFEST_ARROW_SCHEMA}
    )
    refs = _read_refs_full(out_dir)
    staged_names = [
        n for n, r in refs.items()
        if r.get("type") == "branch" and r.get("history")
    ]
    if branch is None and staged_names:
        # a main data commit is built from ALL task fragments — it would
        # swallow the staged branch's partitions into main, silently
        # publishing them. Audit-then-publish (or drop) first.
        raise ValueError(
            f"branch(es) {staged_names} have unpublished staged commits; "
            "publish_branch/drop_branch before writing to main"
        )
    bref = refs.get(branch) if branch is not None else None
    if bref is not None and bref.get("type") != "tag" and \
            bref.get("type") != "branch":
        raise ValueError(f"ref {branch!r} has unknown type")
    if bref is not None and bref.get("type") == "tag":
        raise ValueError(f"ref {branch!r} is a tag; tags are immutable")
    if branch is not None and current_snapshot(out_dir) is None:
        raise ValueError("branch staging needs an existing committed table")

    def build(_prev_table, prev):
        # a data commit carries the active row-level delete set forward
        # (deletes are snapshot state, like Iceberg's delete files
        # riding along in every new snapshot); an upsert commit also
        # adds its own scoped delete entries ATOMICALLY with the data.
        # Dedup by file name: a re-committed append (replayed batch)
        # must not stack a second copy of its own delete entry.
        # ``carry_deletes=False`` is the REPLACE commit (named-sink
        # overwrite): the table's contents are wholly this commit's
        # meta_rows, so prior delete entries — including unscoped ones
        # that would shadow the NEW rows — must not ride along.
        carried = (
            active_delete_files(out_dir, prev) if (prev and carry_deletes)
            else []
        )
        seen = {e["file"] for e in carried}
        return table, carried + [
            e for e in (new_deletes or []) if e["file"] not in seen
        ]

    # data commits do NOT auto-retry: the loser's partition placement
    # was planned against a stale snapshot, so the safe reapply is the
    # caller's own documented retry (re-run the append — it re-reads
    # table state and mints fresh part ids)
    c = _commit(out_dir, build, retry=False, branch=branch)
    return {**_manifest_totals(table), "snapshot": c.version}


# --- snapshots (Iceberg-style versioned metadata): every write_manifest
# commit leaves an immutable snapshots/v{N}.manifest.parquet plus a
# version-hint pointer. Because committed chunk partitions are never
# mutated (appends mint fresh part ids; resume only replaces partitions
# that never reached an ok snapshot), an old snapshot's part-id set is a
# consistent historical view of the table — time travel is "decode the
# part_ids that snapshot lists", rollback is "recommit an old snapshot's
# manifest as the new current", and vacuum deletes chunk partitions no
# retained snapshot references.

def _snap_dir(out_dir: str) -> str:
    return f"{out_dir}/snapshots"


def snapshot_manifest_path(out_dir: str, version: int) -> str:
    return f"{_snap_dir(out_dir)}/v{version:010d}.manifest.parquet"


def _snapshot_versions(out_dir: str) -> list[int]:
    return sorted(
        int(n[1:-len(".manifest.parquet")])
        for n in fsio.list_files(_snap_dir(out_dir), suffix=".manifest.parquet")
    )


def current_snapshot(out_dir: str) -> int | None:
    """Latest committed MAIN snapshot version (hint file, falling back
    to a listing when the hint is missing/corrupt), or None for a fresh
    dir. Snapshots staged on an unpublished branch deliberately sit
    ABOVE the hint — recovery must never adopt them, so the listing
    fallback excludes every branch-staged version (refs.json is read
    only on that rare repair path, not per lookup)."""
    hint = f"{_snap_dir(out_dir)}/version-hint.txt"
    try:
        v = int(fsio.read_bytes(hint).decode().strip())
    except (FileNotFoundError, ValueError):  # missing or torn hint only
        v = None
    versions = _snapshot_versions(out_dir)
    if versions and (v is None or v < versions[-1]):
        staged = _branch_staged_versions(out_dir)
        main = [
            x for x in versions
            if x not in staged
            and (x <= (v or 0) or not _snapshot_is_staged(out_dir, x))
        ]
        if main and (v is None or v < main[-1]):
            return main[-1]
    return v


def _next_version(out_dir: str) -> int:
    """Next GLOBAL commit version: past every snapshot in the listing
    (branch-staged ones included — versions are commit ids, lineage is
    the parent metadata) and past the hint (covers expired listings)."""
    hint = current_snapshot(out_dir) or 0
    return max([*_snapshot_versions(out_dir), hint], default=0) + 1


def read_snapshot_manifest(out_dir: str, version: int,
                           columns: list[str] | None = None) -> pa.Table:
    return fsio.read_parquet(snapshot_manifest_path(out_dir, version),
                             columns=columns)


def snapshot_part_ids(out_dir: str, version: int) -> list[int]:
    """Partitions one snapshot committed — a column-pruned read for the
    lineage diffs (change feeds, index refreshes, branch drops)."""
    t = read_snapshot_manifest(out_dir, version, columns=["part_id"])
    return [int(p) for p in t["part_id"].to_pylist()]


def _sha_of_partition_shas(part_ids, shas) -> str:
    """Dataset checksum-of-checksums: sha256 over partition shas in
    part_id order — ONE definition shared by the summary, the snapshot
    log, and rollback."""
    h = hashlib.sha256()
    for _, sha in sorted(zip(part_ids, shas)):
        h.update(sha.encode())
    return h.hexdigest()


def _manifest_totals(t: pa.Table) -> dict:
    """Row/byte totals, partition count and checksum-of-checksums of one
    manifest — the ONE derivation behind write_manifest's stats, the
    snapshot log and the summary totals (:func:`_sync_summary`)."""
    return {
        "rows": sum(t["rows"].to_pylist()),
        "raw_bytes": sum(t["raw_bytes"].to_pylist()),
        "encoded_bytes": sum(t["encoded_bytes"].to_pylist()),
        "n_partitions": t.num_rows,
        "dataset_sha256": _sha_of_partition_shas(
            t["part_id"].to_pylist(), t["partition_sha"].to_pylist()
        ),
    }


def snapshot_dataset_sha(out_dir: str, version: int) -> str | None:
    """Checksum-of-checksums of one retained snapshot (None when the
    manifest is gone) — the lineage-identity probe derived datasets
    (rollups, dedup indexes) pin: a table whose history was RESET
    (fresh re-encode, compaction swap) can reuse a version NUMBER, but
    never reproduce the old content sha, so a stored (version, sha)
    pair detects resets even after the new lineage advances past the
    pinned version."""
    try:
        t = read_snapshot_manifest(out_dir, version,
                                   columns=["part_id", "partition_sha"])
    except FileNotFoundError:
        return None
    return _sha_of_partition_shas(
        t["part_id"].to_pylist(), t["partition_sha"].to_pylist()
    )


def list_snapshots(spark: SparkSession, out_dir: str) -> DataFrame:
    """Snapshot log as a queryable DataFrame: per version, partition
    count, row/byte totals and the dataset checksum-of-checksums —
    driver-sized (versions × O(1) stats from column-pruned reads of the
    snapshot manifests, payloads untouched)."""
    cur = current_snapshot(out_dir)
    rows = []
    for v in _snapshot_versions(out_dir):
        t = read_snapshot_manifest(out_dir, v)
        tot = _manifest_totals(t)
        meta = t.schema.metadata or {}
        committed = meta.get(_COMMITTED_AT_META_KEY)
        rows.append((v, tot["n_partitions"], tot["rows"], tot["raw_bytes"],
                     tot["encoded_bytes"], tot["dataset_sha256"], v == cur,
                     int(meta.get(_PARENT_META_KEY, 0)) or None,
                     None if committed is None else int(committed)))
    return spark.createDataFrame(
        rows,
        "version INT, n_partitions BIGINT, rows BIGINT, raw_bytes BIGINT, "
        "encoded_bytes BIGINT, dataset_sha256 STRING, is_current BOOLEAN, "
        "parent INT, committed_at_us BIGINT",
    )


def aggregate_from_metadata(out_dir: str, columns: list[str],
                            snapshot: int | str | None = None):
    """count(*) + per-column null_count/min/max/sum answered from the
    snapshot manifest ALONE — zero chunk IO (the Iceberg metadata-only
    scan, extended with exact integer sums). At 100 TB this turns a
    full-table aggregate into one small-parquet read.

    Returns ``{"rows": n, "null_count": {c}, "nonnull": {c},
    "min": {c}, "max": {c}, "sum": {c}}`` with SQL NULL semantics
    (min/max/sum are None for an all-NULL column). Per-column coverage
    follows the type: null_count/nonnull for EVERY column; min/max for
    numeric columns (string zone bounds are truncated prefix/successor
    bounds — pruning-valid, not extrema — so strings carry no min/max
    key); sum for integer columns only (order-independent, exact; float
    sums drift and are not tracked).

    Returns None — caller must scan — whenever the answer would not be
    EXACT: active equality-deletes at the snapshot; an unknown column;
    a pre-stats manifest or a partition whose chunks predate the v2
    rollups; a numeric column left unbounded in a partition that has
    non-NULL values for it (non-finite floats skip zones, and a
    partition mixing all-NULL chunks with valued ones merges to
    unbounded). ``snapshot`` accepts a version, tag, or branch name.
    """
    view = table_view(out_dir, snapshot)
    if view.version is None or view.deletes:
        return None
    summary = json.loads(fsio.read_bytes(f"{out_dir}/_SUMMARY.json"))
    if not summary.get("spark_schema"):
        return None
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(summary["spark_schema"]))
    dtype = {f.name: f.dataType for f in schema.fields}
    if any(c not in dtype for c in columns):
        return None
    numeric = tuple(
        c for c in columns
        if isinstance(dtype[c], (T.ByteType, T.ShortType, T.IntegerType,
                                 T.LongType, T.FloatType, T.DoubleType))
    )
    integral = tuple(
        c for c in numeric
        if isinstance(dtype[c], (T.ByteType, T.ShortType, T.IntegerType,
                                 T.LongType))
    )
    t = view.manifest
    names = t.schema.names
    if "col_zones" not in names or "col_nulls" not in names:
        return None  # pre-stats manifest: never recorded
    total = 0
    nulls = dict.fromkeys(columns, 0)
    sums = dict.fromkeys(integral, 0)
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    for n_rows, zjson, njson, sjson in zip(
        t["rows"].to_pylist(), t["col_zones"].to_pylist(),
        t["col_nulls"].to_pylist(), t["col_sums"].to_pylist(),
    ):
        total += n_rows
        if n_rows == 0:
            continue
        if njson is None:
            return None  # partition predates stats v2
        zones = json.loads(zjson) if zjson else {}
        pn = json.loads(njson)
        ps = json.loads(sjson) if sjson else {}
        for c in columns:
            # a column absent from the nulls map is all-NULL in this
            # partition (its chunks predate the column)
            nc = pn.get(c, n_rows)
            nulls[c] += nc
            if c in numeric:
                z = zones.get(c)
                if z is not None:
                    mins[c] = z[0] if c not in mins else min(mins[c], z[0])
                    maxs[c] = z[1] if c not in maxs else max(maxs[c], z[1])
                elif nc != n_rows:
                    # unbounded with real values present: non-finite
                    # floats or a mixed all-NULL/valued partition —
                    # the manifest cannot answer exactly
                    return None
            if c in sums:
                sums[c] += ps.get(c, 0)
    nonnull = {c: total - nulls[c] for c in columns}
    return {
        "rows": total,
        "null_count": nulls,
        "nonnull": nonnull,
        "min": {c: (mins.get(c) if nonnull[c] else None) for c in numeric},
        "max": {c: (maxs.get(c) if nonnull[c] else None) for c in numeric},
        "sum": {c: (sums[c] if nonnull[c] else None) for c in integral},
    }


# --- snapshot tags (Iceberg refs analog): a tag is a named, immutable
# pointer to a snapshot version, stored in ONE refs.json under the
# snapshot dir. Tags protect their snapshot from expire_snapshots (and
# therefore from vacuum, which only reclaims what no retained snapshot
# references) — the "keep the quarterly training-corpus cut forever"
# retention story. Tag writes are atomic metadata replaces; like data
# commits they assume the documented single-writer contract (SCALE.md)
# for concurrent MUTATION, while readers always see a complete refs file.

_TAG_NAME_OK = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")


def _refs_path(out_dir: str) -> str:
    return f"{_snap_dir(out_dir)}/refs.json"


def _read_refs_full(out_dir: str) -> dict[str, dict]:
    """All refs in normalized form: ``{name: {"type": "tag"|"branch",
    "snapshot": N, ...}}``. Legacy refs.json values are bare ints
    (tags) — normalized on read, preserved on write."""
    try:
        raw = json.loads(fsio.read_bytes(_refs_path(out_dir)))
    except FileNotFoundError:
        return {}
    return {
        str(k): (dict(v) if isinstance(v, dict)
                 else {"type": "tag", "snapshot": int(v)})
        for k, v in raw.items()
    }


def _write_refs_full(out_dir: str, refs: dict[str, dict]) -> None:
    # tags serialize as bare ints (the legacy form older readers parse);
    # branches need their staging state and stay dicts
    out = {
        k: (int(v["snapshot"]) if v.get("type") == "tag" else v)
        for k, v in refs.items()
    }
    fsio.write_bytes_atomic(
        _refs_path(out_dir), json.dumps(out, sort_keys=True).encode()
    )


def _branch_staged_versions(out_dir: str,
                            refs: dict[str, dict] | None = None) -> set[int]:
    """Every snapshot version staged on SOME branch and not yet
    published — the set main-pointer recovery must never adopt."""
    if refs is None:
        refs = _read_refs_full(out_dir)
    staged: set[int] = set()
    for r in refs.values():
        if r.get("type") == "branch":
            staged.update(int(v) for v in r.get("history") or ())
    return staged


def _snapshot_is_staged(out_dir: str, version: int) -> bool:
    """The snapshot's own staged-branch marker (covers the crash window
    where the commit wrote the snapshot but never updated refs)."""
    try:
        meta = fsio.read_parquet_schema(
            snapshot_manifest_path(out_dir, version)
        ).metadata
    except FileNotFoundError:
        return False
    return bool(meta and _STAGED_META_KEY in meta)


def list_refs(out_dir: str) -> dict[str, int]:
    """Ref name → snapshot version (tags AND branch heads). Empty dict
    for an unreferenced table."""
    return {
        k: int(v["snapshot"]) for k, v in _read_refs_full(out_dir).items()
    }


def create_tag(out_dir: str, name: str, snapshot: int | None = None) -> int:
    """Tag ``snapshot`` (default: current) as ``name``. Idempotent when
    re-tagging the same version; refuses to move an existing tag (drop
    it first — tags are immutable pointers, not branches)."""
    if not _TAG_NAME_OK.match(name or ""):
        raise ValueError(f"invalid tag name: {name!r}")
    if snapshot is None:
        snapshot = current_snapshot(out_dir)
    if snapshot is None or snapshot not in _snapshot_versions(out_dir):
        raise ValueError(f"no such snapshot to tag: {snapshot}")
    refs = _read_refs_full(out_dir)
    if name in refs:
        if refs[name].get("type") != "tag":
            raise ValueError(f"ref {name!r} is a branch, not a tag")
        if refs[name]["snapshot"] != snapshot:
            raise ValueError(
                f"tag {name!r} already points at v{refs[name]['snapshot']}; "
                "drop it first"
            )
    refs[name] = {"type": "tag", "snapshot": int(snapshot)}
    _write_refs_full(out_dir, refs)
    return int(snapshot)


def drop_tag(out_dir: str, name: str) -> None:
    refs = _read_refs_full(out_dir)
    if name not in refs:
        raise ValueError(f"no such tag: {name!r}")
    if refs[name].get("type") == "branch" and refs[name].get("history"):
        raise ValueError(
            f"{name!r} is a staged branch — drop_branch cleans up its "
            "unpublished snapshots; drop_tag would leak them"
        )
    del refs[name]
    _write_refs_full(out_dir, refs)


# --- branches (Iceberg write-audit-publish): a branch is a MOVABLE ref
# whose staged snapshots are invisible to main readers (the version
# hint doesn't advance; current_snapshot's recovery path excludes
# staged versions). Staging = append_table(..., branch="audit"): the
# commit lands as a real immutable snapshot, auditable via
# decode_table(snapshot="audit"), then publish_branch fast-forwards the
# main pointer to the staged head (refusing if main moved — the
# Iceberg fast-forward precondition), or drop_branch discards the
# staged snapshots entirely. While a branch has staged commits, main
# DATA commits are refused (the fragment-merge manifest would swallow
# the staged partitions); metadata-only commits (deletes, partition
# drops, stats updates, rollback) remain allowed and simply invalidate
# the fast-forward precondition.


def publish_branch(out_dir: str, name: str) -> int:
    """Fast-forward main to the branch's staged head (the audit passed).
    Refuses when main moved since staging began — the staged lineage no
    longer descends from main's head, so fast-forward would drop main's
    newer commit. Returns the published version; the branch ref remains,
    pointing at the now-published head with an empty staging cycle."""
    refs = _read_refs_full(out_dir)
    r = refs.get(name)
    if not r or r.get("type") != "branch" or not r.get("history"):
        raise ValueError(f"no staged branch {name!r} to publish")
    cur = current_snapshot(out_dir)
    if cur != r.get("base"):
        raise CommitConflictError(
            f"cannot fast-forward {name!r}: main moved v{r.get('base')} → "
            f"v{cur} while the branch was staged; re-stage against the "
            "new head"
        )
    head = int(r["snapshot"])
    token = str(os.getpid())
    t = read_snapshot_manifest(out_dir, head)
    # strip the staged marker from every published snapshot (atomic
    # in-place metadata rewrite — rows/checksums identical): the marker
    # must mean UNPUBLISHED, or a later lost hint would make recovery
    # skip the published head and regress to its base
    for v in [int(x) for x in r.get("history") or ()]:
        tv = t if v == head else read_snapshot_manifest(out_dir, v)
        meta = dict(tv.schema.metadata or {})
        if _STAGED_META_KEY in meta:
            del meta[_STAGED_META_KEY]
            # publish IS the main-visibility instant: re-stamp so
            # AS-OF-timestamp reads of main never surface a staged
            # commit at its (earlier, unpublished) staging time
            meta[_COMMITTED_AT_META_KEY] = _now_us_bytes()
            tv = tv.replace_schema_metadata(meta)
            fsio.write_parquet_atomic(
                tv, snapshot_manifest_path(out_dir, v), token=token
            )
            if v == head:
                t = tv
    _advance_current(out_dir, head, t, token)
    # the summary was deliberately NOT rewritten while staging (main
    # readers own it) — re-derive its totals from the published head
    _sync_summary(out_dir)
    refs = _read_refs_full(out_dir)
    refs[name] = {"type": "branch", "snapshot": head, "base": head,
                  "history": []}
    _write_refs_full(out_dir, refs)
    return head


def drop_branch(out_dir: str, name: str) -> list[int]:
    """Abandon a branch: DELETE its staged snapshot manifests (recovery
    would otherwise adopt them as main once the ref disappears) and the
    task fragments of partitions only they referenced (the next append's
    fragment merge would resurrect those partitions). Chunk files are
    reclaimed by ``vacuum``. Returns the dropped versions."""
    refs = _read_refs_full(out_dir)
    r = refs.get(name)
    if not r or r.get("type") != "branch":
        raise ValueError(f"no such branch: {name!r}")
    staged = [int(v) for v in r.get("history") or ()]
    staged_ids: set[int] = set()
    for v in staged:
        staged_ids.update(snapshot_part_ids(out_dir, v))
    # snapshot files first, ref last: a crash in between leaves a ref to
    # missing snapshots (loud read error), never unreferenced staged
    # snapshots that recovery would silently adopt as main
    for v in staged:
        fsio.delete_file(snapshot_manifest_path(out_dir, v))
        fsio.delete_file(_snapshot_deletes_path(out_dir, v))
    # staged-only fragments = staged pids no RETAINED snapshot still
    # references (computed AFTER the staged manifests are gone, so it
    # needs neither the base snapshot — which expire_snapshots may have
    # dropped after main moved on — nor any lineage assumption; shared
    # pids with main or another branch stay protected)
    live = all_snapshot_part_ids(out_dir)
    for pid in sorted(staged_ids - live):
        fsio.delete_file(f"{out_dir}/manifest_parts/{pid:06d}.json")
    refs = _read_refs_full(out_dir)
    refs.pop(name, None)
    _write_refs_full(out_dir, refs)
    return staged


def snapshot_parent(out_dir: str, version: int) -> int | None:
    """Parent version recorded at commit time (0/None for roots)."""
    meta = fsio.read_parquet_schema(
        snapshot_manifest_path(out_dir, version)
    ).metadata
    if meta and _PARENT_META_KEY in meta:
        p = int(meta[_PARENT_META_KEY])
        return p or None
    return None


def resolve_snapshot(out_dir: str, snapshot: int | str) -> int:
    """Version as-is for ints / int-strings, else a tag-name lookup."""
    if isinstance(snapshot, str):
        try:
            return int(snapshot)
        except ValueError:
            refs = list_refs(out_dir)
            if snapshot not in refs:
                raise ValueError(f"no such snapshot tag: {snapshot!r}")
            return refs[snapshot]
    return int(snapshot)


# --- row-level deletes (Iceberg v2 equality-delete analog): a delete
# commits a small keys file + a new snapshot whose manifest is the
# UNCHANGED partition set — no chunk bytes move at any table size.
# Readers anti-join the active delete files after decode; compaction
# (which decodes, and so applies deletes) materializes them physically
# and starts the rewritten table with an empty delete set.

def _deletes_dir(out_dir: str) -> str:
    return f"{out_dir}/deletes"


def _snapshot_deletes_path(out_dir: str, version: int) -> str:
    return f"{_snap_dir(out_dir)}/v{version:010d}.deletes.json"


def _advance_current(out_dir: str, version: int, table: pa.Table,
                     token: str) -> None:
    """Publish ``table`` as the convenience current-manifest copy and
    move the version hint — then SELF-HEAL: if a higher snapshot
    committed while our copy/hint writes were in flight, re-publish that
    snapshot's manifest so this call never leaves the copy regressed.
    The copy and hint are advisory; correctness anchors on the immutable
    ``snapshots/v{N}`` files plus the listing fallback in
    :func:`current_snapshot`. The only staleness a crash here can leave
    is a consistent OLDER snapshot in the copy (snapshot-isolation read,
    never a torn one), repaired by the next commit."""
    fsio.write_parquet_atomic(table, f"{out_dir}/manifest/manifest.parquet",
                              token=token)
    fsio.write_bytes_atomic(f"{_snap_dir(out_dir)}/version-hint.txt",
                            str(version).encode(), token=token)
    cur = current_snapshot(out_dir)
    if cur is not None and cur > version:
        t = read_snapshot_manifest(out_dir, cur)
        fsio.write_parquet_atomic(t, f"{out_dir}/manifest/manifest.parquet",
                                  token=token)
        fsio.write_bytes_atomic(f"{_snap_dir(out_dir)}/version-hint.txt",
                                str(cur).encode(), token=token)


class _Commit(NamedTuple):
    version: int              # the snapshot this commit created
    base: pa.Table | None     # the head manifest it was built from
    table: pa.Table           # the committed manifest, stamped
    active: list[dict]        # its active delete set
    attempts: int             # 1 + version races lost on the way


def _commit(out_dir: str, build, retry: bool = True,
            branch: str | None = None) -> _Commit:
    """The ONE snapshot-commit primitive every writer goes through.

    ``build(prev_table, prev_version) -> (table, active_deletes)`` derives
    the new manifest from the head (``prev_table`` is None on a fresh
    table). The version is minted BEFORE the head is read: a snapshot
    that lands between the two either shows in the head read or owns
    the minted version (so the exclusive create below loses) — a commit
    can never win a version while being built on a stale head (the lost
    update a read-then-mint order allows: a racing partition drop undone
    by a stats update built on the pre-drop manifest).

    Stamped here, in one place: the active delete set (embedded in the
    manifest's key-value metadata, so the exclusive create publishes data
    + deletes as ONE object — the json sidecar written after it is the
    inspection copy), the commit instant, and the parent = the head this
    commit was built on. Then: exclusive-create ``v{N}`` (the Iceberg
    commit CAS — one winner per version), the deletes sidecar, and
    :func:`_advance_current`. A lost race re-mints and rebuilds
    (``retry=True``, metadata commits: they apply to whatever the head
    is) or raises :class:`CommitConflictError` (``retry=False``).

    ``branch`` stages the commit on a WAP branch instead: the head is
    the branch's staged head (main's head for a fresh staging cycle),
    the snapshot carries the staged marker, and the branch ref moves
    instead of the main pointer."""
    token = str(os.getpid())
    for attempt in range(1, 11):
        version = _next_version(out_dir)
        bref = _read_refs_full(out_dir).get(branch, {}) if branch else {}
        prev = (int(bref["snapshot"]) if bref.get("history")
                else current_snapshot(out_dir))
        base = None if prev is None else read_snapshot_manifest(out_dir, prev)
        table, active = build(base, prev)
        meta = {**(table.schema.metadata or {}),
                _DELETES_META_KEY: json.dumps(active).encode(),
                _PARENT_META_KEY: str(prev or 0).encode(),
                _COMMITTED_AT_META_KEY: _now_us_bytes()}
        # staged snapshots self-identify: a crash between the exclusive
        # create and the refs update must not leave an orphan recovery
        # would adopt as main (silent publication); a main commit never
        # inherits the marker from a manifest it recommits
        meta.pop(_STAGED_META_KEY, None)
        if branch is not None:
            meta[_STAGED_META_KEY] = branch.encode()
        table = table.replace_schema_metadata(meta)
        try:
            fsio.write_parquet_exclusive(
                table, snapshot_manifest_path(out_dir, version), token=token
            )
        except FileExistsError:
            if retry:
                continue
            raise CommitConflictError(
                f"snapshot v{version} of {out_dir} was committed "
                "concurrently; re-run this write against the new table state"
            ) from None
        _write_snapshot_deletes(out_dir, version, active, token)
        if branch is None:
            _advance_current(out_dir, version, table, token)
        else:
            # staged (write-audit-publish): move the branch ref, NOT the
            # main pointer — main readers keep seeing the pre-stage table
            # until publish_branch fast-forwards
            refs = _read_refs_full(out_dir)  # re-read: commit won the race
            hist = list(refs.get(branch, {}).get("history") or [])
            refs[branch] = {
                "type": "branch", "snapshot": version,
                "base": int(refs[branch]["base"]) if hist else int(prev),
                "history": hist + [version],
            }
            _write_refs_full(out_dir, refs)
        return _Commit(version, base, table, active, attempt)
    raise CommitConflictError(
        f"commit on {out_dir} lost {attempt} straight version races"
    )


def _sync_summary(out_dir: str, patch: dict[str, list] | None = None,
                  base: dict | None = None) -> None:
    """Re-derive ``_SUMMARY.json``'s totals (rows, raw/encoded bytes,
    compression ratio, partition count, dataset checksum) from the HEAD
    snapshot's manifest — the one writer of summary totals, after data
    and metadata commits alike — optionally unioning ``patch``'s column
    lists into the summary. ``base`` (a data commit's
    :func:`write_summary`) replaces the stored summary instead of being
    read from it. Then SELF-HEAL (the :func:`_advance_current` pattern):
    a commit that moved the head while this read-modify-write was in
    flight may have written its own summary first, so re-read and
    re-derive until the head this write used is still the head. Tables
    without a summary (bare ``write_manifest`` callers) are left
    alone."""
    while True:
        head = current_snapshot(out_dir)
        if base is not None:
            summary, base = base, None
        else:
            try:
                summary = read_summary(None, out_dir)
            except FileNotFoundError:
                return
        for key, values in (patch or {}).items():
            if values:
                summary[key] = sorted(set(summary.get(key, ())) | set(values))
        tot = _manifest_totals(read_snapshot_manifest(out_dir, head))
        raw, enc = tot["raw_bytes"], tot["encoded_bytes"]
        summary.update(
            rows=tot["rows"], raw_bytes=raw, encoded_bytes=enc,
            compression_ratio=round(enc / raw, 6) if raw else 0.0,
            num_partitions=tot["n_partitions"],
            dataset_sha256=tot["dataset_sha256"],
        )
        fsio.write_bytes_atomic(f"{out_dir}/_SUMMARY.json",
                                json.dumps(summary, indent=2).encode(),
                                token=str(os.getpid()))
        if current_snapshot(out_dir) == head:
            return


_DELETES_META_KEY = b"fhirflat.active_deletes"
_PARENT_META_KEY = b"fhirflat.parent"
# wall-clock commit instant (epoch MICROS, writer's clock) — what
# AS-OF-timestamp time travel resolves against. Version order is the
# authoritative commit order; the stamp is the human/time axis over it
# (the Iceberg snapshot-log ``timestamp-ms`` analog).
_COMMITTED_AT_META_KEY = b"fhirflat.committed_at_us"


def _now_us_bytes() -> bytes:
    import time

    return str(time.time_ns() // 1000).encode()


def snapshot_committed_at(out_dir: str, version: int) -> int | None:
    """Commit instant of ``version`` in epoch micros, or None for
    snapshots written before stamps existed."""
    meta = fsio.read_parquet_schema(
        snapshot_manifest_path(out_dir, version)
    ).metadata
    if meta and _COMMITTED_AT_META_KEY in meta:
        return int(meta[_COMMITTED_AT_META_KEY])
    return None


def snapshot_as_of(out_dir: str, ts) -> int:
    """Resolve an AS-OF timestamp to a snapshot version: the latest
    retained MAIN snapshot whose commit instant is <= ``ts`` — i.e.
    the snapshot that was current at that wall-clock moment (includes
    later-rolled-back history, exactly like walking Iceberg's snapshot
    log by ``timestamp-ms``). ``ts`` is epoch seconds (int/float) or
    an ISO-8601 string (naive = UTC). Snapshots that predate commit
    stamps sort before every stamped one (version order is commit
    order, so this is exact, not a guess). Branch-staged snapshots are
    never eligible — they are unpublished."""
    ts_us = _parse_as_of_us(ts)
    staged = _branch_staged_versions(out_dir)
    best = None
    for v in _snapshot_versions(out_dir):
        if v in staged or _snapshot_is_staged(out_dir, v):
            continue
        stamp = snapshot_committed_at(out_dir, v)
        if stamp is None or stamp <= ts_us:
            best = v
    if best is None:
        raise ValueError(
            f"as_of={ts!r} predates every retained snapshot of {out_dir}"
        )
    return best


def _parse_as_of_us(ts) -> int:
    if isinstance(ts, str):
        try:  # numeric strings = epoch seconds (datasource options are str)
            return int(float(ts) * 1_000_000)
        except ValueError:
            pass
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(ts)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1_000_000)
    return int(float(ts) * 1_000_000)
# branch name a STAGED snapshot was committed to — self-identifying, so
# pointer recovery can skip it even when the commit crashed BEFORE the
# branch ref was updated (the ref-based exclusion alone has a window)
_STAGED_META_KEY = b"fhirflat.staged_branch"


def _write_snapshot_deletes(out_dir: str, version: int,
                            files: list[dict], token: str) -> None:
    fsio.write_bytes_atomic(_snapshot_deletes_path(out_dir, version),
                            json.dumps(files).encode(), token=token)


def active_delete_files(out_dir: str, version: int | None = None) -> list[dict]:
    """The equality-delete files a snapshot (default: the head) applies,
    newest-commit order: ``[{"file": name, "column": key_col}, ...]``.
    Empty when no snapshot exists."""
    if version is None:
        version = current_snapshot(out_dir)
    if version is None:
        return []
    try:
        meta = fsio.read_parquet_schema(
            snapshot_manifest_path(out_dir, version)
        ).metadata
    except FileNotFoundError:
        meta = None
    return _snapshot_deletes(out_dir, version, meta)


def _snapshot_deletes(out_dir: str, version: int, meta) -> list[dict]:
    """Authoritative source = the list embedded in the snapshot
    manifest's parquet metadata (atomic with the commit); the json
    sidecar remains as the inspection-friendly copy and the fallback
    for snapshots written before the embedded form. Snapshots predating
    the delete feature have neither → empty set."""
    if meta and _DELETES_META_KEY in meta:
        return json.loads(meta[_DELETES_META_KEY])
    try:
        return json.loads(
            fsio.read_bytes(_snapshot_deletes_path(out_dir, version))
        )
    except FileNotFoundError:
        return []


class TableView(NamedTuple):
    """What one read sees: the resolved snapshot ``version`` (None when
    the table has no snapshot yet), that snapshot's ``manifest`` rows
    and its active ``deletes`` entries."""

    version: int | None
    manifest: pa.Table
    deletes: list[dict]

    @property
    def part_ids(self) -> list[int]:
        return sorted(int(p) for p in self.manifest["part_id"].to_pylist())


def table_view(out_dir: str, snapshot=None, as_of=None) -> TableView:
    """THE way library code learns a table's partitions and deletes.

    ``snapshot`` is a version, an int-string, a tag or a branch name
    (:func:`resolve_snapshot`); ``as_of`` a wall-clock instant
    (:func:`snapshot_as_of`); neither = the head (:func:`current_snapshot`,
    which recovers past a stale version hint). A ``TableView`` passes
    through unchanged, so a planner can hand its view to the helpers it
    calls instead of re-reading the manifest. The manifest rows and the
    delete entries come from the ONE immutable ``snapshots/v{N}`` file,
    never from the advisory ``manifest/`` copy — a crash between a
    commit's snapshot create and its copy write cannot make a reader
    pair one snapshot's partitions with another's deletes. The view is
    empty only when no snapshot exists; every read error propagates."""
    if isinstance(snapshot, TableView):
        return snapshot
    if as_of is not None:
        if snapshot is not None:
            raise ValueError("pass snapshot= or as_of=, not both")
        version = snapshot_as_of(out_dir, as_of)
    elif snapshot is not None:
        version = resolve_snapshot(out_dir, snapshot)
    else:
        version = current_snapshot(out_dir)
    if version is None:
        return TableView(None, MANIFEST_ARROW_SCHEMA.empty_table(), [])
    t = read_snapshot_manifest(out_dir, version)
    return TableView(version, t,
                     _snapshot_deletes(out_dir, version, t.schema.metadata))


def write_delete_keys(spark: SparkSession, out_dir: str, column: str,
                      values, name: str) -> tuple[str, int]:
    """Write a delete-keys file/dir under ``deletes/``: a python value
    list goes through one atomic arrow write; a DataFrame (arbitrarily
    large key sets — a takedown list) through the distributed Spark
    writer into a directory (the reader handles both). Returns
    (name, n_keys)."""
    from pyspark.sql import DataFrame as _DF
    from pyspark.sql import types as T

    summary = read_summary(spark, out_dir)
    if column not in summary["columns"]:
        raise ValueError(f"delete column {column!r} not in {summary['columns']}")
    if isinstance(values, _DF):
        keys_df = values.select(column).distinct()
        dest = f"{_deletes_dir(out_dir)}/{name}"
        keys_df.write.mode("overwrite").parquet(dest)
        # count from the written footers (metadata-only) — one Spark job
        # for write+count instead of two evaluations of the key lineage
        n = fsio.count_parquet_rows(dest)
        if n == 0:
            fsio.delete_dir(dest)
            raise ValueError("delete requires a non-empty key set")
        return name, n
    if not values:
        raise ValueError("delete requires a non-empty key set")
    # key type from the recorded spark schema so the anti-join compares
    # like with like
    full = T.StructType.fromJson(json.loads(summary["spark_schema"]))
    key_field = T.StructType([full[column]])
    dt = full[column].dataType
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        values = [int(v) for v in values]
    elif isinstance(dt, (T.FloatType, T.DoubleType)):
        values = [float(v) for v in values]
    kt = spark.createDataFrame([(v,) for v in values], key_field).toArrow()
    fsio.write_parquet_atomic(kt, f"{_deletes_dir(out_dir)}/{name}",
                              token=str(os.getpid()))
    return name, len(values)


def _head_or_raise(out_dir: str) -> int:
    prev = current_snapshot(out_dir)
    if prev is None:
        raise ValueError(f"{out_dir} has no committed snapshot")
    return prev


def delete_rows(spark: SparkSession, out_dir: str, column: str,
                values) -> dict:
    """Row-level DELETE by key equality, committed as a new snapshot
    WITHOUT touching any chunk file: writes the keys (list or DataFrame)
    under ``deletes/``, recommits the current manifest, and records the
    enlarged active-delete set in the snapshot sidecar. Cost is the key
    set, independent of table size. Readers (decode_table) anti-join
    the active set; time travel to an earlier snapshot sees the rows
    again; ``compact_table`` materializes deletes physically.

    The delete is SCOPED to the partitions existing at delete time
    (``below_part`` — the Iceberg sequence-number analog): a LATER
    append that re-inserts a deleted key is visible, not silently
    swallowed by an old delete."""
    import uuid

    prev = _head_or_raise(out_dir)
    # keys file written ONCE, name uuid-disambiguated so a racing
    # writer's file can never be overwritten — same pid, same stale
    # version included (concurrent threads share both). Names are
    # opaque: the sidecar entry, not the name, is what a snapshot
    # applies; the version in the name is the first-attempt one,
    # cosmetic only.
    dfile, n_keys = write_delete_keys(
        spark, out_dir, column, values,
        f"d{prev + 1:010d}-{uuid.uuid4().hex[:12]}.parquet",
    )

    # the delete applies to whatever the head is when the commit wins:
    # its scope is re-derived from that head on every attempt
    def build(t, prev):
        below = max((int(p) for p in t["part_id"].to_pylist()), default=-1) + 1
        return t, active_delete_files(out_dir, prev) + [
            {"file": dfile, "column": column, "below_part": below}
        ]

    c = _commit(out_dir, build)
    return {"snapshot": c.version, "delete_file": dfile,
            "n_keys": n_keys, "below_part": c.active[-1]["below_part"],
            "active_delete_files": len(c.active), "attempts": c.attempts}


def delete_rows_at(spark: SparkSession, out_dir: str,
                   positions: DataFrame) -> dict:
    """Row-level DELETE by physical position (Iceberg v2 position-delete
    analog), committed as a new snapshot with zero chunk bytes moved.
    ``positions`` carries ``part_id, chunk_seq, row_idx`` — the address
    ``decode_table(with_positions=True)`` exposes. Unlike equality
    deletes this removes SPECIFIC row copies, which is what physical
    dedup needs (an equality delete on the dup key would kill the
    keeper too). Addresses stay valid because chunk files are
    immutable; compaction applies deletes while rewriting and starts
    the new table with an empty delete set."""
    import uuid

    need = {"part_id", "chunk_seq", "row_idx"}
    if not need <= set(positions.columns):
        raise ValueError(f"positions need columns {sorted(need)}")
    keys = positions.select(
        F.col("part_id").cast("int"), F.col("chunk_seq").cast("int"),
        F.col("row_idx").cast("int"),
    ).distinct()
    n_keys = keys.count()
    if n_keys == 0:
        raise ValueError("delete requires a non-empty position set")
    _head_or_raise(out_dir)
    dfile = f"p{uuid.uuid4().hex[:12]}.parquet"
    keys.write.mode("overwrite").parquet(f"{_deletes_dir(out_dir)}/{dfile}")
    entry = {"file": dfile, "column": None, "positional": True}
    c = _commit(out_dir, lambda t, prev: (
        t, active_delete_files(out_dir, prev) + [entry]))
    return {"snapshot": c.version, "delete_file": dfile,
            "n_positions": n_keys, "active_delete_files": len(c.active),
            "attempts": c.attempts}


def commit_partition_drop(spark: SparkSession, out_dir: str,
                          drop_pids: set[int],
                          pos_delete_file: str | None = None) -> dict:
    """Commit a PARTITION-level drop — optionally together with one
    positional-delete entry — as ONE metadata-only snapshot: the new
    manifest simply omits the dropped partitions (their chunk files and
    fragments stay on disk for time travel until ``expire_snapshots`` +
    ``vacuum``; the next append never re-merges them because its
    fragment keep-set is head-reachable pids ∪ its own range). This is
    the commit primitive behind ``maintenance.delete_where`` — the
    Iceberg ``DELETE FROM t WHERE ...`` metadata-delete analog: cost is
    the manifest, independent of table size.

    Same lineage semantics as ``delete_rows``: auto-retries version
    races (a drop applies to whatever the current state is), allowed
    while a WAP branch has staged history (it invalidates the branch's
    fast-forward publish, which ``publish_branch`` detects). Summary
    physical totals are re-derived from the head (``_sync_summary``);
    key-count stats fragments keep the dropped rows as an
    over-approximation — placement statistics are sizing heuristics,
    never correctness inputs."""
    if not drop_pids and pos_delete_file is None:
        raise ValueError("commit_partition_drop: nothing to commit")
    drop_pids = {int(p) for p in drop_pids}
    _head_or_raise(out_dir)
    pos = ([] if pos_delete_file is None else
           [{"file": pos_delete_file, "column": None, "positional": True}])

    def build(t, prev):
        keep = [int(p) not in drop_pids for p in t["part_id"].to_pylist()]
        return (t.filter(pa.array(keep)),
                active_delete_files(out_dir, prev) + pos)

    c = _commit(out_dir, build)
    _sync_summary(out_dir)
    return {
        "snapshot": c.version,
        "parts_dropped": sorted(
            set(c.base["part_id"].to_pylist()) & drop_pids
        ),
        "n_partitions_after": c.table.num_rows,
        "active_delete_files": len(c.active),
        "attempts": c.attempts,
    }


def commit_stats_update(spark: SparkSession, out_dir: str,
                        updates: dict[int, tuple[str | None, str | None]],
                        ndv_columns: list[str] | None = None,
                        quantile_columns: list[str] | None = None) -> dict:
    """Commit refreshed per-partition sketch stats — ``updates`` maps
    part_id → (col_hlls json, col_ddqs json) — as ONE metadata-only
    snapshot (the commit primitive behind ``maintenance.analyze_table``).
    Data, deletes, and partition membership are untouched, so the window
    is append-only with zero inserts: CDF readers see an empty delta.
    The summary's tracked-column lists are extended so future appends
    keep sketching the analyzed columns."""
    if not updates:
        raise ValueError("commit_stats_update: nothing to commit")
    _head_or_raise(out_dir)

    def build(t, prev):
        pids = [int(p) for p in t["part_id"].to_pylist()]
        for j, col in enumerate(("col_hlls", "col_ddqs")):
            names = t.schema.names
            base = t[col].to_pylist() if col in names else [None] * len(pids)
            arr = pa.array([updates[p][j] if p in updates else v
                            for p, v in zip(pids, base)], type=pa.string())
            t = (t.set_column(names.index(col), col, arr) if col in names
                 else t.append_column(col, arr))
        return t, active_delete_files(out_dir, prev)

    c = _commit(out_dir, build)
    _sync_summary(out_dir, {"ndv_columns": ndv_columns,
                            "quantile_columns": quantile_columns})
    return {"snapshot": c.version, "parts_updated": sorted(updates),
            "attempts": c.attempts}


def drop_duplicate_rows(spark: SparkSession, out_dir: str,
                        key_cols: list[str],
                        order_cols: list[str] | None = None) -> dict:
    """Physical dedup as a METADATA-ONLY operation: keep exactly one
    row per ``key_cols`` group (the first by ``order_cols``, else by
    physical address — deterministic either way) and position-delete
    the rest. At 100 TB this replaces the rewrite-the-corpus dedup job
    with one scan + one small-keys commit; the bytes are reclaimed by
    the next compaction, the merge-on-read trade. Returns the commit
    stats plus ``rows_dropped`` (0 = no duplicates, no commit)."""
    from pyspark.sql import Window

    from fhirflat_spark.decode import decode_table

    pos = ["__part_id", "__chunk_seq", "__row_idx"]
    df = decode_table(spark, out_dir, with_positions=True)
    order = [F.col(f"`{c}`") for c in (order_cols or [])] +         [F.col(c) for c in pos]
    w = Window.partitionBy(*[F.col(f"`{c}`") for c in key_cols]).orderBy(*order)
    losers = (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select(
            F.col("__part_id").alias("part_id"),
            F.col("__chunk_seq").alias("chunk_seq"),
            F.col("__row_idx").alias("row_idx"),
        )
    )
    n = losers.count()
    if n == 0:
        return {"rows_dropped": 0}
    stats = delete_rows_at(spark, out_dir, losers)
    return {**stats, "rows_dropped": n}


def copy_delete_file(src_dir: str, dst_dir: str, name: str) -> None:
    """Copy one delete-keys file (single-file or Spark-written
    directory form) between datasets — the transcode carry path."""
    src = f"{_deletes_dir(src_dir)}/{name}"
    dst = f"{_deletes_dir(dst_dir)}/{name}"
    if fsio.is_dir(src):  # Spark-written directory form
        for m in fsio.list_files(src):
            fsio.write_bytes_atomic(f"{dst}/{m}", fsio.read_bytes(f"{src}/{m}"))
    else:
        fsio.write_bytes_atomic(dst, fsio.read_bytes(src))


def apply_deletes(spark: SparkSession, out_dir: str, df: DataFrame,
                  entries: list[dict],
                  part_col: str | None = None) -> DataFrame:
    """Anti-join ``df`` against a view's active delete ``entries``.
    Delete files are read through the Spark reader (scales to large key
    sets; AQE broadcasts the small ones). A scoped entry (``below_part``)
    removes only rows from partitions that existed at delete time —
    ``part_col`` names the row-level partition-id column the caller
    carries (required when any entry is scoped); unscoped legacy entries
    apply to every row. Column references are alias-qualified and
    backticked: flattened datasets have DOTTED column names
    (period.start) that bare resolution would read as struct paths."""
    for i, entry in enumerate(entries):
        keys = spark.read.parquet(f"{_deletes_dir(out_dir)}/{entry['file']}")
        dal, kal = f"__dd{i}", f"__dk{i}"
        d, k = df.alias(dal), keys.alias(kal)
        if entry.get("positional"):
            # position delete: anti-join on the row's physical address
            # (decode carries __part_id/__chunk_seq/__row_idx whenever a
            # positional entry is active)
            for c in ("__part_id", "__chunk_seq", "__row_idx"):
                if c not in df.columns:
                    raise ValueError(
                        "positional delete entries need row addresses "
                        f"({c} missing) — decode with positions enabled"
                    )
            cond = (
                (F.col(f"{dal}.__part_id") == F.col(f"{kal}.part_id"))
                & (F.col(f"{dal}.__chunk_seq") == F.col(f"{kal}.chunk_seq"))
                & (F.col(f"{dal}.__row_idx") == F.col(f"{kal}.row_idx"))
            )
            df = d.join(k, on=cond, how="left_anti")
            continue
        below = entry.get("below_part")
        col = entry["column"]
        cond = F.col(f"{dal}.`{col}`") == F.col(f"{kal}.`{col}`")
        if below is not None:
            if part_col is None:
                raise ValueError(
                    "scoped delete entries need the partition-id column"
                )
            cond = cond & (F.col(f"{dal}.`{part_col}`") < F.lit(int(below)))
        df = d.join(k, on=cond, how="left_anti")
    return df


def rollback(spark: SparkSession, out_dir: str, version: int) -> dict:
    """Roll the table back to ``version`` by recommitting that snapshot's
    manifest as a NEW snapshot (the Iceberg rollback semantics: history
    is preserved, the current pointer moves). Updates the summary totals
    and dataset checksum to the rolled-back state, and drops the task
    fragments of the rolled-back partitions (they are the re-merge
    input of the NEXT append — leaving them would resurrect the dropped
    partitions into its manifest). Chunk files are left in place
    (``vacuum`` reclaims the ones no snapshot references)."""
    target = read_snapshot_manifest(out_dir, version)
    restored_ids = {int(p) for p in target["part_id"].to_pylist()}
    # the restored state includes its row-level delete set (a rollback
    # across a delete un-deletes; onto a deleted epoch re-deletes); the
    # target is fixed, so a lost version race simply re-mints
    restored_deletes = active_delete_files(out_dir, version)
    c = _commit(out_dir, lambda _t, _prev: (target, restored_deletes))
    # fragment sweep AFTER the commit landed (a crash before this point
    # changes nothing — appends filter to head-reachable pids at merge
    # time). Only fragments referenced by NO retained snapshot are
    # deleted: a fragment is the sole chunk-level metadata for its
    # partition, and a later rollback FORWARD onto a retained snapshot
    # must find the fragments of that snapshot's partitions intact
    # (deleting by not-in-restored here lost partitions on the next
    # append after a rollback-forward — caught by the lifecycle fuzzer).
    # The next append never merges the rolled-back ones anyway: its
    # keep-set is head-reachable pids ∪ its own new range (encode.py).
    keep_ids = all_snapshot_part_ids(out_dir)
    frag_dir = f"{out_dir}/manifest_parts"
    for name in fsio.list_files(frag_dir, suffix=".json"):
        if int(name[:-len(".json")]) not in keep_ids:
            fsio.delete_file(f"{frag_dir}/{name}")
    # key-count stats fragments are labeled by part offset; fragments
    # from dropped appends would feed phantom keys into the next
    # append's merged statistics (staged appends never write stats)
    max_restored = max(restored_ids, default=-1)
    stats_dir = _stats_dir(out_dir)
    for name in fsio.list_files(stats_dir, suffix=".parquet"):
        if int(name[:-len(".parquet")]) > max_restored:
            fsio.delete_file(f"{stats_dir}/{name}")
    _sync_summary(out_dir)
    return {"snapshot": c.version, "restored": version,
            "rows": sum(target["rows"].to_pylist()),
            "n_partitions": target.num_rows, "attempts": c.attempts}


def expire_snapshots(out_dir: str, keep_last: int = 1,
                     older_than=None) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshot manifests (the
    current snapshot and every TAGGED snapshot always survive — drop the
    tag to release it). Returns the expired versions; follow with
    ``vacuum`` to reclaim newly-unreferenced chunk files.

    ``older_than`` (Iceberg's age cutoff: epoch seconds, an ISO string,
    or a datetime) RESTRICTS the count-based set — only snapshots whose
    ``committed_at_us`` stamp is provably before the cutoff expire, and
    ``keep_last`` remains the retention floor either way. A legacy
    snapshot without a stamp is never age-expired (conservative: age
    unknown ≠ old)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = _snapshot_versions(out_dir)
    cur = current_snapshot(out_dir)
    refs = _read_refs_full(out_dir)
    staged = _branch_staged_versions(out_dir, refs)
    protected = {int(r["snapshot"]) for r in refs.values()} | staged
    # keep_last counts MAIN-lineage snapshots: staged branch versions
    # sit at the top of the listing and must not crowd recent main
    # snapshots out of the retention window (they are protected anyway)
    main = [v for v in versions if v not in staged]
    expired = [
        v for v in main[:-keep_last] if v != cur and v not in protected
    ]
    if older_than is not None:
        import datetime as _dt

        if isinstance(older_than, _dt.datetime):
            if older_than.tzinfo is None:
                older_than = older_than.replace(tzinfo=_dt.timezone.utc)
            cutoff_us = int(older_than.timestamp() * 1_000_000)
        else:
            cutoff_us = _parse_as_of_us(older_than)
        expired = [
            v for v in expired
            if (stamp := snapshot_committed_at(out_dir, v)) is not None
            and stamp < cutoff_us
        ]
    for v in expired:
        fsio.delete_file(snapshot_manifest_path(out_dir, v))
        fsio.delete_file(_snapshot_deletes_path(out_dir, v))
    return expired


def all_snapshot_part_ids(out_dir: str) -> set[int]:
    """Union of part ids across every retained snapshot — the set whose
    chunk directories must not be touched (vacuum keeps them, appends
    mint past them)."""
    live: set[int] = set()
    for v in _snapshot_versions(out_dir):
        live.update(
            int(p) for p in
            read_snapshot_manifest(out_dir, v, columns=["part_id"])
            ["part_id"].to_pylist()
        )
    return live


def vacuum(spark: SparkSession, out_dir: str) -> list[int]:
    """Delete chunk partitions referenced by NO retained snapshot (e.g.
    appends rolled back and expired). Directory-level deletes on the
    ``chunks/part_id=N`` layout; returns the part ids removed."""
    live = all_snapshot_part_ids(out_dir)
    removed = []
    for name in fsio.list_dirs(f"{out_dir}/chunks"):
        if not name.startswith("part_id="):
            continue
        pid = int(name.split("=", 1)[1])
        if pid not in live:
            fsio.delete_dir(f"{out_dir}/chunks/{name}")
            removed.append(pid)
    # manifest fragments live exactly as long as some retained snapshot
    # references their partition (rollback-forward needs them); once the
    # last such snapshot expires they are garbage — reclaim with the
    # chunks so manifest_parts/ doesn't grow without bound
    frag_dir = f"{out_dir}/manifest_parts"
    for name in fsio.list_files(frag_dir, suffix=".json"):
        if int(name[: -len(".json")]) not in live:
            fsio.delete_file(f"{frag_dir}/{name}")
    # delete files no retained snapshot references go the same way —
    # both forms: single files (list-valued deletes) and Spark-written
    # DIRECTORIES (DataFrame key sets, every upsert)
    live_deletes = {
        e["file"]
        for v in _snapshot_versions(out_dir)
        for e in active_delete_files(out_dir, v)
    }
    ddir = _deletes_dir(out_dir)
    for name in fsio.list_files(ddir, suffix=".parquet"):
        if name not in live_deletes:
            fsio.delete_file(f"{ddir}/{name}")
    for name in fsio.list_dirs(ddir):
        if name not in live_deletes:
            fsio.delete_dir(f"{ddir}/{name}")
    return sorted(removed)


def read_manifest(spark: SparkSession, out_dir: str,
                  snapshot: int | str | None = None) -> DataFrame:
    """A snapshot's manifest (default: the head) as a DataFrame — the
    :func:`table_view` rows (manifest cardinality is #partitions —
    driver-sized by design, SCALE.md)."""
    return spark.createDataFrame(table_view(out_dir, snapshot).manifest)


CHUNK_STATS_SCHEMA = (
    "map<string, struct<codec: string, raw: bigint, enc: bigint,"
    " sha: string, zmin: string, zmax: string>>"
)


def read_chunk_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-(chunk, column) lineage of the head snapshot's partitions as a
    queryable DataFrame: codec choice, raw/encoded bytes, content sha,
    and zone-map span for every chunk of every column — the flattened
    view of the per-chunk ``stats`` JSON the encode kernel records (the
    Iceberg manifest-file analog). Chunk dirs no live snapshot
    references (rolled back or replaced, not yet vacuumed) are left out.

    The tasks read ONLY the metadata columns of the chunk files
    (``decode.scan_chunks``, no payload byte), so cost is #chunks, not
    data size. Zone bounds come back as strings (numeric columns stringify);
    cast at the call site for numeric min/max semantics."""
    from pyspark.sql import types as T

    from fhirflat_spark.decode import scan_chunks

    view = table_view(out_dir)
    meta = T.StructType([
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("chunk_seq", T.IntegerType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("stats", T.StringType(), False),
    ])
    return (
        scan_chunks(spark, out_dir, view, view.part_ids, lambda b: b, meta,
                    meta=meta.names)
        .select(
            "part_id",
            "chunk_seq",
            "n_rows",
            F.explode(F.from_json("stats", CHUNK_STATS_SCHEMA)).alias(
                "column", "st"
            ),
        )
        .select(
            "part_id",
            "chunk_seq",
            "n_rows",
            "column",
            F.col("st.codec").alias("codec"),
            F.col("st.raw").alias("raw_bytes"),
            F.col("st.enc").alias("encoded_bytes"),
            F.col("st.zmin").alias("zmin"),
            F.col("st.zmax").alias("zmax"),
        )
    )


def dataset_checksum(manifest: DataFrame) -> str:
    """Checksum-of-checksums over partitions ordered by part_id."""
    rows = manifest.select("part_id", "partition_sha").collect()
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r["part_id"]):
        h.update(r["partition_sha"].encode())
    return h.hexdigest()


def write_summary(spark: SparkSession, out_dir: str, columns: list[str],
                  spark_schema: str | None = None,
                  extra: dict | None = None) -> None:
    """Write ``_SUMMARY.json`` after a data commit: the engine/format
    versions, ``columns``, ``spark_schema`` and ``extra`` keys, with the
    totals derived from the head snapshot by :func:`_sync_summary` — so
    a metadata commit that lands between the data commit and this write
    is not undone by stale totals."""
    from fhirflat_spark import __version__

    summary = {
        "engine": "fhirflat_spark",
        "version": __version__,
        "manifest_version": MANIFEST_VERSION,
        "format_version": FORMAT_VERSION,
        "columns": columns,
        "spark_schema": spark_schema,
        **(extra or {}),
    }
    _sync_summary(out_dir, base=summary)


def read_summary(spark: SparkSession, out_dir: str) -> dict:
    return json.loads(fsio.read_bytes(f"{out_dir}/_SUMMARY.json"))


# --- maintained table statistics (the Iceberg partition-stats pattern):
# the per-key row counts the salted planner used, persisted so whole-
# table totals stay queryable without a rescan (appends still count
# their own delta for placement — merged totals would over-fragment
# small appends; a caller doing a full re-encode can feed the merged
# counts back in as key_counts to skip the scan). Stored as one FRAGMENT per
# part-offset range (mirroring the manifest-fragment protocol): a
# replayed append/streaming batch atomically REPLACES its own fragment
# instead of re-merging into a single file, so stats stay idempotent
# under retries. Stale counts are safe by design — placement keeps a
# fallback bucket for unseen keys.

def _stats_dir(out_dir: str) -> str:
    return f"{out_dir}/stats/key_count_parts"


def write_key_counts(out_dir: str, sentinel_counts: list[tuple],
                     label: str = "000000000000") -> None:
    """Persist sentinel-keyed counts ("v:<k>" / "n:" / "o:") as a
    raw-keyed stats fragment named by ``label`` (atomic publish — a
    retry of the same label replaces, never duplicates; a fresh encode
    clears the other labels before its job). The "o:" fallback
    pseudo-key is not a real key and is dropped."""
    d = _stats_dir(out_dir)
    rows: dict[str | None, int] = {}
    for sk, c in sentinel_counts:
        if sk == "o:":
            continue
        k = None if sk == "n:" else sk[2:]
        rows[k] = rows.get(k, 0) + int(c)
    table = pa.table(
        {
            "key": pa.array(list(rows.keys()), pa.string()),
            "count": pa.array(list(rows.values()), pa.int64()),
        }
    )
    fsio.write_parquet_atomic(table, f"{d}/{label}.parquet",
                              token=str(os.getpid()))


def load_key_counts(out_dir: str) -> list[tuple] | None:
    """Merged per-key counts across every stats fragment, as caller-style
    ``key_counts`` (raw key or None, count) — pass straight back into
    ``encode_table``/``plan_partition_ids``. None when no stats exist."""
    d = _stats_dir(out_dir)
    names = fsio.list_files(d, suffix=".parquet")
    if not names:
        return None
    totals: dict[str | None, int] = {}
    for name in names:
        t = fsio.read_parquet(f"{d}/{name}")
        for k, c in zip(t["key"].to_pylist(), t["count"].to_pylist()):
            totals[k] = totals.get(k, 0) + int(c)
    return list(totals.items())
