"""``df.write.format("fhirflat")`` — the chunk store as a writable named
Spark sink (PySpark 4 Python DataSource writer API), batch and streaming.

The library write surface (``encode_table``/``append_table``) plans a
salted layout; the named sink is the LAYOUT-PRESERVING write: each Spark
task encodes its partition in place (no exchange — the caller owns the
clustering, exactly ``encode_table(shuffle=False)`` semantics) and the
job commits atomically:

    df.write.format("fhirflat").mode("append").save(out_dir)
    df.write.format("fhirflat").mode("overwrite").save(out_dir)
    (df.writeStream.format("fhirflat")
       .option("checkpointLocation", cp).start(out_dir))

Commit protocol (the DSv2 contract mapped onto the engine's manifest):

- **Tasks write data, never metadata.** Each task encodes its batches
  with the same Arrow kernels as ``encode_table`` and writes ONE chunk
  parquet into its own fresh ``chunks/part_id=N`` dir (batch mode:
  ``N = offset + partitionId``, offset minted past every id any
  retained snapshot references — history immutability, encode.py) or a
  staging file (streaming — the final id needs the batchId, which only
  the driver-side commit sees). The returned commit message carries the
  chunk inventory (the manifest fragment), not data.
- **The driver commits ONE snapshot.** ``commit(messages)`` drops files
  from losing task attempts (speculation/retries write distinct file
  names; only the message's file survives), publishes per-partition
  manifest fragments, and finishes through encode's one data-commit
  tail (``encode._commit_data``) — readers see the previous snapshot or
  the new one, never a torn table.
- **abort() leaves the table untouched.** Data landed only in part-id
  dirs no manifest references; abort deletes them (and staged files).
  Even without abort, readers trust the manifest, so a crashed job's
  leftovers are invisible and vacuum-able.
- **Overwrite = Iceberg REPLACE when it can be.** With an unchanged
  table schema, ``mode("overwrite")`` is a replace commit: new part ids,
  a manifest listing only them, prior delete entries dropped
  (``carry_deletes=False``) — and every older snapshot stays
  time-travel-readable. A schema-changing overwrite clears snapshot
  history instead (the summary records one schema per table; pretending
  old snapshots decode under a new schema would corrupt time travel).
- **Streaming replay is idempotent by construction.** Part ids are a
  pure function of the micro-batch id (``batchId * parts_per_batch +
  partitionId`` — the ``encode_stream_incremental`` namespace);
  a replayed batch re-commits exactly its own partition dirs, with
  stale attempt files dropped at commit.
- **MERGE/upsert via ``.option("upsert_key", col)``.** Each commit
  appends its rows and shadow-deletes every pre-existing row with a
  matching key in the SAME snapshot (``encode.upsert_rows`` semantics:
  scoped equality-delete entry, merge-on-read, materialized at the next
  compaction). Tasks collect their partition's distinct keys while
  encoding — no second pass, no driver-side key set — and commit
  publishes them as one Spark-readable keys directory. On a streaming
  query every micro-batch upserts against all earlier batches plus the
  pre-existing table (CDC-apply: latest batch wins per key).

Reference parity: the reference writes its store only through library
entry points (reference fhirflat/ingest.py:381-432); a named Spark sink
is the cluster-native equivalent surface, same as the reader in
``datasource.py``.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

try:  # PySpark >= 4.0 (Arrow writer base classes; stream variant is 4.1)
    from pyspark.sql.datasource import (
        DataSourceArrowWriter,
        WriterCommitMessage,
    )

    HAVE_WRITER_API = True
except ImportError:  # pragma: no cover - pyspark 3.x fallback
    HAVE_WRITER_API = False

    class DataSourceArrowWriter:  # type: ignore[no-redef]
        pass

    class WriterCommitMessage:  # type: ignore[no-redef]
        pass


try:  # 4.1+
    from pyspark.sql.datasource import DataSourceStreamArrowWriter
except ImportError:  # pragma: no cover - pyspark 4.0 fallback
    DataSourceStreamArrowWriter = DataSourceArrowWriter  # type: ignore

PARTS_PER_BATCH = 1 << 16  # streaming part-id namespace per micro-batch


@dataclass
class ChunkWriteMessage(WriterCommitMessage):
    """Per-task commit message: the manifest fragment + the one file this
    attempt wrote (commit keeps exactly these files, dropping losers)."""

    part_rel: int  # partition index within the job (0-based)
    file: str | None  # file name written, None for an empty partition
    meta: list = field(default_factory=list)  # chunk meta dicts
    keys_file: str | None = None  # upsert: this task's distinct-keys file


def _write_plan(options, schema, overwrite: bool, streaming: bool) -> dict:
    """Driver-side write planning — metadata-only, fully picklable.

    Resolves the target mode (create / append-with-evolution / replace),
    mints the part-id offset past every snapshot-referenced id, and
    fixes the positional column mapping (old columns keep their payload
    indices, added columns take fresh trailing ones — the same
    add-column semantics as ``append_table``)."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    from fhirflat_spark import fsio
    from fhirflat_spark.manifest import FORMAT_VERSION, all_snapshot_part_ids

    path = options.get("path") or options.get("location")
    if not path:
        raise ValueError(
            'the fhirflat sink needs a path — .save(<dir>) or '
            '.option("path", <dir>)'
        )
    # every stored column is optional: add-column evolution null-fills
    # older partitions, so a non-nullable input field (e.g. a lit()
    # constant) must not poison the dataset schema (Iceberg's evolved
    # columns are optional for the same reason)
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in schema.fields]
    )
    profile = options.get("profile") or "balanced"
    if profile not in ("balanced", "archive"):
        raise ValueError(f"unknown profile {profile!r}")
    in_cols = list(schema.names)
    exists = fsio.exists(f"{path}/_SUMMARY.json")

    summary = None
    if exists:
        summary = json.loads(fsio.read_bytes(f"{path}/_SUMMARY.json"))
        fv = summary.get("format_version", 0)
        if fv != FORMAT_VERSION:
            raise ValueError(
                f"dataset format_version {fv} != engine {FORMAT_VERSION}; "
                "upgrade the dataset first (transcode with this engine)"
            )

    mode = "create"
    columns = in_cols
    merged_fields = list(schema.fields)
    bloom: list[str] = []
    ndv: list[str] = []
    qsk: list[str] = []
    history_compatible = False
    if exists and not overwrite:
        mode = "append"
        old_cols = list(summary["columns"])
        if not summary.get("spark_schema"):
            raise ValueError(
                "dataset records no spark_schema to evolve against — "
                "append through the library API it was written with"
            )
        old_schema = T.StructType.fromJson(json.loads(summary["spark_schema"]))
        by_name = {f.name: f for f in old_schema.fields}
        for f in schema.fields:
            if f.name in by_name and f.dataType != by_name[f.name].dataType:
                raise ValueError(
                    f"append column {f.name!r} type {f.dataType} != dataset "
                    f"type {by_name[f.name].dataType} — evolve types "
                    "explicitly (transcode), not by append coercion"
                )
        added = [f for f in schema.fields if f.name not in by_name]
        columns = old_cols + [f.name for f in added]
        merged_fields = [by_name[c] for c in old_cols] + added
        # appended chunks keep indexing the columns the dataset blooms
        bloom = [c for c in summary.get("bloom_columns", ()) if c in in_cols]
        ndv = [c for c in summary.get("ndv_columns", ()) if c in in_cols]
        qsk = [c for c in summary.get("quantile_columns", ())
               if c in in_cols]
    else:
        opt_qsk = options.get("quantile_columns")
        if opt_qsk:
            qsk = [c.strip() for c in opt_qsk.split(",") if c.strip()]
            for c in qsk:
                if c not in in_cols:
                    raise ValueError(
                        f"quantile column {c!r} not in {in_cols}"
                    )
                if not isinstance(schema[c].dataType,
                                  (T.ByteType, T.ShortType, T.IntegerType,
                                   T.LongType, T.FloatType, T.DoubleType)):
                    raise ValueError(
                        f"quantile column {c!r} must be numeric"
                    )
        opt_ndv = options.get("ndv_columns")
        if opt_ndv:
            ndv = [c.strip() for c in opt_ndv.split(",") if c.strip()]
            for c in ndv:
                if c not in in_cols:
                    raise ValueError(f"ndv column {c!r} not in {in_cols}")
                if not isinstance(schema[c].dataType,
                                  (T.StringType, T.BinaryType, T.ByteType,
                                   T.ShortType, T.IntegerType, T.LongType)):
                    raise ValueError(
                        f"ndv column {c!r} must be string/binary/integer"
                    )
        opt_bloom = options.get("bloom_columns")
        if opt_bloom:
            bloom = [c.strip() for c in opt_bloom.split(",") if c.strip()]
            for c in bloom:
                if c not in in_cols:
                    raise ValueError(f"bloom column {c!r} not in {in_cols}")
                if not isinstance(schema[c].dataType, T.StringType):
                    raise ValueError(f"bloom column {c!r} must be a string")
        if exists and overwrite:
            mode = "replace"
            schema_json = T.StructType(merged_fields).json()
            history_compatible = (
                list(summary["columns"]) == columns
                and summary.get("spark_schema") == schema_json
            )

    if streaming and mode == "replace":
        raise ValueError("the streaming sink only appends")

    # MERGE/upsert by key through the sink surface: each commit appends
    # its rows AND shadow-deletes every PRE-EXISTING row with a matching
    # key, atomically (the encode.upsert_rows semantics — scoped
    # equality-delete entry in the same snapshot sidecar as the data).
    # Tasks collect their partition's distinct keys while encoding (no
    # extra pass, no driver-side key set — scale-safe for data-sized
    # key columns); commit publishes them as a Spark-readable keys DIR.
    upsert = options.get("upsert_key") or None
    if upsert:
        if upsert not in in_cols:
            raise ValueError(
                f"upsert_key {upsert!r} not in the written columns {in_cols}"
            )
        if mode == "replace":
            raise ValueError(
                "upsert_key with mode overwrite is meaningless — overwrite "
                "already replaces every row"
            )
        if mode == "create" and not streaming:
            # no pre-existing rows to shadow: upsert into a fresh table
            # is a plain insert (a streaming query keeps the key — its
            # LATER micro-batches upsert against the earlier ones)
            upsert = None

    # write-audit-publish staging through the sink surface: the commit
    # lands on a branch ref instead of moving the main pointer (the
    # encode.append_table(branch=) semantics; publish_branch/drop_branch
    # finish the cycle). Batch append only: a fresh table has nothing to
    # audit against, overwrite already replaces, and a stream would
    # re-stage every micro-batch with nothing to publish between them.
    branch = options.get("branch") or None
    if branch:
        if streaming:
            raise ValueError("branch staging is batch-only")
        if mode != "append":
            raise ValueError(
                "branch staging is append-only (WAP audits a delta "
                "against an existing table)"
            )
        if columns != list(summary["columns"]):
            raise ValueError(
                f"branch {branch!r} append adds columns; schema evolution "
                "must commit to main (the schema lives in the main-visible "
                "summary)"
            )

    # mint past every id any retained snapshot references (history
    # immutability — encode.append_table); crashed-attempt ids live in
    # no snapshot and stay reusable
    if exists:
        top = max(all_snapshot_part_ids(path), default=None)
        offset = (top + 1) if top is not None else 0
    else:
        offset = 0
    if streaming:
        ppb = int(options.get("parts_per_batch") or PARTS_PER_BATCH)
        # every streaming token must be a PURE function of the options:
        # Spark re-creates the writer on query restart (and the commit
        # runner builds its own instance), so a base derived from live
        # table state would shift between restarts and break replay
        # idempotency. Default 0 = the stream owns the table's id space
        # from scratch (the encode_stream_incremental contract); a
        # stream appending to a pre-existing table sets stream_base
        # explicitly (≥ the table's top part id, ppb-aligned).
        base = int(options.get("stream_base") or 0)
    else:
        ppb = None
        base = offset

    schema_json = T.StructType(merged_fields).json()
    return {
        "path": path,
        "mode": mode,
        "streaming": streaming,
        "history_compatible": history_compatible,
        "columns": columns,
        "arrow_of": {
            f.name: to_arrow_type(f.dataType) for f in merged_fields
        },
        "schema_json": schema_json,
        "bloom": bloom,
        "ndv": ndv,
        "qsk": qsk,
        "upsert_key": upsert,
        "branch": branch,
        "codec_opts": {"archive": True} if profile == "archive" else {},
        "part_offset": base,
        "parts_per_batch": ppb,
        # batch mode: commit() runs on the SAME pickled writer instance,
        # so a random token is safe and disambiguates concurrent jobs.
        # streaming: Spark's commit runner constructs a FRESH writer via
        # streamWriter(), so every token must be a pure function of the
        # options — fixed staging dir, single-writer per table (the
        # engine-wide contract)
        "stage_token": "q" if streaming else uuid.uuid4().hex[:12],
        "t0": time.time(),
    }


def _encode_partition(plan: dict, part_id: int, batches, out_path: str,
                      keys_path: str | None = None):
    """Task-side encode: rebatch → kernel-encode each chunk → stream the
    chunk rows into ONE parquet file at ``out_path`` (the shared
    ``write_chunk_file``). Returns the chunk meta list (the manifest
    fragment content). No file is created for an empty partition.
    ``keys_path`` (upsert): also write this partition's distinct
    upsert-key values there — collected from the already-cast arrays
    while encoding, so the key pass is free."""
    from fhirflat_spark import fsio
    from fhirflat_spark.encode import (
        _encode_one_batch,
        _rebatch,
        write_chunk_file,
    )
    from fhirflat_spark.session import ARROW_BATCH_ROWS

    columns = plan["columns"]
    arrow_of = plan["arrow_of"]
    safe = [f"__c{i}" for i in range(len(columns))]
    name_map = dict(zip(safe, columns))
    bloom = frozenset(plan["bloom"])
    ndv = frozenset(plan["ndv"])
    qsk = frozenset(plan["qsk"])
    key_col = plan["upsert_key"] if keys_path else None
    key_idx = columns.index(key_col) if key_col else None
    key_chunks: list[pa.Array] = []
    metas: list[dict] = []

    def chunk_rows():
        for seq, batch in enumerate(_rebatch(batches, ARROW_BATCH_ROWS)):
            if batch.num_rows == 0:
                continue
            names = set(batch.schema.names)
            arrays = []
            for c in columns:
                if c in names:
                    arr = batch.column(c)
                    if isinstance(arr, pa.ChunkedArray):
                        arr = arr.combine_chunks()
                    if arr.type != arrow_of[c]:
                        arr = arr.cast(arrow_of[c])
                else:  # column absent from this write: typed nulls
                    arr = pa.nulls(batch.num_rows, type=arrow_of[c])
                arrays.append(arr)
            if key_idx is not None:
                key_chunks.append(arrays[key_idx])
            safe_batch = pa.RecordBatch.from_arrays(arrays, names=safe)
            meta, out = _encode_one_batch(
                safe_batch, part_id, seq, safe, name_map, {},
                plan["codec_opts"], next(
                    (s for s, c in zip(safe, columns) if c == "repo"), None
                ),
                bloom, ndv, qsk,
            )
            metas.append(meta)
            yield out

    write_chunk_file(out_path, chunk_rows(), len(columns))
    if key_idx is not None and key_chunks:
        import pyarrow.compute as pc

        uniq = pc.unique(pa.chunked_array(key_chunks))
        kfs, kinner = fsio.resolve(keys_path)
        fsio.makedirs(keys_path.rsplit("/", 1)[0])
        pq.write_table(pa.table({key_col: uniq}), kinner, filesystem=kfs)
    return metas


def _commit_snapshot(plan: dict, by_part: dict[int, list],
                     new_deletes: list[dict] | None = None) -> None:
    """Driver-side snapshot commit: publish this job's fragments
    (``by_part``: part_id → its chunk meta rows), then finish through
    encode's one data-commit tail. ``new_deletes``: upsert's scoped
    delete entries, committed in the SAME snapshot as the data."""
    from fhirflat_spark.encode import _commit_data, _own_table, _write_fragment

    path = plan["path"]
    # streaming commits are always append-style: the plan's "create"
    # mode describes the TABLE at query start, not each micro-batch —
    # batch N must not wipe batches 0..N-1
    replace = not plan["streaming"] and plan["mode"] in ("create", "replace")
    if replace:
        # the new commit owns the whole table — including a crashed
        # prior job's fragments (a dir with fragments but no
        # _SUMMARY.json plans as "create"). A schema-changing overwrite
        # cannot keep time travel: the summary records ONE schema per
        # table, and an old snapshot decoded under a new schema would
        # mis-type every column.
        _own_table(path, keep_history=plan["history_compatible"])
    for pid in sorted(by_part):
        _write_fragment(f"{path}/manifest_parts", pid, by_part[pid])
    _commit_data(
        path, set(by_part), columns=plan["columns"],
        spark_schema=plan["schema_json"], t0=plan["t0"],
        bloom=plan["bloom"], ndv=plan["ndv"], qsk=plan["qsk"],
        replace=replace, new_deletes=new_deletes, branch=plan["branch"],
    )


class FhirflatBatchWriter(DataSourceArrowWriter):
    """Batch sink: task-direct chunk writes, one snapshot per job."""

    def __init__(self, options, schema, overwrite: bool):
        self._plan = _write_plan(options, schema, overwrite, streaming=False)

    def _keys_dir(self) -> str:
        # keyed by offset AND the job token: concurrent with the library
        # convention (u{offset}.parquet) but never colliding with it
        p = self._plan
        return (f"{p['path']}/deletes/"
                f"u{p['part_offset']:010d}-{p['stage_token']}")

    def write(self, iterator):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        rel = ctx.partitionId() if ctx is not None else 0
        attempt = ctx.taskAttemptId() if ctx is not None else 0
        plan = self._plan
        pid = plan["part_offset"] + rel
        fname = f"data-{plan['stage_token']}-a{attempt}.parquet"
        kname = f"k{rel:06d}-a{attempt}.parquet" if plan["upsert_key"] else None
        metas = _encode_partition(
            plan, pid, iterator,
            f"{plan['path']}/chunks/part_id={pid}/{fname}",
            keys_path=f"{self._keys_dir()}/{kname}" if kname else None,
        )
        return ChunkWriteMessage(
            part_rel=rel, file=fname if metas else None, meta=metas,
            keys_file=kname if metas else None,
        )

    def commit(self, messages):
        from fhirflat_spark import fsio
        from fhirflat_spark.encode import keep_only

        plan = self._plan
        by_part: dict[int, list] = {}
        key_files: set[str] = set()
        for m in messages:
            if m is None or m.file is None:
                continue
            pid = plan["part_offset"] + m.part_rel
            keep_only(f"{plan['path']}/chunks/part_id={pid}", m.file)
            by_part[pid] = m.meta
            if m.keys_file:
                key_files.add(m.keys_file)
        new_deletes = None
        if key_files:
            # drop losing attempts' key files, publish the dir as ONE
            # scoped delete entry (below the job's first fresh part id =
            # exactly the pre-existing rows)
            kd = self._keys_dir()
            for name in fsio.list_files(kd, suffix=".parquet"):
                if name not in key_files:
                    fsio.delete_file(f"{kd}/{name}")
            new_deletes = [{
                "file": kd.rsplit("/", 1)[1],
                "column": plan["upsert_key"],
                "below_part": plan["part_offset"],
            }]
        _commit_snapshot(plan, by_part, new_deletes=new_deletes)

    def abort(self, messages):
        # data landed only in part-id dirs no manifest references —
        # drop them; the table (manifest/summary/snapshots) is untouched
        from fhirflat_spark import fsio

        plan = self._plan
        for m in messages:
            if m is None:
                continue
            pid = plan["part_offset"] + m.part_rel
            fsio.delete_dir(f"{plan['path']}/chunks/part_id={pid}")
        if plan["upsert_key"]:
            fsio.delete_dir(self._keys_dir())


class FhirflatStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink: staged task writes, one snapshot per micro-batch,
    replay-idempotent part-id namespace (batchId * parts_per_batch)."""

    def __init__(self, options, schema, overwrite: bool):
        self._plan = _write_plan(options, schema, overwrite, streaming=True)

    def _stage_dir(self) -> str:
        return f"{self._plan['path']}/chunks_staging/{self._plan['stage_token']}"

    def write(self, iterator):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        rel = ctx.partitionId() if ctx is not None else 0
        attempt = ctx.taskAttemptId() if ctx is not None else 0
        plan = self._plan
        ppb = plan["parts_per_batch"]
        if rel >= ppb:
            raise ValueError(
                f"micro-batch has ≥{ppb} partitions — raise parts_per_batch"
            )
        fname = f"t{rel:06d}-a{attempt}.parquet"
        kname = f"k{rel:06d}-a{attempt}.parquet" if plan["upsert_key"] else None
        # the final part id needs the batchId (driver-side commit only);
        # stage under the query token, encode with a RELATIVE id and fix
        # it up at commit (part_id is not baked into chunk file content)
        metas = _encode_partition(
            plan, rel, iterator, f"{self._stage_dir()}/{fname}",
            keys_path=f"{self._stage_dir()}/keys/{kname}" if kname else None,
        )
        return ChunkWriteMessage(
            part_rel=rel, file=fname if metas else None, meta=metas,
            keys_file=kname if metas else None,
        )

    def commit(self, messages, batchId: int):
        from fhirflat_spark import fsio
        from fhirflat_spark.encode import keep_only

        plan = self._plan
        ppb = plan["parts_per_batch"]
        start = plan["part_offset"] + int(batchId) * ppb
        # the batch's keys dir is a pure function of the batchId, so a
        # REPLAYED batch re-publishes the same entry name (the manifest's
        # by-file dedup keeps one copy) — clear it first so a prior
        # attempt's key files don't linger beside the replay's
        keys_dir = f"{plan['path']}/deletes/u{start:010d}"
        if plan["upsert_key"]:
            fsio.delete_dir(keys_dir)
        by_part: dict[int, list] = {}
        new_deletes: list[dict] = []
        for m in messages:
            if m is None or m.file is None:
                continue
            pid = start + m.part_rel
            target = f"{plan['path']}/chunks/part_id={pid}"
            # a replayed batch re-commits exactly its own dirs: clear the
            # prior attempt's files, then promote this one
            keep_only(target, m.file)
            fsio.move(f"{self._stage_dir()}/{m.file}", f"{target}/{m.file}")
            by_part[pid] = [dict(meta, part_id=pid) for meta in m.meta]
            if m.keys_file:
                fsio.move(f"{self._stage_dir()}/keys/{m.keys_file}",
                          f"{keys_dir}/{m.keys_file}")
        if (plan["upsert_key"] and start > 0
                and any(m and m.keys_file for m in messages)):
            # scope below this batch's first part id: earlier batches AND
            # any pre-existing table rows — the streaming CDC-apply
            # semantics (latest batch wins per key)
            new_deletes.append({
                "file": keys_dir.rsplit("/", 1)[1],
                "column": plan["upsert_key"],
                "below_part": start,
            })
        fsio.delete_dir(self._stage_dir())
        if by_part:
            _commit_snapshot(plan, by_part,
                             new_deletes=new_deletes or None)

    def abort(self, messages, batchId: int):
        from fhirflat_spark import fsio

        fsio.delete_dir(self._stage_dir())
