"""Table maintenance — the Iceberg maintenance-procedure analog
(`rewrite_data_files` + `expire_snapshots` + orphan cleanup) for the
chunk store.

A streaming or daily-append ingest fragments the table: every commit
mints new (often under-filled) partitions and a new snapshot. Left
alone, at 100 TB that means millions of small partition directories
(listing + task-overhead poison) and an unbounded snapshot log.
``maintain_table`` applies the standard countermeasures on a policy:
compact when fragmentation crosses a threshold, expire old snapshots,
vacuum unreferenced chunk partitions.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from fhirflat_spark import fsio


def table_health(spark: SparkSession, out_dir: str,
                 rows_per_bucket: int = 250_000) -> dict:
    """Fragmentation/retention/delete-overlay report from metadata only
    (manifest + snapshot listing + delete-file FOOTERS — never the
    data). ``delete_ratio`` = delete-file rows / physical rows: exact-ish
    for positional deletes and unique-key upserts (the engine's dominant
    delete shapes), an UNDER-count for an equality delete on a
    non-unique column (one key row can shadow many data rows — after
    such a delete, compact explicitly or use a lower threshold). A
    maintenance trigger, never an answer."""
    from fhirflat_spark.manifest import (
        _snapshot_versions,
        read_summary,
        table_view,
    )

    view = table_view(out_dir)
    part_rows = [int(r) for r in view.manifest["rows"].to_pylist()]
    rows = sum(part_rows)
    n_parts = len(part_rows)
    underfilled = sum(1 for r in part_rows if r < rows_per_bucket / 2)
    ideal = max(1, math.ceil(rows / rows_per_bucket))
    summary = read_summary(spark, out_dir)
    active = view.deletes
    delete_keys = sum(
        fsio.count_parquet_rows(f"{out_dir}/deletes/{e['file']}")
        for e in active
    )
    return {
        "rows": rows,
        "n_partitions": n_parts,
        "ideal_partitions": ideal,
        "underfilled_partitions": underfilled,
        "fragmentation": round(underfilled / n_parts, 4) if n_parts else 0.0,
        "n_snapshots": len(_snapshot_versions(out_dir)),
        "encoded_bytes": summary.get("encoded_bytes"),
        "active_delete_files": len(active),
        "delete_keys": int(delete_keys),
        "delete_ratio": round(delete_keys / rows, 4) if rows else 0.0,
    }


def binpack_partitions(spark: SparkSession, out_dir: str,
                       part_ids: list[int] | None = None,
                       rows_per_bucket: int = 250_000,
                       min_fill: float = 0.5,
                       profile: str = "balanced",
                       order_by: list[str] | None = None,
                       dry_run: bool = False) -> dict:
    """Partial IN-PLACE compaction — Iceberg ``rewrite_data_files``
    binpack: rewrite only the under-filled partitions (or an explicit
    ``part_ids`` list) into full-size ones, committed as ONE snapshot
    that atomically swaps the old partitions for the new. Unlike
    ``compact_table`` (full rewrite into a new directory, history
    reset), this

    - costs IO proportional to the FRAGMENTED slice, not the table —
      the only shape that works on a 100 TB table accreting small
      daily appends;
    - preserves history: the replaced partitions' chunk dirs and
      manifest fragments stay on disk, so every retained snapshot
      still time-travels (``expire_snapshots`` + ``vacuum`` reclaim
      them later);
    - materializes active row-level deletes FOR THE REWRITTEN ROWS
      ONLY (they are decoded through the merge-on-read overlay; the
      delete entries stay active for the untouched partitions).

    Selection: partitions with fewer than ``min_fill *
    rows_per_bucket`` physical rows. Needs at least two victims to be
    worth a commit (one under-filled partition cannot pack tighter).
    ``order_by`` sorts the rewritten slice (local zone selectivity;
    for whole-table ordering use ``compact_table(order_by=...)``).
    Concurrency: a data commit — raises ``CommitConflictError`` on a
    race, and refuses while a WAP branch has staged history."""
    from pyspark.sql import functions as F

    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.encode import append_table
    from fhirflat_spark.manifest import (
        _branch_staged_versions,
        read_summary,
        table_view,
    )

    if _branch_staged_versions(out_dir):
        # fail BEFORE writing chunk files: the final commit would raise
        # anyway (write_manifest), leaving orphan chunk dirs behind
        raise ValueError("branch(es) have unpublished staged commits; "
                         "publish or drop them before binpacking")
    summary = read_summary(spark, out_dir)
    view = table_view(out_dir)
    live = {
        int(p): int(r)
        for p, r in zip(view.manifest["part_id"].to_pylist(),
                        view.manifest["rows"].to_pylist())
    }
    if part_ids is None:
        victims = sorted(
            p for p, r in live.items() if r < min_fill * rows_per_bucket
        )
    else:
        victims = sorted(set(int(p) for p in part_ids))
        unknown = [p for p in victims if p not in live]
        if unknown:
            raise ValueError(f"part_ids {unknown} are not live partitions")
    for c in order_by or []:
        if c not in summary["columns"]:
            raise ValueError(f"order_by column {c!r} not in dataset "
                             f"columns {summary['columns']}")
    report = {
        "packed": False,
        "victim_part_ids": victims,
        "victim_rows_physical": sum(live[p] for p in victims),
    }
    if len(victims) < 2:
        return report
    if dry_run:
        report["would_pack"] = True
        return report
    df = decode_table(spark, out_dir, part_ids=victims, snapshot=view)
    n = df.count()  # LOGICAL rows (merge-on-read deletes applied)
    if n == 0:
        # r6 (ADVICE): every victim row is delete-shadowed — there is
        # nothing to rewrite, so appending an empty frame with
        # replace_pids would lean on the empty-encode path actually
        # committing. Drop the victims metadata-only instead (the same
        # commit primitive delete_where uses); chunks/fragments stay
        # for time travel until expiry + vacuum.
        from fhirflat_spark.manifest import commit_partition_drop

        commit_partition_drop(spark, out_dir, set(victims))
        from fhirflat_spark.manifest import current_snapshot

        report.update({
            "packed": True,
            "rewritten_rows": 0,
            "new_partitions": 0,
            "n_partitions_after": len(live) - len(victims),
            "snapshot": current_snapshot(out_dir),
        })
        return report
    nparts = max(1, -(-n // int(rows_per_bucket)))
    if order_by:
        df = (df.repartitionByRange(nparts, *order_by)
              .sortWithinPartitions(*[F.col(c) for c in order_by]))
    else:
        df = df.repartition(nparts)
    res = append_table(
        df, out_dir, rows_per_bucket=rows_per_bucket, shuffle=False,
        profile=profile, replace_pids=set(victims),
        # victims' key-count stats fragments already cover these rows —
        # an empty caller-supplied list suppresses the delta scan so
        # merged totals don't double-count the rewrite
        key_counts=[],
        ndv_columns=[c for c in summary.get("ndv_columns", ())
                     if c in df.columns],
        quantile_columns=[c for c in summary.get("quantile_columns", ())
                          if c in df.columns],
    )
    report.update({
        "packed": True,
        "rewritten_rows": int(n),
        "new_partitions": int(nparts),
        "n_partitions_after": res.num_partitions,
        "snapshot": None,
    })
    from fhirflat_spark.manifest import current_snapshot

    report["snapshot"] = current_snapshot(out_dir)
    return report


def _entails_partition(pred: tuple, n_rows: int, zones: dict,
                       nulls: dict | None, dtype=None) -> bool:
    """True only when the predicate provably holds for EVERY physical
    row of a partition from its manifest rollups alone (col_zones +
    col_nulls) — the gate for a metadata-only partition drop. Follows
    the manifest's stats-v2 conventions: ``nulls is None`` = untracked
    (pre-v2) → never entailed; a column ABSENT from the nulls map is
    all-NULL in this partition (evolved schema). Value-op comparisons
    delegate to :func:`encoded_exec._pred_entails_chunk`, whose
    truncated-string-zone tests each use the bound on its safe side —
    truncation can only LOSE entailment, never fake it. Conservative
    declines (floats, missing zones, type mismatches) fall to the exact
    Spark scan path, so this function affects IO, never answers."""
    from fhirflat_spark.encoded_exec import _pred_entails_chunk

    col, op, _v = pred
    if nulls is None:
        return False
    n_null = nulls.get(col, n_rows)
    if op == "nu":
        return n_null == n_rows
    if n_null != 0:  # a NULL row fails every value predicate
        return False
    if op == "nn":
        return True
    return _pred_entails_chunk(
        pred, {"n_rows": n_rows, "nulls": {col: 0}, "zones": zones or {}},
        dtype,
    )


def delete_where(spark: SparkSession, out_dir: str, where,
                 dry_run: bool = False) -> dict:
    """Predicate DELETE — ``DELETE FROM t WHERE ...`` over the where
    mini-language (``(col, op, value)`` tuples, a conjunctive list, or
    CNF with list-of-predicate OR clauses;
    ops eq/lt/le/gt/ge/in/sw/nu/nn), the retention-job primitive
    (``DELETE WHERE ts < cutoff``) a 100 TB table needs. Three tiers,
    ONE snapshot commit:

    - partitions whose manifest zones/null rollups prove NO row matches
      are untouched (zone pruning, :func:`prune_part_ids_by_zones`);
    - partitions whose rollups prove EVERY row matches are dropped from
      the manifest — metadata-only, zero data bytes read or written
      (the Iceberg metadata-delete analog); their chunks/fragments stay
      for time travel until expire + vacuum;
    - straddling partitions are scanned (filter columns only) and their
      matching rows become ONE positional-delete entry, applied
      merge-on-read like ``delete_rows_at`` and materialized by the
      next compaction.

    Entailment is conservative (floats, booleans, missing stats decline
    to the scan path, where Spark's own comparison semantics define the
    answer exactly — NULL rows never match a value predicate, matching
    SQL DELETE). Like ``delete_rows``, the commit auto-retries races
    and applies to the table's current state. A window containing this
    commit is NOT append-only: ``table_changes`` diffs the views and
    the streaming changefeed reader raises (reconcile + restart), both
    by design. ``dry_run=True`` reports the classification without
    scanning or committing."""
    import json as _json
    import operator as _ops
    import uuid
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.encoded_exec import (
        _normalize_where,
        _where_exprs,
        _where_zones,
    )
    from fhirflat_spark.manifest import (
        _deletes_dir,
        commit_partition_drop,
        prune_part_ids_by_nulls,
        prune_part_ids_by_zones,
        read_summary,
        table_view,
    )

    preds = _normalize_where(where)
    if not preds:
        raise ValueError("delete_where needs at least one predicate")
    from fhirflat_spark.encoded_exec import _flat_preds

    summary = read_summary(spark, out_dir)
    unknown = [c for c, _, _ in _flat_preds(preds)
               if c not in summary["columns"]]
    if unknown:
        raise ValueError(f"where columns {unknown} not in dataset "
                         f"columns {summary['columns']}")
    view = table_view(out_dir)
    if view.version is None:
        raise ValueError(f"{out_dir} has no committed snapshot")
    schema = T.StructType.fromJson(_json.loads(summary["spark_schema"]))
    type_of = {f.name: f.dataType for f in schema.fields}
    t = view.manifest
    names = t.schema.names
    meta = {}
    for i in range(t.num_rows):
        zj = t["col_zones"][i].as_py() if "col_zones" in names else None
        nj = t["col_nulls"][i].as_py() if "col_nulls" in names else None
        meta[int(t["part_id"][i].as_py())] = (
            int(t["rows"][i].as_py()),
            _json.loads(zj) if zj else {},
            _json.loads(nj) if nj is not None else None,
        )
    cand = prune_part_ids_by_zones(t, sorted(meta), _where_zones(preds),
                                   type_of)
    # null-prune only from UNIT clauses: an OR'd nu/nn can be satisfied
    # through its sibling branch
    nullchecks = [(c, op == "nu") for cl in preds if len(cl) == 1
                  for c, op, _ in cl if op in ("nu", "nn")]
    if nullchecks:
        cand = prune_part_ids_by_nulls(t, cand, nullchecks)
    drop, scan = [], []
    for pid in cand:
        n_rows, zones, nulls = meta[pid]
        if all(any(_entails_partition(p, n_rows, zones, nulls,
                                      type_of.get(p[0])) for p in cl)
               for cl in preds):
            drop.append(pid)
        else:
            scan.append(pid)
    report = {
        "snapshot": None,
        "parts_dropped": drop,
        "rows_dropped_physical": sum(meta[p][0] for p in drop),
        "parts_scanned": scan,
        "n_positions": 0,
    }
    if dry_run:
        report["would_commit"] = bool(drop or scan)
        return report
    pos_file = None
    if scan:
        cond = reduce(_ops.and_, _where_exprs(preds))
        losers = (
            decode_table(spark, out_dir,
                         columns=sorted({c for c, _, _
                                         in _flat_preds(preds)}),
                         part_ids=scan, with_positions=True, snapshot=view)
            .where(cond)
            .select(
                F.col("__part_id").cast("int").alias("part_id"),
                F.col("__chunk_seq").cast("int").alias("chunk_seq"),
                F.col("__row_idx").cast("int").alias("row_idx"),
            )
            .distinct()
        )
        pos_file = f"w{uuid.uuid4().hex[:12]}.parquet"
        dest = f"{_deletes_dir(out_dir)}/{pos_file}"
        losers.write.mode("overwrite").parquet(dest)
        n_pos = fsio.count_parquet_rows(dest)
        if n_pos == 0:
            fsio.delete_dir(dest)
            pos_file = None
        else:
            report["n_positions"] = int(n_pos)
    if not drop and pos_file is None:
        return report  # nothing matched: no commit (Iceberg no-op DELETE)
    stats = commit_partition_drop(spark, out_dir, set(drop), pos_file)
    report["snapshot"] = stats["snapshot"]
    return report


def update_where(spark: SparkSession, out_dir: str, where,
                 set_exprs: dict[str, str],
                 rows_per_bucket: int = 250_000,
                 profile: str = "balanced") -> dict:
    """Predicate UPDATE — ``UPDATE t SET col = expr WHERE ...`` as ONE
    snapshot commit with IO proportional to the MATCHED slice, not the
    table (the GDPR-redaction / backfill-fix shape at 100 TB):

    - partitions whose manifest zones prove no row matches are never
      read (``prune_part_ids_by_zones``);
    - candidate partitions decode once; matching rows get their
      ``set_exprs`` (SQL expression strings, evaluated per row by
      Catalyst and cast back to the column's declared type — silent
      type drift is how tables rot; every RHS sees the OLD row, SQL
      UPDATE's simultaneous-assignment semantics, so
      ``{"a": "b", "b": "a"}`` swaps) and append as NEW partitions, while
      their old copies position-delete in the SAME commit
      (``append_table(delete_positions=)``) — a reader never sees both
      images or neither.

    Unlike the equality-keyed MERGE (``upsert_rows``/``apply_changes``)
    this needs no key column: rows are addressed physically. NULL rows
    never match a value predicate (SQL UPDATE semantics). The commit
    window stays append-only (parts grow, one delete entry appends), so
    batch CDF takes the fast path; the streaming changefeed reader
    refuses positional deletes loudly, as documented."""
    import json as _json
    import operator as _ops
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.encode import append_table
    from fhirflat_spark.encoded_exec import (
        _normalize_where,
        _where_exprs,
        _where_zones,
    )
    from fhirflat_spark.manifest import (
        current_snapshot,
        prune_part_ids_by_nulls,
        prune_part_ids_by_zones,
        read_summary,
        table_view,
    )

    preds = _normalize_where(where)
    if not preds:
        raise ValueError("update_where needs at least one predicate")
    if not set_exprs:
        raise ValueError("update_where needs at least one SET expression")
    from fhirflat_spark.encoded_exec import _flat_preds

    summary = read_summary(spark, out_dir)
    cols = summary["columns"]
    bad = [c for c, _, _ in _flat_preds(preds) if c not in cols] + \
        [c for c in set_exprs if c not in cols]
    if bad:
        raise ValueError(f"columns {sorted(set(bad))} not in dataset "
                         f"columns {cols}")
    view = table_view(out_dir)
    if view.version is None:
        raise ValueError(f"{out_dir} has no committed snapshot")
    schema = T.StructType.fromJson(_json.loads(summary["spark_schema"]))
    type_of = {f.name: f.dataType for f in schema.fields}
    live = view.part_ids
    cand = prune_part_ids_by_zones(view.manifest, live, _where_zones(preds),
                                   type_of)
    nullchecks = [(c, op == "nu") for cl in preds if len(cl) == 1
                  for c, op, _ in cl if op in ("nu", "nn")]
    if nullchecks:
        cand = prune_part_ids_by_nulls(view.manifest, cand, nullchecks)
    report = {"snapshot": None, "rows_updated": 0,
              "parts_scanned": len(cand), "parts_pruned": len(live) - len(cand)}
    if not cand:
        return report
    cond = reduce(_ops.and_, _where_exprs(preds))
    pos = ["__part_id", "__chunk_seq", "__row_idx"]
    matched = (
        decode_table(spark, out_dir, part_ids=cand, with_positions=True,
                     snapshot=view)
        .where(cond)
        .persist()
    )
    try:
        n = matched.count()
        if n == 0:
            return report
        positions = matched.select(
            F.col("__part_id").alias("part_id"),
            F.col("__chunk_seq").alias("chunk_seq"),
            F.col("__row_idx").alias("row_idx"),
        )
        # ONE select so every RHS evaluates against the OLD row — SQL
        # UPDATE's simultaneous assignment (a chained withColumn would
        # leak each assignment into later RHS and make the result
        # depend on dict order)
        assign = {c: F.expr(e).cast(type_of[c])
                  for c, e in set_exprs.items()}
        updated = matched.select(
            *[assign.get(c, F.col(c)).alias(c) for c in cols]
        )
        append_table(updated, out_dir,
                     rows_per_bucket=rows_per_bucket, profile=profile,
                     delete_positions=positions)
    finally:
        matched.unpersist()
    report.update(snapshot=current_snapshot(out_dir), rows_updated=int(n))
    return report


def analyze_table(spark: SparkSession, out_dir: str,
                  ndv_columns: list[str] | None = None,
                  quantile_columns: list[str] | None = None) -> dict:
    """Backfill NDV (HLL) and quantile (DDSketch) metadata onto
    partitions encoded before the columns were opted in — the Iceberg
    ANALYZE / compute-table-stats analog, unlocking the 0-IO metadata
    readers (``ndv_from_metadata`` / ``quantile_from_metadata``) on
    legacy data WITHOUT rewriting a single chunk.

    Incomplete chunks (non-null values for a requested column, no
    sketch recorded) are scanned DISTRIBUTED and column-pruned — only
    the requested columns' blobs decode — and sketched with the same
    kernels encode uses, so the result is bit-identical to what
    encode-time opt-in would have produced (both sketches are pure
    functions of the value multiset; pytest-pinned). All-null chunks
    are never scanned (absence is exact). Fragments are updated FIRST
    (crash-safe: fragment stats are merge inputs for future appends —
    extra keys without the commit just mean the next append's manifest
    carries them), then one metadata-only snapshot commit
    (``manifest.commit_stats_update``) publishes the merged partition
    sketches and extends the summary's tracked-column lists so future
    appends keep sketching.

    Refuses under active row-level deletes: chunk stats are PHYSICAL
    and the logical view diverges — the same contract the metadata
    readers enforce. NaN/inf-poisoned quantile chunks re-scan on every
    call and re-omit the sketch (matching encode; the reader's
    null-count cross-check refuses service rather than lying)."""
    import json as _json

    from pyspark.sql import types as T

    from fhirflat_spark import ndv as _ndv
    from fhirflat_spark import quantiles as _q
    from fhirflat_spark.decode import _check_version, scan_chunks
    from fhirflat_spark.manifest import (
        _branch_staged_versions,
        commit_stats_update,
        read_summary,
        table_view,
    )

    ncols = list(dict.fromkeys(ndv_columns or []))
    qcols = list(dict.fromkeys(quantile_columns or []))
    if not ncols and not qcols:
        raise ValueError("analyze_table needs ndv_columns and/or "
                         "quantile_columns")
    summary = read_summary(spark, out_dir)
    _check_version(summary)
    all_cols = summary["columns"]
    schema = T.StructType.fromJson(_json.loads(summary["spark_schema"]))
    for c in ncols:
        if c not in all_cols:
            raise ValueError(f"ndv column {c!r} not in dataset columns")
        if not isinstance(schema[c].dataType,
                          (T.StringType, T.BinaryType, T.ByteType,
                           T.ShortType, T.IntegerType, T.LongType)):
            raise ValueError(
                f"ndv column {c!r} must be a string/binary/integer "
                f"column (got {schema[c].dataType})"
            )
    for c in qcols:
        if c not in all_cols:
            raise ValueError(f"quantile column {c!r} not in dataset columns")
        if not isinstance(schema[c].dataType,
                          (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType, T.FloatType, T.DoubleType)):
            raise ValueError(
                f"quantile column {c!r} must be a numeric column "
                f"(got {schema[c].dataType})"
            )
    view = table_view(out_dir)
    if view.deletes:
        raise ValueError(
            "dataset has active row-level deletes: chunk sketches are "
            "physical while the logical view diverges — run "
            "compact_table to materialize deletes first"
        )
    if _branch_staged_versions(out_dir):
        raise ValueError("branch(es) have unpublished staged commits; "
                         "publish or drop them before analyzing")
    frag_dir = f"{out_dir}/manifest_parts"
    frags: dict[int, list[dict]] = {}
    # per chunk, the (col, kind) sketches still missing where values
    # exist — the key-presence test alone can't distinguish "all-null"
    # from "untracked", but the nulls rollup can (absent = all-null)
    need: dict[tuple[int, int], list[tuple[str, bool, bool]]] = {}
    affected: set[int] = set()
    for pid in view.part_ids:
        rows = _json.loads(fsio.read_bytes(f"{frag_dir}/{pid:06d}.json"))
        frags[pid] = rows
        for ci, ch in enumerate(rows):
            n = int(ch["n_rows"])
            nulls = ch.get("nulls") or {}
            for col, kind in [(c, "hlls") for c in ncols] + [
                    (c, "ddqs") for c in qcols]:
                if kind not in ch:
                    affected.add(pid)
                has_values = nulls.get(col, n) < n
                if has_values and col not in ch.get(kind, {}):
                    affected.add(pid)
                    seq = int(ch["chunk_seq"])
                    ent = need.setdefault((pid, seq), [])
                    ent.append((col, kind == "hlls", kind == "ddqs"))
    report = {"snapshot": None, "parts_updated": [],
              "chunks_scanned": len(need)}
    if not affected:
        return report
    computed: dict[tuple[int, int], dict] = {}
    if need:
        scan_cols = sorted({c for ents in need.values() for c, _, _ in ents})
        field_of = {c: f"__c{all_cols.index(c)}" for c in scan_cols}
        scan_pids = sorted({p for p, _ in need})
        # per-chunk work map shipped into the kernel (metadata-sized:
        # only chunks with missing sketches appear) so tasks decode and
        # sketch exactly the missing (column, kind) pairs — a partition
        # needing one column's HLL doesn't pay the other column's
        # DDSketch, and already-sketched chunks in a scanned partition
        # cost nothing
        need_of: dict[tuple[int, int], dict] = {}
        for (p, s), ents in need.items():
            m = need_of.setdefault((int(p), int(s)), {})
            for c, wh, wq in ents:  # a chunk may need BOTH kinds of c
                ph, pq = m.get(c, (False, False))
                m[c] = (ph or wh, pq or wq)
        out_schema = T.StructType([
            T.StructField("part_id", T.IntegerType(), False),
            T.StructField("chunk_seq", T.IntegerType(), False),
            T.StructField("col", T.StringType(), False),
            T.StructField("hll", T.StringType(), True),
            T.StructField("ddq", T.StringType(), True),
        ])
        def kernel(batches):
            import pyarrow as pa

            from fhirflat_spark.codecs import decode_array
            from fhirflat_spark.decode import _blob_view

            for batch in batches:
                rows = {"part_id": [], "chunk_seq": [], "col": [],
                        "hll": [], "ddq": []}
                pids_a = batch.column("part_id")
                seqs_a = batch.column("chunk_seq")
                for i in range(batch.num_rows):
                    ents = need_of.get(
                        (pids_a[i].as_py(), seqs_a[i].as_py())
                    )
                    if not ents:
                        continue  # chunk already fully sketched
                    for j, c in enumerate(scan_cols):
                        if c not in ents:
                            continue
                        cell = batch.column(f"__b{j}")[i]
                        if not cell.is_valid:
                            continue  # evolved chunk: all-null, no sketch
                        arr = decode_array(_blob_view(batch.column(f"__b{j}"), i))
                        wh, wq = ents[c]
                        regs = _ndv.hll_registers(arr) if wh else None
                        sk = _q.ddq_sketch(arr) if wq else None
                        if regs is None and sk is None:
                            continue
                        rows["part_id"].append(pids_a[i].as_py())
                        rows["chunk_seq"].append(seqs_a[i].as_py())
                        rows["col"].append(c)
                        rows["hll"].append(
                            regs.hex() if regs is not None else None)
                        rows["ddq"].append(
                            _json.dumps(sk, separators=(",", ":"))
                            if sk is not None else None)
                if rows["part_id"]:
                    yield pa.RecordBatch.from_pydict(
                        rows,
                        schema=pa.schema([
                            ("part_id", pa.int32()),
                            ("chunk_seq", pa.int32()),
                            ("col", pa.string()),
                            ("hll", pa.string()),
                            ("ddq", pa.string()),
                        ]),
                    )

        payload = {f"__b{j}": field_of[c] for j, c in enumerate(scan_cols)}
        for r in scan_chunks(spark, out_dir, view, scan_pids, kernel,
                             out_schema, payload=payload,
                             meta=["part_id", "chunk_seq"]).collect():
            computed.setdefault((r["part_id"], r["chunk_seq"]), {})[
                r["col"]] = (r["hll"], r["ddq"])
    # rewrite affected fragments: every chunk row gains the tracked
    # kind keys (all-null chunks get empty maps — "tracked, no values",
    # exactly what encode emits) plus the computed sketches
    from fhirflat_spark.encode import _write_fragment

    updates: dict[int, tuple[str | None, str | None]] = {}
    from fhirflat_spark.manifest import (
        _merge_chunk_ddqs,
        _merge_chunk_hlls,
    )

    for pid in sorted(affected):
        rows = frags[pid]
        for ch in rows:
            if ncols:
                ch.setdefault("hlls", {})
            if qcols:
                ch.setdefault("ddqs", {})
            got = computed.get((pid, int(ch["chunk_seq"])), {})
            for col, (hx, dj) in got.items():
                if hx is not None:
                    ch["hlls"][col] = hx
                if dj is not None:
                    ch["ddqs"][col] = _json.loads(dj)
        _write_fragment(frag_dir, pid, rows)
        hlls = _merge_chunk_hlls(rows)
        ddqs = _merge_chunk_ddqs(rows)
        updates[pid] = (
            _json.dumps(hlls, separators=(",", ":"))
            if hlls is not None else None,
            _json.dumps(ddqs, separators=(",", ":"))
            if ddqs is not None else None,
        )
    stats = commit_stats_update(spark, out_dir, updates,
                                ndv_columns=ncols, quantile_columns=qcols)
    report.update(snapshot=stats["snapshot"],
                  parts_updated=stats["parts_updated"])
    return report


def maintain_table(spark: SparkSession, out_dir: str,
                   rows_per_bucket: int = 250_000,
                   keep_snapshots: int = 3,
                   compact_fragmentation: float = 0.5,
                   compact_delete_ratio: float = 0.2,
                   profile: str = "balanced",
                   dry_run: bool = False,
                   order_by: list[str] | None = None,
                   zorder: bool = False,
                   expire_older_than=None) -> dict:
    """One-call maintenance pass. Policy:

    - **compact** when over ``compact_fragmentation`` of partitions are
      under half-filled AND the table has at least twice its ideal
      partition count: full clustered rewrite (``compact_table``) into a
      sibling build directory, verified by row count, then swapped in
      (rename old aside → rename new into place → delete old — the
      build dir is complete-or-discardable and the source is untouched
      until the swap, so a crash loses no data; local filesystems only,
      an object-store deployment flips its table-location pointer
      instead, which is exactly Iceberg's commit). Compaction resets the
      snapshot log — history is traded for layout, the same trade
      Iceberg's `rewrite_data_files` + `expire_snapshots` makes.
      ALSO compacts when the delete overlay grows past
      ``compact_delete_ratio`` of the physical rows (merge-on-read
      deletes tax every read; the rewrite materializes them and resets
      the overlay to empty).
    - **expire** all but the newest ``keep_snapshots`` snapshots
      (``expire_older_than`` additionally restricts expiry to
      snapshots committed before the cutoff — Iceberg's age rule).
    - **vacuum** chunk partitions no retained snapshot references.

    ``order_by``/``zorder`` pass through to ``compact_table`` when the
    policy compacts: the rewrite then restores sort-key clustering (and
    with it zone/threshold pruning), not just partition fill.

    ``dry_run=True`` reports what would happen without touching bytes.
    Returns the health report plus the actions taken."""
    import os
    import shutil

    from fhirflat_spark.decode import compact_table
    from fhirflat_spark.manifest import _local, expire_snapshots, vacuum

    # crash recovery: a previous maintenance that died between the two
    # swap renames leaves the table parked at .pre_compact — restore it
    # before reading any metadata
    local_out = _local(out_dir)
    parked = f"{local_out}.pre_compact"
    if fsio.is_local(out_dir) and not os.path.exists(local_out) \
            and os.path.exists(parked):
        os.rename(parked, local_out)

    health = table_health(spark, out_dir, rows_per_bucket=rows_per_bucket)
    # convergence guards: (a) encode cannot produce fewer partitions
    # than the cluster parallelism; (b) only APPEND-accreted tables
    # (snapshot log > 1) are candidates — a fresh salted encode's
    # per-key partitions are already the layout a rewrite would
    # reproduce, and compaction resets the log to 1, so a compacted
    # table cannot be re-flagged until new appends land
    floor = spark.sparkContext.defaultParallelism
    needs_compact = (
        health["n_snapshots"] > 1
        and health["n_partitions"] >= 2 * health["ideal_partitions"]
        and health["n_partitions"] > floor
        and health["fragmentation"] > compact_fragmentation
    ) or (
        # delete-overlay trigger (Iceberg rewrite-on-delete-files): a
        # merge-on-read anti-join over every read eventually costs more
        # than one rewrite — materialize once the shadowed fraction
        # crosses the threshold. delete_ratio counts delete-file rows
        # (see table_health): right-sized for positional/unique-key
        # deletes, an under-count for non-unique equality keys.
        health["n_snapshots"] > 1
        and health["delete_ratio"] > compact_delete_ratio
    )
    report = {"health": health, "compacted": False,
              "expired_snapshots": [], "vacuumed_part_ids": [],
              "would_compact": needs_compact}
    if dry_run:
        return report
    if needs_compact:
        if not fsio.is_local(out_dir):
            raise ValueError(
                "in-place compaction swaps directories — on an object "
                "store, compact_table to a new location and flip the "
                "table pointer instead"
            )
        # FIXED sibling names (not pid-suffixed): a rerun after a crash
        # cleans the predecessor's debris instead of orphaning a full
        # table copy per attempt, and the recovery path above knows
        # where a parked table lives
        build = f"{local_out}.compacting"
        shutil.rmtree(build, ignore_errors=True)
        shutil.rmtree(parked, ignore_errors=True)
        compact_table(spark, out_dir, build,
                      rows_per_bucket=rows_per_bucket, profile=profile,
                      order_by=order_by, zorder=zorder)
        os.rename(local_out, parked)
        os.rename(build, local_out)
        shutil.rmtree(parked)
        report["compacted"] = True
        health = table_health(spark, out_dir, rows_per_bucket=rows_per_bucket)
        report["health_after"] = health
    report["expired_snapshots"] = expire_snapshots(
        out_dir, keep_last=keep_snapshots, older_than=expire_older_than
    )
    report["vacuumed_part_ids"] = vacuum(spark, out_dir)
    return report
