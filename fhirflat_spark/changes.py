"""Snapshot-to-snapshot changelogs (the Iceberg/Delta CDF analog).

``table_changes(spark, out_dir, a, b)`` returns the NET row-level diff
between two committed snapshots as a DataFrame with the table's columns
plus ``_change_type`` ('insert' | 'delete'): exactly the rows a consumer
must apply to turn the snapshot-``a`` view into the snapshot-``b`` view.
An upsert therefore shows up as a delete of the old row plus an insert of
the new one.

Two plans, picked by history shape:

- **Fast path (append/delete-only windows — the common tail):** when the
  window only added partitions and delete files (part-id and delete sets
  both grew monotonically), inserts are a partition-pruned decode of the
  NEW part-ids under snapshot-``b`` visibility (IO ∝ delta, never table),
  and deletes are the snapshot-``a`` view semi-joined against only the
  NEW delete files' keys (IO ∝ the scoped partitions below each delete's
  ``below_part`` fence). Nothing rescans data the window didn't touch.
- **General path (rollbacks, compactions — rewritten history):** the two
  views themselves are diffed with ``exceptAll`` (multiset semantics, so
  duplicate rows diff correctly). Always correct, costs two decodes + a
  shuffle — acceptable for the rare history-rewriting maintenance ops.

Fast-path caveat: when several delete files in one window hit bit-identical
duplicate rows, the delete side is reported set-wise (once per distinct
row); the general path's ``exceptAll`` is the multiset-exact diff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHANGE_COL = "_change_type"


def _delete_names(entries: list[dict]) -> list[str]:
    return [e["file"] for e in entries]


def table_changes(spark: SparkSession, out_dir: str,
                  from_snapshot: int | str,
                  to_snapshot: int | str) -> DataFrame:
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.manifest import (
        _snapshot_versions,
        resolve_snapshot,
        table_view,
    )

    # names resolve through the ref layer, so to_snapshot="audit" diffs
    # a staged branch against any base — the WAP audit's change review
    from_snapshot = resolve_snapshot(out_dir, from_snapshot)
    to_snapshot = resolve_snapshot(out_dir, to_snapshot)
    versions = set(_snapshot_versions(out_dir))
    if not versions:
        raise ValueError(f"{out_dir} has no committed snapshot")
    for v in (from_snapshot, to_snapshot):
        if v not in versions:
            raise ValueError(f"snapshot {v} is not a retained snapshot")
    if to_snapshot < from_snapshot:
        raise ValueError("to_snapshot must be >= from_snapshot")
    # one view per end: every decode below reads the snapshot it names
    frm = table_view(out_dir, from_snapshot)
    to = table_view(out_dir, to_snapshot)
    if to_snapshot == from_snapshot:
        empty = decode_table(spark, out_dir, snapshot=to).limit(0)
        return empty.withColumn(CHANGE_COL, F.lit("insert"))

    a_parts = set(frm.part_ids)
    b_parts = set(to.part_ids)
    a_del = frm.deletes
    b_del = to.deletes
    append_only = a_parts <= b_parts and (
        _delete_names(b_del)[: len(a_del)] == _delete_names(a_del)
    )
    if not append_only:
        # history was rewritten (rollback/compaction): diff the views
        a_view = decode_table(spark, out_dir, snapshot=frm)
        b_view = decode_table(spark, out_dir, snapshot=to)
        return (
            b_view.exceptAll(a_view).withColumn(CHANGE_COL, F.lit("insert"))
            .unionByName(
                a_view.exceptAll(b_view)
                .withColumn(CHANGE_COL, F.lit("delete"))
            )
        )

    new_parts = sorted(b_parts - a_parts)
    inserts = (
        decode_table(spark, out_dir, part_ids=new_parts,
                     snapshot=to)
        if new_parts
        else decode_table(spark, out_dir, snapshot=to).limit(0)
    ).withColumn(CHANGE_COL, F.lit("insert"))

    deletes = None
    new_entries = b_del[len(a_del):]
    # group entries sharing (column, scope): one decode + one semi-join
    # per group instead of per entry — a window holding K delete commits
    # over the same partitions (a nightly takedown loop) costs one scan,
    # not K
    groups: dict[tuple, list] = {}
    for entry in new_entries:
        key = (entry["column"], entry.get("below_part"))
        groups.setdefault(key, []).append(entry["file"])
    for i, ((col, below), files) in enumerate(groups.items()):
        # only partitions visible at `a` AND below the delete's fence can
        # lose rows (rows in newer parts were never in the `a` view —
        # their net effect is just a smaller insert set, handled above)
        scoped = sorted(
            p for p in a_parts if below is None or p < below
        )
        if not scoped:
            continue
        keys = spark.read.parquet(
            *[f"{out_dir}/deletes/{f}" for f in files]
        ).distinct()
        dal, kal = f"__ca{i}", f"__ck{i}"
        if col is None:
            # positional delete (column=None): the keys file carries the
            # physical row address — semi-join on it, not a value column.
            # snapshot=a visibility still applies: a position already
            # dead at `a` never decodes, so it can't be re-reported.
            view = decode_table(spark, out_dir, part_ids=scoped,
                                snapshot=frm,
                                with_positions=True)
            hit = (
                view.alias(dal)
                .join(
                    keys.alias(kal),
                    on=(
                        (F.col(f"{dal}.__part_id")
                         == F.col(f"{kal}.part_id"))
                        & (F.col(f"{dal}.__chunk_seq")
                           == F.col(f"{kal}.chunk_seq"))
                        & (F.col(f"{dal}.__row_idx")
                           == F.col(f"{kal}.row_idx"))
                    ),
                    how="left_semi",
                )
                .drop("__part_id", "__chunk_seq", "__row_idx")
            )
        else:
            # snapshot=a visibility: rows already deleted before the
            # window must not be re-reported as deleted by it
            view = decode_table(spark, out_dir, part_ids=scoped,
                                snapshot=frm)
            hit = (
                view.alias(dal)
                .join(
                    keys.alias(kal),
                    on=F.col(f"{dal}.`{col}`") == F.col(f"{kal}.`{col}`"),
                    how="left_semi",
                )
            )
        deletes = hit if deletes is None else deletes.unionByName(hit)
    if deletes is not None:
        # two delete files can name the same row (idempotent re-deletes):
        # net diff reports it once
        deletes = deletes.distinct().withColumn(CHANGE_COL, F.lit("delete"))
        return inserts.unionByName(deletes)
    return inserts
