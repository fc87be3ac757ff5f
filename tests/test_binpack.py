"""Partial in-place compaction (maintenance.binpack_partitions) — the
Iceberg ``rewrite_data_files`` binpack: ONE snapshot commit swaps the
under-filled partitions for freshly packed ones, history preserved,
IO proportional to the fragmented slice."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fhirflat_spark.decode import decode_table, verify_table
from fhirflat_spark.encode import append_table, encode_table
from fhirflat_spark.maintenance import binpack_partitions, table_health
from fhirflat_spark.manifest import (
    current_snapshot,
    delete_rows,
    expire_snapshots,
    vacuum,
)


def _rows(spark, out, **kw):
    cols = ["doc_id", "lang", "source", "n_chars"]
    return sorted(
        tuple(r)
        for r in decode_table(spark, out, **kw).select(*cols).collect()
    )


@pytest.fixture()
def fragged(spark, tmp_path):
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang", "source", "n_chars")
    out = str(tmp_path / "ds")
    encode_table(docs.where(F.col("doc_id") < 300), out,
                 rows_per_bucket=300)
    for lo in range(300, 600, 60):  # five tiny appends, ~60 rows each
        append_table(docs.where(F.col("doc_id").between(lo, lo + 59)), out,
                     rows_per_bucket=300)
    return out, docs.where(F.col("doc_id") < 600)


def test_binpack_packs_small_partitions_one_commit(spark, fragged):
    out, src = fragged
    pre_snap = current_snapshot(out)
    pre_health = table_health(spark, out, rows_per_bucket=300)
    pre_rows = _rows(spark, out)
    rep = binpack_partitions(spark, out, rows_per_bucket=300)
    assert rep["packed"] is True
    assert len(rep["victim_part_ids"]) >= 5
    # exactly ONE new snapshot
    assert current_snapshot(out) == pre_snap + 1
    # content identical
    assert _rows(spark, out) == pre_rows
    assert sorted(tuple(r) for r in src.collect()) == pre_rows
    # fewer partitions, packed tighter
    post = table_health(spark, out, rows_per_bucket=300)
    assert post["n_partitions"] < pre_health["n_partitions"]
    assert post["underfilled_partitions"] < \
        pre_health["underfilled_partitions"]
    assert post["rows"] == pre_health["rows"]
    # history preserved: the pre-binpack snapshot still time-travels
    assert _rows(spark, out, snapshot=pre_snap) == pre_rows
    # checksums hold on the new layout
    assert verify_table(spark, out).where("ok = false").count() == 0


def test_binpack_materializes_deletes_for_rewritten_rows_only(spark, fragged):
    out, src = fragged
    delete_rows(spark, out, "doc_id", [5, 350, 410])  # 5 in big part, rest in victims
    logical = sorted(
        tuple(r) for r in src.where(~F.col("doc_id").isin(5, 350, 410))
        .collect()
    )
    assert _rows(spark, out) == logical
    probe = binpack_partitions(spark, out, rows_per_bucket=300,
                               dry_run=True)
    expected = decode_table(
        spark, out, part_ids=probe["victim_part_ids"]
    ).count()  # LOGICAL rows of the victims (deletes applied)
    assert expected < probe["victim_rows_physical"]  # deletes hit victims
    rep = binpack_partitions(spark, out, rows_per_bucket=300)
    assert rep["packed"] is True
    # the merge-on-read view is unchanged by the rewrite
    assert _rows(spark, out) == logical
    # rewritten rows dropped the deleted keys PHYSICALLY: the rewrite's
    # logical row count is what landed
    assert rep["rewritten_rows"] == expected


def test_binpack_selection_and_noop_paths(spark, fragged):
    out, _ = fragged
    # dry run reports victims, commits nothing
    snap = current_snapshot(out)
    rep = binpack_partitions(spark, out, rows_per_bucket=300, dry_run=True)
    assert rep["would_pack"] is True and rep["packed"] is False
    assert current_snapshot(out) == snap
    # explicit part_ids: unknown pid refuses
    with pytest.raises(ValueError, match="not live"):
        binpack_partitions(spark, out, part_ids=[99999, 100000])
    # fewer than two victims: no-op (nothing to pack tighter)
    rep = binpack_partitions(spark, out, rows_per_bucket=300, min_fill=0.0)
    assert rep["packed"] is False and current_snapshot(out) == snap
    # order_by validation
    with pytest.raises(ValueError, match="not in dataset"):
        binpack_partitions(spark, out, rows_per_bucket=300,
                           order_by=["nope"])


def test_binpack_then_append_expire_vacuum_lifecycle(spark, fragged):
    """After binpack: appends keep working (no victim resurrection),
    and expiry + vacuum reclaim the replaced partitions' chunk dirs."""
    import os

    out, src = fragged
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang", "source", "n_chars")
    rep = binpack_partitions(spark, out, rows_per_bucket=300)
    victims = rep["victim_part_ids"]
    append_table(docs.where(F.col("doc_id").between(600, 699)), out,
                 rows_per_bucket=300)
    want = sorted(
        tuple(r) for r in docs.where(F.col("doc_id") < 700).collect()
    )
    assert _rows(spark, out) == want
    expire_snapshots(out, keep_last=1)
    gone = vacuum(spark, out)
    assert set(victims) <= set(gone)
    for pid in victims:
        assert not os.path.exists(f"{out}/chunks/part_id={pid}")
    assert _rows(spark, out) == want


def test_binpack_with_order_by_sorts_the_slice(spark, fragged):
    from pyspark.sql import types as T

    from fhirflat_spark.manifest import prune_part_ids_by_zones, table_view

    out, src = fragged
    before = set(table_view(out).part_ids)
    rep = binpack_partitions(spark, out, rows_per_bucket=100,
                             order_by=["doc_id"])
    assert rep["packed"] is True and rep["new_partitions"] >= 2
    assert _rows(spark, out) == sorted(tuple(r) for r in src.collect())
    # the rewritten slice is range-clustered: a narrow probe inside it
    # prunes to ONE of the new partitions
    view = table_view(out)
    pids = view.part_ids
    new_pids = sorted(set(pids) - before)
    assert len(new_pids) == rep["new_partitions"]
    keep = prune_part_ids_by_zones(view.manifest, pids,
                                   [("doc_id", 340, 355)],
                                   {"doc_id": T.LongType()})
    assert len([p for p in keep if p in new_pids]) <= 1


def test_binpack_all_victim_rows_deleted_drops_metadata_only(spark, tmp_path):
    """r6 (ADVICE): when every victim row is delete-shadowed, binpack
    must still drop the victims (metadata-only partition drop) instead
    of relying on an empty append committing — and the report must not
    claim a rewrite."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang", "source", "n_chars")
    out = str(tmp_path / "ds")
    encode_table(docs.where(F.col("doc_id") < 300), out,
                 rows_per_bucket=300)
    # two tiny appends -> two underfilled victim partitions
    append_table(docs.where(F.col("doc_id").between(300, 329)), out,
                 rows_per_bucket=300)
    append_table(docs.where(F.col("doc_id").between(330, 359)), out,
                 rows_per_bucket=300)
    # shadow EVERY row with a row-level delete (victims = all
    # partitions on this keyless layout, so the logical victim count
    # must be exactly zero)
    delete_rows(
        spark, out, "doc_id",
        docs.where(F.col("doc_id") < 360).select("doc_id"),
    )
    pre_rows = _rows(spark, out)
    pre_snap = current_snapshot(out)
    rep = binpack_partitions(spark, out, rows_per_bucket=300)
    assert rep["packed"] is True
    assert rep["rewritten_rows"] == 0 and rep["new_partitions"] == 0
    assert len(rep["victim_part_ids"]) >= 2
    assert current_snapshot(out) == pre_snap + 1
    # victims are gone from the live manifest; content unchanged
    from fhirflat_spark.manifest import snapshot_part_ids

    live = set(snapshot_part_ids(out, current_snapshot(out)))
    assert not (live & set(rep["victim_part_ids"]))
    assert _rows(spark, out) == pre_rows
