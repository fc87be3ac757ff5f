"""Table maintenance (fhirflat_spark/maintenance.py): fragmentation
health from metadata, policy compaction with a verified swap, snapshot
expiry + vacuum, and streaming snapshot retention.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def fragmented(spark, tmp_path):
    """Many tiny appends → a fragmented table (every partition far under
    rows_per_bucket)."""
    from fhirflat_spark.encode import append_table, encode_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "ds")
    encode_table(docs.where(F.col("doc_id") < 100), out, rows_per_bucket=5000)
    for lo in range(100, 600, 100):
        append_table(
            docs.where(F.col("doc_id").between(lo, lo + 99)), out,
            rows_per_bucket=5000,
        )
    return out, docs.where(F.col("doc_id") < 600)


def test_health_reports_fragmentation(spark, fragmented):
    from fhirflat_spark.maintenance import table_health

    out, src = fragmented
    h = table_health(spark, out, rows_per_bucket=5000)
    assert h["rows"] == src.count()
    assert h["n_partitions"] > h["ideal_partitions"]
    assert h["fragmentation"] > 0.5
    assert h["n_snapshots"] == 6


def test_health_reports_delete_overlay_and_maintain_materializes(
    spark, tmp_path
):
    """A heavy delete overlay (merge-on-read tax) must show in health
    and trigger the compaction policy even on a well-packed layout;
    the rewrite materializes the deletes and empties the overlay."""
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.encode import append_table, encode_table
    from fhirflat_spark.maintenance import maintain_table, table_health
    from fhirflat_spark.manifest import delete_rows

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang", "n_chars")
    out = str(tmp_path / "ds")
    encode_table(docs.where(F.col("doc_id") < 400), out,
                 rows_per_bucket=200)
    append_table(docs.where(F.col("doc_id") >= 400), out,
                 rows_per_bucket=200)
    h0 = table_health(spark, out, rows_per_bucket=200)
    assert h0["delete_keys"] == 0 and h0["delete_ratio"] == 0.0
    victims = [r["doc_id"] for r in
               docs.where(F.col("doc_id") % 3 == 0)
               .select("doc_id").collect()]
    delete_rows(spark, out, "doc_id", victims)
    h1 = table_health(spark, out, rows_per_bucket=200)
    assert h1["active_delete_files"] == 1
    assert h1["delete_keys"] == len(victims)
    assert h1["delete_ratio"] > 0.2
    # fragmentation alone would NOT trigger on this layout
    assert h1["fragmentation"] <= 0.5
    rep = maintain_table(spark, out, rows_per_bucket=200,
                         keep_snapshots=1)
    assert rep["compacted"] is True
    h2 = table_health(spark, out, rows_per_bucket=200)
    assert h2["active_delete_files"] == 0 and h2["delete_ratio"] == 0.0
    expect = sorted(
        tuple(r) for r in
        docs.where(~F.col("doc_id").isin(victims)).collect()
    )
    got = sorted(
        tuple(r) for r in
        decode_table(spark, out).select("doc_id", "lang", "n_chars")
        .collect()
    )
    assert got == expect
    # converged: a second pass has nothing to do
    rep2 = maintain_table(spark, out, rows_per_bucket=200, dry_run=True)
    assert rep2["would_compact"] is False


def test_dry_run_touches_nothing(spark, fragmented):
    from fhirflat_spark.maintenance import maintain_table, table_health

    out, _ = fragmented
    before = table_health(spark, out, rows_per_bucket=5000)
    rep = maintain_table(spark, out, rows_per_bucket=5000, dry_run=True)
    assert rep["would_compact"] is True
    assert table_health(spark, out, rows_per_bucket=5000) == before


def test_maintain_compacts_expires_and_preserves_content(spark, fragmented):
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.maintenance import maintain_table

    out, src = fragmented
    from fhirflat_spark.maintenance import table_health

    before = table_health(spark, out, rows_per_bucket=5000)
    rep = maintain_table(spark, out, rows_per_bucket=5000, keep_snapshots=2)
    assert rep["compacted"] is True
    after = rep["health_after"]
    # converges to the parallelism floor (encode cannot go below it)
    assert after["n_partitions"] < before["n_partitions"]
    assert after["n_partitions"] <= max(
        2 * after["ideal_partitions"], spark.sparkContext.defaultParallelism
    )
    assert after["rows"] == src.count()
    dec = decode_table(spark, out)
    assert dec.exceptAll(src).count() == 0 and src.exceptAll(dec).count() == 0
    # compaction swapped a fresh dataset in: snapshot log restarted
    assert after["n_snapshots"] <= 2
    # idempotent: a second pass finds a healthy table and does nothing
    rep2 = maintain_table(spark, out, rows_per_bucket=5000, keep_snapshots=2)
    assert rep2["compacted"] is False and rep2["would_compact"] is False


def _zone_pruned(out, col, lo, hi, dtype):
    from fhirflat_spark.manifest import prune_part_ids_by_zones, table_view

    view = table_view(out)
    pids = view.part_ids
    return prune_part_ids_by_zones(view.manifest, pids, [(col, lo, hi)],
                                   {col: dtype}), pids


def test_compact_with_sort_order_restores_zone_selectivity(spark, tmp_path):
    """compact_table(order_by=...) is the Iceberg sort-order rewrite:
    rows come out identical, but partition zones on the sort key become
    disjoint — a range probe that touched every partition of the
    append-scattered table prunes to a sliver afterwards. zorder=True
    rides the Morton-curve clustering instead and must also round-trip
    identically. The fixture interleaves appends by doc_id % 6 so every
    partition's zone spans the full key range (the `fragmented` fixture
    appends CONTIGUOUS ranges, which zones already prune)."""
    from pyspark.sql import types as T

    from fhirflat_spark.decode import compact_table, decode_table
    from fhirflat_spark.encode import append_table, encode_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = docs.where(F.col("doc_id") < 600)
    out = str(tmp_path / "scattered")
    encode_table(src.where(F.col("doc_id") % 6 == 0), out,
                 rows_per_bucket=5000)
    for i in range(1, 6):
        append_table(src.where(F.col("doc_id") % 6 == i), out,
                     rows_per_bucket=5000)
    before_keep, before_all = _zone_pruned(out, "doc_id", 10, 19,
                                           T.LongType())
    # scattered: the probe touches MANY partitions (round-robin still
    # gives each tiny partition a sub-range zone, so a few prune)
    assert len(before_keep) >= 5
    dst = out + "_sorted"
    res = compact_table(spark, out, dst, rows_per_bucket=100,
                        order_by=["doc_id"])
    assert res.rows == src.count()
    dec = decode_table(spark, dst)
    assert sorted(tuple(map(repr, r)) for r in dec.collect()) == \
           sorted(tuple(map(repr, r)) for r in src.collect())
    after_keep, after_all = _zone_pruned(dst, "doc_id", 10, 19,
                                         T.LongType())
    assert len(after_all) >= 5 and len(after_keep) == 1
    # zorder path: identical rows, clustering on the curve
    dz = out + "_z"
    res = compact_table(spark, out, dz, rows_per_bucket=100,
                        order_by=["doc_id", "n_chars"], zorder=True)
    assert res.rows == src.count()
    assert decode_table(spark, dz).count() == src.count()
    zk, za = _zone_pruned(dz, "doc_id", 10, 19, T.LongType())
    assert len(zk) < len(za)  # curve clustering prunes on dimension 1
    # validation
    with pytest.raises(ValueError, match="not in dataset"):
        compact_table(spark, out, out + "_bad", order_by=["nope"])
    with pytest.raises(ValueError, match="needs order_by"):
        compact_table(spark, out, out + "_bad", zorder=True)


def test_maintain_accepts_file_prefixed_path(spark, fragmented):
    """The directory swap must handle the `file:` URI form Spark paths
    often carry (os.rename needs the bare path)."""
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.maintenance import maintain_table

    out, src = fragmented
    rep = maintain_table(spark, f"file:{out}", rows_per_bucket=5000,
                         keep_snapshots=2)
    assert rep["compacted"] is True
    dec = decode_table(spark, out)
    assert dec.count() == src.count()


def test_maintain_healthy_table_only_expires(spark, tmp_path):
    from fhirflat_spark.encode import append_table, encode_table
    from fhirflat_spark.maintenance import maintain_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "ds")
    # ~50-row partitions at rows_per_bucket=60: everything >= half-filled
    encode_table(docs.where(F.col("doc_id") % 2 == 0), out, rows_per_bucket=60)
    append_table(docs.where(F.col("doc_id") % 2 == 1), out, rows_per_bucket=60)
    rep = maintain_table(spark, out, rows_per_bucket=60, keep_snapshots=1)
    assert rep["compacted"] is False
    assert rep["expired_snapshots"] == [1]
    assert rep["vacuumed_part_ids"] == []  # everything still referenced


def test_streaming_snapshot_retention(spark, tmp_path):
    from fhirflat_spark.manifest import _snapshot_versions, current_snapshot
    from fhirflat_spark.streaming import encode_stream_incremental

    src_dir = str(tmp_path / "src")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.limit(400).repartition(4).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = str(tmp_path / "ds")
    q = encode_stream_incremental(
        stream, out, str(tmp_path / "ckpt"), rows_per_bucket=200,
        snapshot_keep_last=2,
    ).start()
    q.awaitTermination(120)
    # several micro-batch commits happened, only the last 2 retained
    assert current_snapshot(out) >= 3
    assert len(_snapshot_versions(out)) <= 2


def test_maintain_recovers_parked_table_after_crashed_swap(spark, fragmented):
    """A crash between the two swap renames leaves the table parked at
    .pre_compact — the next maintenance call must restore it before
    doing anything else."""
    import os

    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.maintenance import maintain_table

    out, src = fragmented
    os.rename(out, f"{out}.pre_compact")  # simulate the crash window
    rep = maintain_table(spark, out, rows_per_bucket=5000, keep_snapshots=2)
    assert os.path.isdir(out)
    assert not os.path.exists(f"{out}.pre_compact")
    assert decode_table(spark, out).count() == src.count()
