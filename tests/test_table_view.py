"""One table view: every reader plans from the resolved snapshot
(``manifest.table_view``) — its partitions and its deletes from the one
immutable ``snapshots/v{N}`` file — never from the advisory
``manifest/manifest.parquet`` copy."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fhirflat_spark import fsio
from fhirflat_spark.datagen import gen_spark
from fhirflat_spark.decode import codec_report, decode_table, transcode_table
from fhirflat_spark.encode import append_table, encode_table, upsert_rows
from fhirflat_spark.manifest import (
    current_snapshot,
    read_chunk_stats,
    read_snapshot_manifest,
    rollback,
    snapshot_manifest_path,
    table_view,
)
from fhirflat_spark.sources.datasource import register


@pytest.fixture(scope="module")
def crash_window(spark, tmp_path_factory):
    """An upsert whose commit crashed after creating snapshot v2 but
    before ``_advance_current`` rewrote the advisory copy and the
    version hint: both still describe v1, while v2 (the head) carries
    the upserted partitions AND the scoped delete of the old rows."""
    out = str(tmp_path_factory.mktemp("tv") / "ds")
    base = spark.range(1000).select(
        F.col("id"), F.lit("a").alias("val")
    )
    encode_table(base, out, rows_per_bucket=250)
    upsert_rows(
        spark.range(100).select(F.col("id"), F.lit("b").alias("val")),
        out, "id", rows_per_bucket=250,
    )
    assert current_snapshot(out) == 2
    fsio.write_parquet_atomic(read_snapshot_manifest(out, 1),
                              f"{out}/manifest/manifest.parquet")
    fsio.write_bytes_atomic(f"{out}/snapshots/version-hint.txt", b"1")
    return out


def _named_source(spark, out):
    register(spark)
    return spark.read.format("fhirflat").option("path", out).load()


def _transcoded(spark, out):
    dst = f"{out}-transcoded"
    transcode_table(spark, out, dst)
    return decode_table(spark, dst)


READERS = {
    "decode_kernel": lambda spark, out: decode_table(spark, out, via="arrow"),
    "decode_datasource": lambda spark, out: decode_table(
        spark, out, via="datasource"),
    "named_source": _named_source,
    "transcode": _transcoded,
}


@pytest.mark.parametrize("reader", sorted(READERS))
def test_crash_window_reads_the_head_snapshot(spark, crash_window, reader):
    out = crash_window
    got = sorted(map(tuple, READERS[reader](spark, out)
                     .select("id", "val").collect()))
    assert len(got) == 1000
    assert sum(1 for _, val in got if val == "b") == 100
    head = decode_table(spark, out, snapshot=current_snapshot(out))
    assert got == sorted(map(tuple, head.select("id", "val").collect()))


def test_resume_with_failing_manifest_read_keeps_chunks(
        spark, tmp_path, monkeypatch):
    """A resume whose manifest read fails must raise — not take the
    fresh-encode branch, which deletes every committed chunk dir."""
    out = str(tmp_path / "ds")
    df = gen_spark(spark, 2000, seed=7)
    encode_table(df, out, rows_per_bucket=500)

    def chunk_files():
        return {
            os.path.join(root, n): (os.stat(os.path.join(root, n)).st_ino,
                                    os.stat(os.path.join(root, n)).st_mtime_ns)
            for root, _, names in os.walk(f"{out}/chunks") for n in names
        }

    before = chunk_files()
    real = fsio.read_parquet

    def failing(path, *args, **kwargs):
        if "manifest" in path:
            raise OSError(f"simulated metadata read failure: {path}")
        return real(path, *args, **kwargs)

    monkeypatch.setattr(fsio, "read_parquet", failing)
    with pytest.raises(OSError):
        encode_table(df, out, rows_per_bucket=500, resume=True)
    monkeypatch.undo()
    assert chunk_files() == before
    assert decode_table(spark, out).count() == 2000


def test_chunk_stats_surfaces_cover_live_partitions_only(spark, tmp_path):
    """After a rollback, the rolled-back append's chunk dirs stay on disk
    until vacuum; the codec report, the chunk-stats view and the named
    source's chunks table all describe the restored table only."""
    out = str(tmp_path / "ds")
    encode_table(gen_spark(spark, 2000, seed=7), out, rows_per_bucket=500)
    append_table(gen_spark(spark, 1000, seed=8), out, rows_per_bucket=500)
    rollback(spark, out, 1)
    v1_chunks = sum(read_snapshot_manifest(out, 1)["n_chunks"].to_pylist())
    live = set(table_view(out).part_ids)
    on_disk = {int(d.split("=", 1)[1]) for d in fsio.list_dirs(f"{out}/chunks")
               if d.startswith("part_id=")}
    assert on_disk > live  # the rolled-back partitions are still there

    stats = read_chunk_stats(spark, out)
    assert stats.select("part_id", "chunk_seq").distinct().count() == v1_chunks
    assert {r["part_id"] for r in stats.select("part_id").distinct()
            .collect()} == live
    per_column = {
        r["column"]: r["chunks"]
        for r in codec_report(spark, out).groupBy("column")
        .agg(F.sum("chunks").alias("chunks")).collect()
    }
    assert per_column and set(per_column.values()) == {v1_chunks}
    register(spark)
    meta = (spark.read.format("fhirflat").option("path", out)
            .option("metadata", "chunks").load())
    assert meta.count() == stats.count()
    assert meta.select("part_id", "chunk_seq").distinct().count() == v1_chunks


def test_table_view_resolves_refs_and_empty_tables(spark, tmp_path):
    out = str(tmp_path / "ds")
    empty = table_view(out)
    assert empty.version is None and empty.part_ids == [] and not empty.deletes
    encode_table(gen_spark(spark, 1000, seed=7), out, rows_per_bucket=500)
    append_table(gen_spark(spark, 500, seed=8), out, rows_per_bucket=500)
    head = table_view(out)
    assert head.version == 2
    assert head.part_ids == sorted(
        read_snapshot_manifest(out, 2)["part_id"].to_pylist()
    )
    assert table_view(out, "1").part_ids == table_view(out, 1).part_ids
    assert set(table_view(out, 1).part_ids) < set(head.part_ids)
    assert table_view(out, head) is head  # a view passes through
    with pytest.raises(ValueError):
        table_view(out, 1, as_of=0)
    # the view never depends on the advisory copy
    fsio.delete_file(f"{out}/manifest/manifest.parquet")
    assert table_view(out).part_ids == head.part_ids
    assert os.path.exists(snapshot_manifest_path(out, 2))
