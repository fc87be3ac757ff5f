"""Chunk scans plan their files from the table view (fhirflat_spark/
decode.py ``scan_chunks`` / ``read_chunks``): each task reads its own
part directories with pyarrow, so a read runs no Spark file-index
listing job and no JVM parquet scan of payload bytes.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fhirflat_spark.datagen import gen_spark
from fhirflat_spark.decode import (
    decode_table,
    read_chunks,
    scan_chunks,
    verify_table,
)
from fhirflat_spark.encode import encode_table
from fhirflat_spark.encoded_exec import group_count_encoded
from fhirflat_spark.manifest import table_view


@pytest.fixture(scope="module")
def wide(spark, tmp_path_factory):
    """A table with more part dirs than Spark's parallel partition
    discovery threshold (32): a file-index listing of ``chunks/`` would
    run as its own distributed job."""
    out = str(tmp_path_factory.mktemp("scan") / "wide")
    df = gen_spark(spark, 4000, seed=31)
    encode_table(df, out, rows_per_bucket=100)
    assert len(table_view(out).part_ids) >= 40
    return out, df


def _jobs(spark, name, action):
    sc = spark.sparkContext
    sc.setJobGroup(name, None)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(name)
    stages = [st.getStageInfo(s).name for j in jobs
              for s in st.getJobInfo(j).stageIds if st.getStageInfo(s)]
    return jobs, stages


@pytest.mark.parametrize("read", ["decode_count", "verify", "group_count"])
def test_reads_run_no_listing_job(spark, wide, read):
    """Each read runs its scan and its result jobs only: no stage named
    ``parquet at ...`` (the file-index listing, or a JVM chunk scan) and
    two jobs — the listing-based scan of the previous reader ran three."""
    out, _ = wide
    action = {
        "decode_count": lambda: decode_table(spark, out).count(),
        "verify": lambda: verify_table(spark, out).where(~F.col("ok")).count(),
        "group_count": lambda: group_count_encoded(spark, out, "lang").collect(),
    }[read]
    jobs, stages = _jobs(spark, f"scan-{read}", action)
    assert not [s for s in stages if s.startswith("parquet at")], stages
    assert len(jobs) == 2, stages


def test_scan_spreads_part_ids_once_balanced(spark, wide):
    """Every part id of the view is read exactly once, by at most
    ``defaultParallelism`` tasks, and the assignment is a pure function
    of the view (the same on a second run)."""
    out, _ = wide
    view = table_view(out)
    schema = T.StructType([T.StructField("part_id", T.IntegerType()),
                           T.StructField("n_rows", T.LongType())])

    def assignment():
        df = scan_chunks(spark, out, view, view.part_ids, lambda b: b, schema,
                         meta=["part_id", "n_rows"])
        rows = df.withColumn("task", F.spark_partition_id()).collect()
        return sorted({(r["task"], r["part_id"]) for r in rows}), rows

    first, rows = assignment()
    assert assignment()[0] == first
    tasks = {t for t, _ in first}
    assert len(tasks) <= spark.sparkContext.defaultParallelism
    pids = [p for _, p in first]
    assert sorted(pids) == view.part_ids  # each part id in one task only
    assert sum(r["n_rows"] for r in rows) == 4000
    load = {t: 0 for t in tasks}
    for r in rows:
        load[r["task"]] += r["n_rows"]
    biggest = max(view.manifest["rows"].to_pylist())
    assert max(load.values()) - min(load.values()) <= biggest


def test_reader_orders_chunks_and_skips_dot_files(spark, tmp_path,
                                                  monkeypatch):
    """The reader returns a partition's chunks in chunk_seq order, one
    row group at a time, skips a writer's in-flight dot-file, returns a
    payload field the files lack as typed nulls, and prunes a chunk on
    its metadata before reading its payload."""
    out = str(tmp_path / "t")
    encode_table(gen_spark(spark, 20000, seed=32), out, num_partitions=1,
                 rows_per_bucket=20000)
    pid = table_view(out).part_ids[0]
    part = f"{out}/chunks/part_id={pid}"
    (name,) = os.listdir(part)
    shutil.copy(f"{part}/{name}", f"{part}/.inflight.{name}")
    batches = list(read_chunks(out, pid, payload={"a": "__c0", "b": "__c99"},
                               meta=["part_id", "chunk_seq", "repo_max"]))
    assert len(batches) > 1  # one row group (chunk) at a time
    seqs = [s for b in batches for s in b.column("chunk_seq").to_pylist()]
    assert seqs == sorted(seqs) and len(seqs) == len(set(seqs))
    assert all(b.column("b").null_count == b.num_rows for b in batches)
    assert all(b.column("a").null_count == 0 for b in batches)
    assert {p for b in batches for p in b.column("part_id").to_pylist()} == {pid}
    # a chunk outside the key range is dropped before its payload is read
    read = []
    real = pq.ParquetFile.read_row_group

    def spy(self, i, columns=None, **kw):
        read.append(list(columns))
        return real(self, i, columns=columns, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", spy)
    top = max(v for b in batches for v in b.column("repo_max").to_pylist())
    assert list(read_chunks(out, pid, payload={"a": "__c0"},
                            prune={"key_range": (top, top)}))
    assert [c for r in read for c in r if c.startswith("payload.")]
    read.clear()
    assert not list(read_chunks(out, pid, payload={"a": "__c0"},
                                prune={"key_range": (top + "~", top + "~")}))
    assert read and not [c for r in read for c in r if c.startswith("payload")]
