"""Task-written chunk files: the commit rules of ``encode_table``'s writer.

Each encode task streams a partition's chunk rows into one parquet file
with a deterministic name (``chunks/part_id=N/part-N.parquet``) through
a dot-prefixed temporary file, and the driver keeps only that file in
every part dir the job wrote. These tests pin:

- a retried or speculative duplicate of a task's write leaves exactly
  one chunk file with identical bytes;
- an append replayed over a part dir that already holds an older
  chunk file under a Spark-written name removes that file;
- without Hadoop's ``.crc`` sidecars, a flipped payload byte is still
  caught by ``verify_table`` and never decoded silently.
"""
from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fhirflat_spark.datagen import gen_spark
from fhirflat_spark.decode import (
    decode_table,
    verify_against_source,
    verify_table,
)
from fhirflat_spark.encode import (
    append_table,
    chunk_write_kernel,
    encode_kernel_factory,
    encode_table,
)
from fhirflat_spark.manifest import table_view

KEYS = ["repo", "path", "commit"]


def _local(spark, n, seed):
    """A source frame backed by local data (re-evaluation gives the same
    rows in the same order)."""
    return spark.createDataFrame(gen_spark(spark, n, seed=seed).toArrow())


def _files(part_dir):
    return sorted(os.listdir(part_dir))  # dot files included


def test_fresh_encode_writes_one_named_file_per_partition(spark, tmp_path):
    df = _local(spark, 3000, seed=41)
    out = str(tmp_path / "t")
    os.makedirs(f"{out}/chunks/part_id=999")  # a previous table's leftover
    res = encode_table(df, out, rows_per_bucket=800)
    dirs = sorted(os.listdir(f"{out}/chunks"))
    assert len(dirs) == res.num_partitions
    for d in dirs:
        pid = int(d.split("=", 1)[1])
        assert _files(f"{out}/chunks/{d}") == [f"part-{pid:06d}.parquet"]
    assert verify_against_source(df, decode_table(spark, out), KEYS).count() == 0


def test_duplicate_task_write_publishes_one_file(spark, tmp_path):
    """Run partition 0's task-side write a second time, as a retry or a
    speculative duplicate would: the part dir still holds one chunk file,
    byte-identical, and the table decodes to its source."""
    df = _local(spark, 2500, seed=42).coalesce(1)
    out = str(tmp_path / "t")
    encode_table(df, out, shuffle=False)
    part = f"{out}/chunks/part_id=0"
    (name,) = _files(part)
    with open(f"{part}/{name}", "rb") as f:
        first = f.read()

    cols = df.columns
    safe = [f"__c{i}" for i in range(len(cols))]
    task = chunk_write_kernel(
        encode_kernel_factory(safe, None, name_map=dict(zip(safe, cols))),
        f"{out}/chunks", len(cols),
    )
    batches = (df.select(*[F.col(c).alias(s) for s, c in zip(safe, cols)])
               .toArrow().to_batches(max_chunksize=1000))
    written = list(task(iter(batches)))

    assert _files(part) == [name]
    assert [w.to_pylist() for w in written] == [[{"part_id": 0, "file": name}]]
    with open(f"{part}/{name}", "rb") as f:
        assert f.read() == first
    assert all(r["ok"] for r in verify_table(spark, out).collect())
    got = decode_table(spark, out)
    assert got.count() == df.count()
    assert verify_against_source(df, got, KEYS).count() == 0


def test_append_replay_replaces_spark_written_file(spark, tmp_path):
    """A part dir the append writes may already hold a chunk file under
    the name Spark's parquet writer gives it (an earlier, crashed write
    of that part id: ids in no snapshot are reused). After the append
    only the task-written file is left, and the table decodes to its
    sources."""
    base = _local(spark, 2000, seed=43)
    delta = _local(spark, 600, seed=44)
    out = str(tmp_path / "t")
    encode_table(base, out, rows_per_bucket=500)
    top = max(table_view(out).part_ids)

    # a chunk file of this table's layout under a Spark-written name,
    # planted in the dir of the first part id the append will mint
    spark_file = "part-00000-0f1e2d3c-4b5a-6978-8796-a5b4c3d2e1f0.c000.parquet"
    stale = f"{out}/chunks/part_id={top + 1}"
    os.makedirs(stale)
    shutil.copy(f"{out}/chunks/part_id={top}/part-{top:06d}.parquet",
                f"{stale}/{spark_file}")

    append_table(delta, out, rows_per_bucket=500)
    assert _files(stale) == [f"part-{top + 1:06d}.parquet"]
    got = decode_table(spark, out)
    assert got.count() == 2600
    assert verify_against_source(base.unionByName(delta), got, KEYS).count() == 0


@pytest.mark.parametrize("column", ["repo", "path", "commit", "content"])
def test_flipped_payload_byte_is_caught(spark, tmp_path, column):
    """No ``.crc`` sidecars guard task-written files: a flipped byte
    inside one column's payload must surface in ``verify_table`` (a bad
    chunk or a CodecError), never as a silently wrong decode."""
    df = _local(spark, 3000, seed=45)
    out = str(tmp_path / "t")
    encode_table(df, out, rows_per_bucket=1000)
    assert not [n for _, _, fs in os.walk(out) for n in fs
                if n.endswith(".crc") or n == "_SUCCESS"]
    part = f"{out}/chunks/part_id=0"
    (name,) = _files(part)
    path = f"{part}/{name}"
    field = f"__c{df.columns.index(column)}"
    blob = pq.read_table(path).column("payload")[0][field].as_py()
    with open(path, "rb") as f:
        data = bytearray(f.read())
    at = data.find(blob)
    assert at >= 0 and data.find(blob, at + 1) < 0
    data[at + len(blob) // 2] ^= 0xFF
    with open(path, "wb") as f:
        f.write(bytes(data))

    try:
        rows = verify_table(spark, out).collect()
    except Exception as e:  # CodecError raised inside the task
        assert "CodecError" in str(e) or "codec" in str(e).lower()
        return
    bad = [r for r in rows if not r["ok"]]
    assert [(r["part_id"], r["chunk_seq"]) for r in bad] == [(0, 0)]
