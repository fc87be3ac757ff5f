"""Encode stage 1 over a bare parquet scan reads the files in its own
tasks (``encode._parquet_source``) and places rows in the kernel
(``encode.Placement``). These tests pin that the file path and the
Spark-fed path agree on the same rows — each row's partition, the
decoded rows, a repeat encode's checksum — and that inputs the file path
cannot serve exactly take the Spark-fed path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fhirflat_spark.datagen import gen_spark
from fhirflat_spark.decode import decode_table
from fhirflat_spark.encode import _encoded_exchange, encode_table, placement_plan
from fhirflat_spark.manifest import (
    current_snapshot,
    read_summary,
    snapshot_manifest_path,
)

N = 4000


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory):
    """``N`` rows in 5 scattered parquet files, every 7th repo NULL."""
    path = str(tmp_path_factory.mktemp("stage1") / "src")
    df = gen_spark(spark, N, seed=31).withColumn(
        "repo", F.when(F.col("path").endswith("7"), None)
        .otherwise(F.col("repo")))
    df.repartition(5, F.xxhash64("path", "content")).write.parquet(path)
    return path


def _reads_files(df) -> bool:
    """True when encode's stage 1 reads ``df``'s files itself: the
    stage-1 input is a ``spark.range``, with no JVM parquet scan."""
    source, _ = _encoded_exchange(df, df.columns,
                                  placement_plan(df, rows_per_bucket=500))
    plan = source._sc._jvm.PythonSQLUtils.explainString(
        source._jdf.queryExecution(), "formatted")
    return "Scan parquet" not in plan and "Range" in plan


def _sha(spark, out):
    return read_summary(spark, out)["dataset_sha256"]


def _placed(spark, out, cols):
    return decode_table(spark, out, with_positions=True).select(
        *cols, "__part_id")


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


CASES = {
    # a key spans several buckets, so the in-kernel hash decides rows
    "multi_bucket": dict(rows_per_bucket=300),
    # caller counts that miss a repo: its rows take the "o:" entry
    "stale_counts": dict(rows_per_bucket=400, key_counts="drop_one"),
    # no repo column: per-split round-robin
    "no_repo": dict(rows_per_bucket=500, drop_repo=True),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_file_path_agrees_with_spark_fed_path(spark, src, tmp_path, case):
    kw = dict(CASES[case])
    drop_repo = kw.pop("drop_repo", False)
    files = spark.read.parquet(src)
    if drop_repo:
        files = files.drop("repo")
    if kw.get("key_counts") == "drop_one":
        counts = sorted((r["repo"], r["count"]) for r in
                        files.groupBy("repo").count().collect()
                        if r["repo"] is not None)
        kw["key_counts"] = [(None, 500), *counts[1:]]
    # the same rows, fed by Spark: a filter keeps no plain file scan
    fed = files.where(F.col("path").isNotNull())
    assert _reads_files(files) and not _reads_files(fed)
    a, b, c = (str(tmp_path / d) for d in ("a", "b", "c"))
    encode_table(files, a, **kw)
    encode_table(files, b, **kw)
    encode_table(fed, c, **kw)
    assert _sha(spark, a) == _sha(spark, b)  # deterministic
    cols = [c for c in ("repo", "path", "commit", "lang", "content")
            if c in files.columns]
    decoded = decode_table(spark, a)
    assert decoded.count() == N
    assert _same_rows(decoded, files)
    assert _same_rows(decode_table(spark, c), files)
    if not drop_repo:
        # keyed placement is a function of the row alone: every row sits
        # in the same partition whichever path fed stage 1
        assert _same_rows(_placed(spark, a, cols), _placed(spark, c, cols))


def test_file_path_resume_restores_lost_partitions(spark, src, tmp_path):
    """A resume over the file path re-encodes exactly the partitions the
    head lost, to a table equal to a clean encode."""
    from fhirflat_spark import fsio

    files = spark.read.parquet(src)
    clean, out = str(tmp_path / "clean"), str(tmp_path / "resumed")
    encode_table(files, clean, rows_per_bucket=300)
    encode_table(files, out, rows_per_bucket=300)
    man = snapshot_manifest_path(out, current_snapshot(out))
    t = fsio.read_parquet(man)
    pids = sorted(t["part_id"].to_pylist())
    victims = {pids[0], pids[len(pids) // 2]}
    for v in victims:
        fsio.delete_dir(f"{out}/chunks/part_id={v}")
    fsio.write_parquet_atomic(
        t.filter([p not in victims for p in t["part_id"].to_pylist()]), man)
    encode_table(files, out, rows_per_bucket=300, resume=True)
    assert _same_rows(decode_table(spark, out), files)
    assert _sha(spark, out) == _sha(spark, clean)


def test_file_path_splits_large_files_at_row_groups(spark, tmp_path):
    """Files above ``spark.sql.files.maxPartitionBytes`` split into
    row-group units, and a task reads its units in groups of about that
    size: the rows and their partitions stay those of the Spark-fed
    path, and the layout is deterministic."""
    path = str(tmp_path / "big")
    gen_spark(spark, N, seed=32).coalesce(2).write.option(
        "parquet.block.size", 64 * 1024).parquet(path)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(128 * 1024))
    try:
        files = spark.read.parquet(path)
        assert _reads_files(files)
        a, b, c = (str(tmp_path / d) for d in ("a", "b", "c"))
        encode_table(files, a, rows_per_bucket=300)
        encode_table(files, b, rows_per_bucket=300)
        encode_table(files.where(F.col("path").isNotNull()), c,
                     rows_per_bucket=300)
    finally:
        spark.conf.set(key, old)
    assert _sha(spark, a) == _sha(spark, b)
    cols = ["repo", "path", "commit", "lang", "content"]
    assert _same_rows(_placed(spark, a, cols), _placed(spark, c, cols))
    assert _same_rows(decode_table(spark, a), spark.read.parquet(path))


def test_inputs_the_file_path_declines(spark, src, tmp_path):
    """Inputs the file path cannot read exactly take the Spark-fed path
    and still encode correctly: a filtered frame, a partitioned
    directory, a computed column, and a decimal hash column of a key
    that spans buckets (Spark computes its hash)."""
    files = spark.read.parquet(src)
    assert not _reads_files(files.where(F.col("lang") == "py"))
    assert not _reads_files(files.withColumn("lang", F.upper("lang")))
    parted = str(tmp_path / "parted")
    files.write.partitionBy("lang").parquet(parted)
    assert not _reads_files(spark.read.parquet(parted))
    dec_path = str(tmp_path / "dec")
    files.select(
        "repo", F.length("path").cast(T.DecimalType(12, 2)).alias("path"),
        "commit", "content",
    ).write.parquet(dec_path)
    dec = spark.read.parquet(dec_path)
    assert not _reads_files(dec)  # rows_per_bucket=500: buckets > 1
    out = str(tmp_path / "dec_out")
    encode_table(dec, out, rows_per_bucket=500)
    assert _same_rows(decode_table(spark, out), dec)
    # a projection of plain columns (renamed, reordered) is still a scan
    assert _reads_files(files.select(F.col("path").alias("p"), "repo"))
