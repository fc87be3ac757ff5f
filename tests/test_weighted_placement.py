"""Byte-weighted bucket placement (encode_table(weight_col=...)).

Row-count placement under-provisions a repo of few giant files; the
byte-weighted planner allocates buckets by payload bytes so partition
byte size stays bounded regardless of file-size skew.
"""

from pyspark.sql import functions as F

from fhirflat_spark.decode import decode_table, verify_against_source
from fhirflat_spark.encode import encode_table, plan_partition_ids


def _skewed(spark):
    # repo "big": 40 rows x 20_000 chars (~800 KB); repo "small": 4000
    # rows x 10 chars (~40 KB). Row counts say small needs 100x big's
    # buckets; bytes say the opposite by ~20x.
    big = spark.range(40).select(
        F.lit("big").alias("repo"),
        F.concat(F.lit("p/"), F.col("id").cast("string")).alias("path"),
        F.sha2(F.col("id").cast("string"), 256).alias("commit"),
        F.lit("py").alias("lang"),
        F.concat(F.lit("x" * 19_000), F.col("id").cast("string")).alias("content"),
    )
    small = spark.range(4000).select(
        F.lit("small").alias("repo"),
        F.concat(F.lit("q/"), F.col("id").cast("string")).alias("path"),
        F.sha2(F.col("id").cast("string"), 224).alias("commit"),
        F.lit("md").alias("lang"),
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("content"),
    )
    return big.unionByName(small)


def _alloc(spark, weight_col):
    stats: dict = {}
    plan_partition_ids(
        _skewed(spark), rows_per_bucket=1000, stats_out=stats,
        weight_col=weight_col,
    )
    counts = dict(stats["key_counts"])
    # buckets = ceil(weight / rows_per_bucket), same math as the planner
    return {k: -(-v // 1000) for k, v in counts.items()}


def test_byte_weights_flip_the_allocation(spark):
    by_rows = _alloc(spark, weight_col=None)
    by_bytes = _alloc(spark, weight_col="content")
    # row counting: big is 40 rows -> 1 bucket, small 4000 -> 4 buckets
    assert by_rows["v:big"] == 1 and by_rows["v:small"] == 4
    # byte weighting: big holds ~95% of the bytes -> nearly all buckets
    assert by_bytes["v:big"] > by_bytes["v:small"]
    assert by_bytes["v:big"] >= 3


def test_weighted_encode_roundtrip_and_partition_spread(spark, tmp_path):
    df = _skewed(spark)
    out = str(tmp_path / "ds")
    res = encode_table(df, out, rows_per_bucket=1000, weight_col="content")
    assert (
        verify_against_source(
            df, decode_table(spark, out), ["repo", "path", "commit"]
        ).count()
        == 0
    )
    # the giant repo must span multiple output partitions (byte skew
    # defused), which row-count placement would put in ONE — counted
    # via the per-chunk zone maps
    from fhirflat_spark.manifest import read_chunk_stats

    stats = read_chunk_stats(spark, out)
    big_parts = (
        stats.where(F.col("column") == "repo")
        .where((F.col("zmin") <= "big") & (F.col("zmax") >= "big"))
        .select("part_id")
        .distinct()
        .count()
    )
    assert big_parts >= 3, f"big repo landed in only {big_parts} partitions"
    assert res.rows == 4040


def test_null_weight_column_falls_back_to_rows(spark):
    df = (
        spark.range(200)
        .select(
            F.lit("r").alias("repo"),
            F.col("id").cast("string").alias("path"),
            F.lit(None).cast("string").alias("content"),
        )
    )
    stats: dict = {}
    plan_partition_ids(df, rows_per_bucket=50, stats_out=stats,
                       weight_col="content")
    # all-NULL weights: planner must not collapse to zero buckets
    assert dict(stats["key_counts"])["v:r"] == 200


def test_weighted_append_roundtrip(spark, tmp_path):
    from fhirflat_spark.encode import append_table

    df = _skewed(spark)
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=1000, weight_col="content")
    delta = _skewed(spark).withColumn(
        "path", F.concat(F.lit("v2/"), F.col("path"))
    )
    append_table(delta, out, rows_per_bucket=1000, weight_col="content")
    both = df.unionByName(delta)
    assert (
        verify_against_source(
            both, decode_table(spark, out), ["repo", "path", "commit"]
        ).count()
        == 0
    )
