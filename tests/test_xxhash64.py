"""The numpy XXH64 (``fhirflat_spark.xxhash64``) gives Spark's
``F.xxhash64`` long for every type it covers: placement hashes rows in
the encode kernel, and a single differing bit would move a row to
another partition than the Spark-computed hash did."""

from __future__ import annotations

import random
from datetime import date, datetime

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fhirflat_spark.xxhash64 import covered, xxhash64

# lengths 0-300, dense around the 4-, 8- and 32-byte word and stripe edges
LENGTHS = sorted(set(range(0, 41)) | {b + d for b in (64, 96, 128, 256)
                                      for d in (-1, 0, 1)} | {299, 300})
ALPHABET = "ab0/é€😀"  # 1-, 2-, 3- and 4-byte UTF-8


def _text(rnd: random.Random, n_bytes: int) -> str:
    """A string of about ``n_bytes`` UTF-8 bytes."""
    out, size = [], 0
    while size < n_bytes:
        ch = rnd.choice(ALPHABET)
        out.append(ch)
        size += len(ch.encode())
    return "".join(out)


@pytest.fixture(scope="module")
def table(spark):
    rnd = random.Random(7)
    rows = []
    for i in range(2000):
        pick = rnd.random
        rows.append((
            None if pick() < 0.1 else _text(rnd, rnd.choice(LENGTHS)),
            None if pick() < 0.1 else _text(rnd, rnd.choice(LENGTHS)),
            "" if pick() < 0.2 else _text(rnd, rnd.choice(LENGTHS)),
            None if pick() < 0.1 else bytes(rnd.randrange(256) for _ in
                                             range(rnd.choice(LENGTHS))),
            rnd.choice([None, True, False]),
            rnd.choice([None, -128, 127, 0, rnd.randint(-128, 127)]),
            rnd.choice([None, -32768, 32767, rnd.randint(-32768, 32767)]),
            rnd.choice([None, -2**31, 2**31 - 1, 0,
                        rnd.randint(-2**31, 2**31 - 1)]),
            rnd.choice([None, -2**63, 2**63 - 1, 0,
                        rnd.randint(-2**63, 2**63 - 1)]),
            rnd.choice([None, -0.0, 0.0, float("nan"), float("inf"),
                        -float("inf"), rnd.uniform(-1e6, 1e6)]),
            rnd.choice([None, -0.0, 0.0, float("nan"), float("inf"),
                        -float("inf"), rnd.uniform(-1e12, 1e12)]),
            rnd.choice([None, date(1, 1, 1), date(1969, 12, 31),
                        date(9999, 12, 31), date(2024, 2, 29)]),
            rnd.choice([None, datetime(1, 1, 1), datetime(1969, 12, 31, 23),
                        datetime(2024, 2, 29, 12, 30, 1, 999999)]),
        ))
    schema = T.StructType([
        T.StructField("s1", T.StringType()), T.StructField("s2", T.StringType()),
        T.StructField("s3", T.StringType()), T.StructField("bin", T.BinaryType()),
        T.StructField("bo", T.BooleanType()), T.StructField("b", T.ByteType()),
        T.StructField("sh", T.ShortType()), T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()), T.StructField("f", T.FloatType()),
        T.StructField("d", T.DoubleType()), T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampType()),
    ])
    df = spark.createDataFrame(rows, schema).withColumn(
        "ntz", F.col("ts").cast("timestamp_ntz"))
    assert all(covered(f.dataType) for f in df.schema.fields)
    hashes = [F.xxhash64("s1", "s2", "s3").alias("h_chain")] + [
        F.xxhash64(c).alias(f"h_{c}") for c in df.columns]
    return df.select(*df.columns, *hashes).toArrow()


def test_chained_strings_match_spark(table):
    """Three string columns chained from seed 42 — the encode's hash
    columns — with NULLs (skipped), empty strings and multibyte text."""
    got = xxhash64([table.column(c) for c in ("s1", "s2", "s3")])
    assert np.array_equal(got, table.column("h_chain").to_numpy())


@pytest.mark.parametrize("col", ["s1", "bin", "bo", "b", "sh", "i", "l",
                                 "f", "d", "dt", "ts", "ntz"])
def test_each_covered_type_matches_spark(table, col):
    got = xxhash64([table.column(col)])
    want = table.column(f"h_{col}").to_numpy()
    bad = np.flatnonzero(got != want)
    assert not len(bad), table.slice(int(bad[0]), 1).column(col)


def test_uncovered_types():
    """Types Spark hashes in another way stay with Spark."""
    assert not covered(T.DecimalType(10, 2))
    assert not covered(T.ArrayType(T.StringType()))
    assert not covered(T.StructType([T.StructField("a", T.StringType())]))
    assert covered(T.StringType()) and covered(T.TimestampNTZType())
