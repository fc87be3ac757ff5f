"""Z-order clustering: Morton key correctness, multi-dimension partition
pruning after a layout-preserving encode, and exact decode on the
secondary dimension."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fhirflat_spark import fsio
from fhirflat_spark.decode import decode_table
from fhirflat_spark.encode import encode_table
from fhirflat_spark.manifest import prune_part_ids_by_zones, table_view
from fhirflat_spark.zorder import cluster_by_zorder, zorder_key

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _morton(vals: list[int], bits: int) -> int:
    z = 0
    n = len(vals)
    for c, v in enumerate(vals):
        for j in range(bits):
            z |= ((v >> j) & 1) << (j * n + c)
    return z


def test_zorder_key_matches_reference_interleave(spark):
    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = (
        df.withColumn(
            "z", zorder_key(df, ["a", "b"], bits=3, bounds={"a": (0, 7), "b": (0, 7)})
        )
        .collect()
    )
    for r in got:
        assert r["z"] == _morton([r["a"], r["b"]], 3), (r["a"], r["b"])


def test_zorder_key_is_plain_codegen(spark):
    df = spark.range(100).withColumn("b", F.col("id") * 2)
    z = df.withColumn("z", zorder_key(df, ["id", "b"], bits=12))
    plan = z._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.fixture(scope="module")
def zordered(spark, tmp_path_factory):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path_factory.mktemp("zo") / "ds")
    clustered = cluster_by_zorder(docs, ["doc_id", "n_chars"],
                                  num_partitions=16)
    encode_table(clustered, out, rows_per_bucket=100, shuffle=False)
    return out, docs


def test_both_dimensions_prune_partitions(spark, zordered):
    out, docs = zordered
    t = fsio.read_parquet(f"{out}/manifest", columns=["part_id", "col_zones"])
    ids = t["part_id"].to_pylist()
    assert all(z is not None for z in t["col_zones"].to_pylist())
    type_of = {"doc_id": T.LongType(), "n_chars": T.LongType()}
    hi_d = docs.agg(F.max("doc_id")).collect()[0][0]
    k_doc = prune_part_ids_by_zones(
        table_view(out).manifest, ids, [("doc_id", 0, hi_d // 5)], type_of
    )
    p = docs.agg(
        F.expr("percentile(n_chars, array(0.4, 0.6))").alias("p")
    ).collect()[0]["p"]
    k_chars = prune_part_ids_by_zones(
        table_view(out).manifest,
        ids, [("n_chars", int(p[0]), int(p[1]))], type_of
    )
    # a 1-d layout prunes only its sort column; the curve prunes BOTH
    assert len(k_doc) < len(ids)
    assert len(k_chars) < len(ids)


def test_secondary_dimension_decode_exact(spark, zordered):
    out, docs = zordered
    p = docs.agg(
        F.expr("percentile(n_chars, array(0.4, 0.6))").alias("p")
    ).collect()[0]["p"]
    lo, hi = int(p[0]), int(p[1])
    dec = (
        decode_table(spark, out, zone_filter=("n_chars", lo, hi))
        .where(F.col("n_chars").between(lo, hi))
    )
    exp = docs.where(F.col("n_chars").between(lo, hi))
    assert sorted(map(tuple, dec.collect())) == sorted(map(tuple, exp.collect()))


def test_string_column_participates(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "zs")
    clustered = cluster_by_zorder(docs, ["lang", "doc_id"], num_partitions=8)
    encode_table(clustered, out, rows_per_bucket=100, shuffle=False)
    t = fsio.read_parquet(f"{out}/manifest", columns=["part_id", "col_zones"])
    ids = t["part_id"].to_pylist()
    langs = sorted(
        r["lang"] for r in docs.select("lang").distinct().collect()
    )
    kept = prune_part_ids_by_zones(
        table_view(out).manifest,
        ids, [("lang", langs[0], langs[0])], {"lang": T.StringType()}
    )
    assert len(kept) < len(ids)
    dec = (
        decode_table(spark, out, zone_filter=("lang", langs[0], langs[0]))
        .where(F.col("lang") == langs[0])
    )
    assert dec.count() == docs.where(F.col("lang") == langs[0]).count()


def test_rows_survive_clustering_exactly(spark, zordered):
    out, docs = zordered
    dec = decode_table(spark, out)
    assert sorted(map(tuple, dec.collect())) == sorted(map(tuple, docs.collect()))


def test_date_and_timestamp_columns(spark):
    import datetime as dt

    rows = [
        (dt.date(2024, 1, 1) + dt.timedelta(days=i), i) for i in range(16)
    ]
    df = spark.createDataFrame(rows, ["d", "x"])
    z = df.withColumn("z", zorder_key(df, ["d", "x"], bits=4)).collect()
    # monotone along the diagonal: both dims grow together, so z grows
    ordered = sorted(z, key=lambda r: r["d"])
    zs = [r["z"] for r in ordered]
    assert zs == sorted(zs) and len(set(zs)) == len(zs)


def test_string_caller_bounds_skip_dictionary(spark, monkeypatch):
    """Caller-supplied string bounds must take the byte-rank path — no
    distinct() probe over the column."""
    df = spark.createDataFrame(
        [(c, i) for i, c in enumerate("abcdefgh")], ["s", "x"]
    )
    import pyspark.sql.classic.dataframe as cdf

    calls = []
    orig = cdf.DataFrame.distinct

    def spy(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(cdf.DataFrame, "distinct", spy)
    zorder_key(df, ["s", "x"], bits=4,
               bounds={"s": ("a", "h"), "x": (0, 7)})
    assert calls == []
