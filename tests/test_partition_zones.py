"""Partition-level zone maps: the manifest's per-partition per-column
[zmin, zmax] (col_zones) and the driver-side pruning it enables before
any chunk file is touched."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fhirflat_spark import fsio
from fhirflat_spark.decode import decode_table
from fhirflat_spark.encode import encode_table
from fhirflat_spark.manifest import (
    current_snapshot,
    prune_part_ids_by_zones,
    snapshot_manifest_path,
    table_view,
)

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def clustered_ds(spark, tmp_path_factory):
    """Range-clustered layout (the Iceberg-partitioned-input shape the
    no-shuffle encode is for): partitions hold contiguous doc_id ranges,
    so partition zones are disjoint and pruning bites."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path_factory.mktemp("pz") / "ds")
    encode_table(
        docs.repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id"),
        out, rows_per_bucket=100, shuffle=False,
    )
    return out, docs


def _zones(out):
    t = fsio.read_parquet(f"{out}/manifest", columns=["part_id", "col_zones"])
    return t["part_id"].to_pylist(), t["col_zones"].to_pylist()


def test_manifest_records_partition_zones(clustered_ds):
    out, _ = clustered_ds
    ids, zs = _zones(out)
    assert len(ids) == 8 and all(z is not None for z in zs)
    ranges = sorted(tuple(json.loads(z)["doc_id"]) for z in zs)
    # contiguous, non-overlapping coverage of the key space
    for (alo, ahi), (blo, bhi) in zip(ranges, ranges[1:]):
        assert ahi < blo
    assert all("lang" in json.loads(z) for z in zs)


def test_prune_part_ids_matches_zones(clustered_ds):
    out, _ = clustered_ds
    ids, zs = _zones(out)
    lo, hi = 100, 300
    expect = [
        p for p, z in zip(ids, zs)
        if not (json.loads(z)["doc_id"][1] < lo or json.loads(z)["doc_id"][0] > hi)
    ]
    kept = prune_part_ids_by_zones(
        table_view(out).manifest,
        ids, [("doc_id", lo, hi)], {"doc_id": T.LongType()}
    )
    assert kept == sorted(expect)
    assert 0 < len(kept) < len(ids)


def test_unknown_ids_and_columns_kept_conservatively(clustered_ds):
    out, _ = clustered_ds
    ids, _ = _zones(out)
    # a candidate id the current manifest does not know (pinned snapshot
    # whose partition was rolled back) must be KEPT, not dropped
    kept = prune_part_ids_by_zones(
        table_view(out).manifest,
        [*ids, 9999], [("doc_id", -50, -10)], {"doc_id": T.LongType()}
    )
    assert kept == [9999]
    # a filter on a column without recorded zones prunes nothing
    kept2 = prune_part_ids_by_zones(
        table_view(out).manifest,
        ids, [("no_such_col", 0, 1)], {"no_such_col": T.LongType()}
    )
    assert kept2 == ids
    # unknown type: conservative keep
    kept3 = prune_part_ids_by_zones(
        table_view(out).manifest,
        ids, [("doc_id", 10**9, 2 * 10**9)], {"doc_id": None}
    )
    assert kept3 == ids


def test_zone_filter_decode_exact_after_partition_pruning(spark, clustered_ds):
    out, docs = clustered_ds
    dec = (
        decode_table(spark, out, zone_filter=("doc_id", 100, 300))
        .where(F.col("doc_id").between(100, 300))
    )
    exp = docs.where(F.col("doc_id").between(100, 300))
    assert sorted(map(tuple, dec.collect())) == sorted(map(tuple, exp.collect()))


def test_pre_zone_manifest_keeps_everything(spark, clustered_ds, tmp_path):
    """A manifest written before col_zones existed (column absent from
    the parquet) must disable partition pruning, not break it."""
    out, _ = clustered_ds
    legacy = str(tmp_path / "legacy")
    shutil.copytree(out, legacy)
    head = snapshot_manifest_path(legacy, current_snapshot(legacy))
    t = fsio.read_parquet(head)
    t2 = t.drop_columns(["col_zones"])
    fsio.write_parquet_atomic(t2, head)
    ids = t["part_id"].to_pylist()
    kept = prune_part_ids_by_zones(
        table_view(legacy).manifest,
        ids, [("doc_id", -50, -10)], {"doc_id": T.LongType()}
    )
    assert kept == ids


def test_datasource_partition_pruning(clustered_ds):
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from fhirflat_spark.sources.datasource import FhirflatBatchReader

    out, docs_unused = clustered_ds
    rdr = FhirflatBatchReader({"path": out}, None)
    n_all = len(rdr.partitions())
    rdr.pushFilters(
        [GreaterThanOrEqual(("doc_id",), 100), LessThanOrEqual(("doc_id",), 300)]
    )
    pruned = rdr.partitions()
    assert 0 < len(pruned) < n_all
    ids = [
        v.as_py() for p in pruned for b in rdr.read(p) for v in b.column(0)
    ]
    assert set(range(100, 301)) <= set(ids)


def test_nan_rows_survive_one_sided_zone_filter(spark, tmp_path):
    """Spark orders NaN ABOVE every double, but Arrow's min_max ignores
    NaN — a finite recorded upper bound would let `col > hi` prune the
    chunk holding the NaN rows. A NaN-bearing chunk must record NO zone
    so every zone/pushdown path keeps it."""
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.encode import encode_table

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 7, F.lit(float("nan")))
        .otherwise(F.col("id") * 1.0).alias("price"),
    )
    out = str(tmp_path / "nanz")
    encode_table(df, out, rows_per_bucket=100, num_partitions=1)
    dec = decode_table(spark, out, zone_filter=("price", 1000.0, None))
    got = dec.where(F.col("price") > 1000.0).collect()
    # NaN > 1000.0 is TRUE under Spark ordering: the row must survive
    assert [r["doc_id"] for r in got] == [7]
