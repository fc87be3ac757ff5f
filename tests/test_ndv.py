"""Per-chunk HLL NDV sketches (fhirflat_spark.ndv): estimator accuracy,
the chunking-independence invariant (merged registers are a pure
function of the value SET), metadata-only answering, and every refusal
path."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from fhirflat_spark import fsio
from fhirflat_spark.encode import append_table, encode_table
from fhirflat_spark.manifest import (
    delete_rows,
    read_snapshot_manifest,
    read_summary,
)
from fhirflat_spark.ndv import hll_estimate, hll_registers, ndv_from_metadata

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_kernel_estimate_accuracy():
    import pyarrow as pa

    # exact regime (linear counting)
    small = pa.array([f"v{i % 37}" for i in range(5000)])
    assert hll_estimate(hll_registers(small)) == 37
    # estimator regime: 50k distinct ints, 2^11 registers → ~2.3% σ
    big = pa.array(list(range(50_000)), type=pa.int64())
    est = hll_estimate(hll_registers(big))
    assert abs(est - 50_000) <= 0.05 * 50_000
    # all-null / empty contribute nothing
    assert hll_registers(pa.array([None, None], type=pa.string())) is None
    assert hll_estimate(None) == 0


def test_table_level_estimates(spark, docs, tmp_path):
    out = str(tmp_path / "nd")
    encode_table(docs, out, rows_per_bucket=100,
                 ndv_columns=["doc_id", "lang"])
    for col in ("doc_id", "lang"):
        exact = docs.select(col).distinct().count()
        est = ndv_from_metadata(out, col)
        assert est is not None
        assert abs(est - exact) <= max(1, 0.05 * exact), (col, est, exact)
    # unsketched column refuses
    assert ndv_from_metadata(out, "text") is None


def test_merged_registers_independent_of_chunking(spark, docs, tmp_path):
    """The register-max merge is a pure function of the value set: a
    one-shot build and a two-append build of the same rows produce
    BIT-IDENTICAL table-level sketches."""
    one = str(tmp_path / "one")
    two = str(tmp_path / "two")
    encode_table(docs, one, rows_per_bucket=5000, ndv_columns=["doc_id"])
    encode_table(docs.where(F.col("doc_id") % 2 == 0), two,
                 rows_per_bucket=100, ndv_columns=["doc_id"])
    append_table(docs.where(F.col("doc_id") % 2 == 1), two,
                 rows_per_bucket=700)  # ndv inherited from the summary

    def merged(out):
        from fhirflat_spark.manifest import current_snapshot
        from fhirflat_spark.ndv import hll_merge

        t = read_snapshot_manifest(out, current_snapshot(out))
        m = None
        for hj in t["col_hlls"].to_pylist():
            hx = (json.loads(hj) or {}).get("doc_id") if hj else None
            if hx:
                m = hll_merge(m, bytes.fromhex(hx))
        return m

    assert merged(one) == merged(two) and merged(one) is not None


def test_metadata_only_no_chunk_io(spark, docs, tmp_path):
    out = str(tmp_path / "gut")
    encode_table(docs.where(F.col("doc_id") < 200), out,
                 rows_per_bucket=100, ndv_columns=["doc_id"])
    shutil.rmtree(os.path.join(out, "chunks"))
    est = ndv_from_metadata(out, "doc_id")
    assert est is not None and abs(est - 200) <= 10


def test_deletes_refuse(spark, docs, tmp_path):
    out = str(tmp_path / "del")
    encode_table(docs.where(F.col("doc_id") < 100), out,
                 rows_per_bucket=100, ndv_columns=["doc_id"])
    delete_rows(spark, out, "doc_id", [1])
    # deleted values can't be subtracted from an HLL → refuse...
    assert ndv_from_metadata(out, "doc_id") is None
    # ...but the pre-delete snapshot still serves
    assert ndv_from_metadata(out, "doc_id", snapshot=1) is not None


def test_pre_ndv_partitions_refuse_unless_all_null(spark, docs, tmp_path):
    out = str(tmp_path / "mix")
    encode_table(docs.where(F.col("doc_id") < 50), out, rows_per_bucket=50)
    append_table(docs.where(F.col("doc_id").between(50, 99)), out,
                 rows_per_bucket=50, ndv_columns=["doc_id"])
    # the first partition has real doc_id values but no sketch
    assert ndv_from_metadata(out, "doc_id") is None


def test_unsupported_type_raises(spark, docs, tmp_path):
    df = docs.withColumn("f", F.col("doc_id") * 1.5)
    with pytest.raises(ValueError, match="ndv column"):
        encode_table(df, str(tmp_path / "x"), ndv_columns=["f"])


def test_transcode_carries_sketches(spark, docs, tmp_path):
    from fhirflat_spark.decode import transcode_table

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    encode_table(docs, src, rows_per_bucket=100, ndv_columns=["lang"])
    transcode_table(spark, src, dst)
    assert ndv_from_metadata(dst, "lang") == ndv_from_metadata(src, "lang")
    # the destination stays a sketched table: an append keeps sketching
    append_table(docs.limit(50), dst, rows_per_bucket=100)
    assert ndv_from_metadata(dst, "lang") is not None
    assert "lang" in read_summary(None, dst)["ndv_columns"]


def test_transcode_keeps_backfilled_sketches(spark, tmp_path):
    """Sketches ``analyze_table`` backfilled live only in the manifest
    fragments, not in the chunk stats: transcode carries them over."""
    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.decode import transcode_table
    from fhirflat_spark.maintenance import analyze_table

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    encode_table(gen_spark(spark, 3000, seed=5), src)
    assert ndv_from_metadata(src, "lang") is None
    analyze_table(spark, src, ndv_columns=["lang"])
    assert ndv_from_metadata(src, "lang") == 12
    transcode_table(spark, src, dst)
    assert ndv_from_metadata(dst, "lang") == 12
