"""Per-chunk DDSketch quantile sketches (fhirflat_spark.quantiles):
the relative-error guarantee, the chunking-independence invariant (the
merged sketch is a pure function of the value MULTISET), metadata-only
answering, NaN poisoning, and every refusal path — mirroring the HLL NDV
test net (test_ndv.py)."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from fhirflat_spark.encode import append_table, encode_table
from fhirflat_spark.manifest import (
    delete_rows,
    read_snapshot_manifest,
    read_summary,
)
from fhirflat_spark.quantiles import (
    ALPHA,
    MIN_POSITIVE,
    ddq_count,
    ddq_merge,
    ddq_quantile,
    ddq_sketch,
    quantile_from_metadata,
)

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
QS = (0.0, 0.01, 0.25, 0.5, 0.9, 0.99, 1.0)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _assert_within(vals: np.ndarray, sk):
    s = np.sort(vals)
    assert ddq_count(sk) == len(vals)
    for q in QS:
        est = ddq_quantile(sk, q)
        true = s[int(np.floor(q * (len(s) - 1)))]  # documented convention
        if abs(true) < MIN_POSITIVE:
            assert abs(est) < MIN_POSITIVE, (q, est, true)
        else:
            assert abs(est - true) <= ALPHA * abs(true) + 1e-12, (
                q, est, true)


def test_kernel_guarantee_positive_skewed():
    rng = np.random.default_rng(1)
    v = rng.lognormal(3, 2, 20_000)
    _assert_within(v, ddq_sketch(pa.array(v)))


def test_kernel_guarantee_signed_and_zeros():
    rng = np.random.default_rng(2)
    v = np.concatenate([
        -rng.lognormal(2, 1.5, 7000), np.zeros(500), rng.lognormal(1, 2, 7000)
    ])
    _assert_within(v, ddq_sketch(pa.array(v)))


def test_kernel_guarantee_integer_ids():
    v = np.arange(5000, dtype=np.int64)
    _assert_within(v.astype(np.float64), ddq_sketch(pa.array(v)))


def test_merge_is_pure_function_of_multiset():
    rng = np.random.default_rng(3)
    full = np.concatenate([-rng.lognormal(1, 1, 2000),
                           rng.lognormal(2, 2, 3000)])
    ref = ddq_sketch(pa.array(full))
    for seed in range(4):
        r = np.random.default_rng(seed)
        cuts = np.sort(r.integers(1, len(full) - 1, 6))
        acc = None
        for part in np.split(r.permutation(full), cuts):
            acc = ddq_merge(acc, ddq_sketch(pa.array(part)))
        assert acc == ref  # bit-identical, any chunking, any order


def test_kernel_refusals():
    assert ddq_sketch(pa.array([None, None], type=pa.float64())) is None
    assert ddq_sketch(pa.array([], type=pa.int64())) is None
    assert ddq_sketch(pa.array([1.0, float("nan")])) is None  # poisoned
    assert ddq_sketch(pa.array([1.0, float("inf")])) is None
    assert ddq_sketch(pa.array(["a"])) is None
    assert ddq_quantile(None, 0.5) is None
    assert ddq_quantile(ddq_sketch(pa.array([1.0])), 1.5) is None


def test_table_level_estimates(spark, docs, tmp_path):
    out = str(tmp_path / "qd")
    encode_table(docs, out, rows_per_bucket=100,
                 quantile_columns=["doc_id", "n_chars"])
    for col in ("doc_id", "n_chars"):
        vals = np.sort(np.array([r[0] for r in docs.select(col).collect()]))
        for q in (0.01, 0.5, 0.99):
            est = quantile_from_metadata(out, col, q)
            true = vals[int(np.floor(q * (len(vals) - 1)))]
            assert est is not None
            assert abs(est - true) <= ALPHA * abs(true) + 1e-12, (
                col, q, est, true)
    # unsketched column refuses
    assert quantile_from_metadata(out, "lang", 0.5) is None


def test_table_sketch_independent_of_chunking(spark, docs, tmp_path):
    """One-shot build vs two-append build of the same rows: BIT-IDENTICAL
    table-level sketches (the purity that makes maintenance exact)."""
    one = str(tmp_path / "one")
    two = str(tmp_path / "two")
    encode_table(docs, one, rows_per_bucket=5000,
                 quantile_columns=["n_chars"])
    encode_table(docs.where(F.col("doc_id") % 2 == 0), two,
                 rows_per_bucket=100, quantile_columns=["n_chars"])
    append_table(docs.where(F.col("doc_id") % 2 == 1), two,
                 rows_per_bucket=700)  # tracking inherited from the summary

    def merged(out):
        from fhirflat_spark.manifest import current_snapshot

        t = read_snapshot_manifest(out, current_snapshot(out))
        m = None
        for dj in t["col_ddqs"].to_pylist():
            sk = (json.loads(dj) or {}).get("n_chars") if dj else None
            if sk:
                m = ddq_merge(m, sk)
        return m

    assert merged(one) == merged(two) and merged(one) is not None


def test_metadata_only_no_chunk_io(spark, docs, tmp_path):
    out = str(tmp_path / "gut")
    encode_table(docs.where(F.col("doc_id") < 200), out,
                 rows_per_bucket=100, quantile_columns=["doc_id"])
    shutil.rmtree(os.path.join(out, "chunks"))
    est = quantile_from_metadata(out, "doc_id", 0.5)
    assert est is not None and abs(est - 99) <= ALPHA * 99 + 1


def test_deletes_refuse_but_old_snapshot_serves(spark, docs, tmp_path):
    out = str(tmp_path / "del")
    encode_table(docs.where(F.col("doc_id") < 100), out,
                 rows_per_bucket=100, quantile_columns=["doc_id"])
    delete_rows(spark, out, "doc_id", [1])
    assert quantile_from_metadata(out, "doc_id", 0.5) is None
    assert quantile_from_metadata(out, "doc_id", 0.5, snapshot=1) is not None


def test_pre_sketch_partitions_refuse(spark, docs, tmp_path):
    out = str(tmp_path / "mix")
    encode_table(docs.where(F.col("doc_id") < 50), out, rows_per_bucket=50)
    append_table(docs.where(F.col("doc_id").between(50, 99)), out,
                 rows_per_bucket=50, quantile_columns=["doc_id"])
    # the first partition has real values but no sketch
    assert quantile_from_metadata(out, "doc_id", 0.5) is None


def test_nan_poisoned_chunk_refuses(spark, docs, tmp_path):
    """A NaN value poisons its chunk's sketch; the nulls cross-check then
    refuses table service instead of serving a wrong answer."""
    out = str(tmp_path / "nan")
    df = docs.where(F.col("doc_id") < 100).withColumn(
        "f",
        F.when(F.col("doc_id") == 7, F.lit(float("nan")))
        .otherwise(F.col("doc_id").cast("double")),
    )
    encode_table(df, out, rows_per_bucket=1000, quantile_columns=["f"])
    assert quantile_from_metadata(out, "f", 0.5) is None


def test_non_numeric_column_raises(spark, docs, tmp_path):
    with pytest.raises(ValueError, match="quantile column"):
        encode_table(docs, str(tmp_path / "x"), quantile_columns=["lang"])


def test_transcode_carries_sketches(spark, docs, tmp_path):
    from fhirflat_spark.decode import transcode_table

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    encode_table(docs, src, rows_per_bucket=100,
                 quantile_columns=["n_chars"])
    transcode_table(spark, src, dst)
    assert (quantile_from_metadata(dst, "n_chars", 0.9)
            == quantile_from_metadata(src, "n_chars", 0.9))
    # the destination stays a sketched table: an append keeps sketching
    append_table(docs.limit(50), dst, rows_per_bucket=100)
    assert quantile_from_metadata(dst, "n_chars", 0.9) is not None
    assert "n_chars" in read_summary(None, dst)["quantile_columns"]


def test_named_sink_option(spark, docs, tmp_path):
    from fhirflat_spark.sources.datasource import register

    register(spark)
    out = str(tmp_path / "sink")
    (docs.write.format("fhirflat")
         .option("quantile_columns", "n_chars")
         .mode("overwrite").save(out))
    vals = np.sort(np.array([r[0] for r in docs.select("n_chars").collect()]))
    est = quantile_from_metadata(out, "n_chars", 0.5)
    true = vals[int(np.floor(0.5 * (len(vals) - 1)))]
    assert est is not None and abs(est - true) <= ALPHA * abs(true)
