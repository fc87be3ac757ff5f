"""End-to-end demo in the reference's own shape (SURVEY §3.1): raw wide
clinical-style CSV + mapping-rule CSV → mapping ingest → flat typed table
→ columnar encode → decode → bit-identical validation — the full
``convert_data_to_flat`` lifecycle (reference fhirflat/ingest.py:435-601)
as Catalyst plans + arrow kernels, plus adversarial-skew and ANN
consistency checks.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fhirflat_spark.decode import decode_table, verify_table
from fhirflat_spark.encode import encode_table, plan_partition_ids
from fhirflat_spark.ingest import apply_mapping, condense_one_to_one
from fhirflat_spark.sources import read_csv, write_errors

RAW_CSV = """subjid,visitid,dates_adm,outco_outcome,outco_date,vital_hr
s001,v1,2021-04-01,1,2021-04-09,72
s002,v1,2021-04-02,2,2021-04-11,88
s003,v2,2021-04-03,3,,64
s004,v2,2021-04-04,7,2021-04-15,90
"""

MAPPING_ROWS = [
    ("outco_outcome", "1", "outcome.status", "recovered"),
    ("outco_outcome", "2", "outcome.status", "died"),
    ("outco_outcome", "3", "outcome.status", "transferred"),
    ("dates_adm", None, "period.start", "<FIELD>"),
    ("outco_date", None, "period.end", "<FIELD>"),
    ("vital_hr", None, "vitals.heart_rate", "<FIELD>"),
]


@pytest.fixture(scope="module")
def flat_table(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("e2e")
    raw_path = str(base / "raw.csv")
    with open(raw_path, "w") as f:
        f.write(RAW_CSV)
    raw = read_csv(spark, raw_path, schema=(
        "subjid string, visitid string, dates_adm string, "
        "outco_outcome string, outco_date string, vital_hr string"))
    mapping = spark.createDataFrame(
        MAPPING_ROWS, "variable string, response string, target string, expr string"
    )
    assigns, unmapped = apply_mapping(raw, mapping, ["subjid"])
    err_dir = str(base / "errors")
    write_errors(unmapped, err_dir)  # S7 quarantine channel
    wide = condense_one_to_one(assigns, ["subjid"])
    return wide, unmapped, str(base)


def test_ingest_produces_flat_typed_table(spark, flat_table):
    wide, unmapped, _ = flat_table
    rows = {r["subjid"]: r for r in wide.collect()}
    assert rows["s001"]["outcome.status"] == "recovered"
    assert rows["s001"]["period.start"] == "2021-04-01"
    assert rows["s003"]["period.end"] is None  # null response dropped
    # missing mapping (outcome=7) lands in the side-channel, not the table
    assert "outcome.status" not in rows["s004"] or rows["s004"]["outcome.status"] is None
    assert unmapped.count() == 1


def test_flat_table_encodes_and_roundtrips(spark, flat_table):
    wide, _, base = flat_table
    out = f"{base}/encoded"
    res = encode_table(wide.drop("__conflicts"), out, rows_per_bucket=10)
    assert res.rows == 4
    v = verify_table(spark, out)
    assert v.where(~F.col("ok")).count() == 0
    decoded = decode_table(spark, out)
    src = wide.drop("__conflicts")
    assert decoded.exceptAll(src).count() + src.exceptAll(decoded).count() == 0


def test_adversarial_skew_single_repo(spark, tmp_path):
    """99.9% of rows in ONE repo must still spread across partitions."""
    from fhirflat_spark.datagen import gen_pandas

    pdf = gen_pandas(4000, seed=13)
    pdf["repo"] = "giant/only"  # everything in one repo
    pdf.loc[:3, "repo"] = "tiny/other"
    df = spark.createDataFrame(pdf)
    bucketed, P = plan_partition_ids(df, rows_per_bucket=500)
    sizes = bucketed.groupBy("__pb").count().collect()
    nonempty = [r["count"] for r in sizes if r["count"] > 0]
    assert len(nonempty) >= 6, f"giant repo not spread: {sizes}"
    assert max(nonempty) <= 2.5 * 500


def test_ann_lsh_consistent_with_bruteforce(spark):
    """LSH-bucketed ANN must return a subset of the brute-force scores with
    identical cosine values for every id it returns."""
    from fhirflat_spark.operators.similarity import (
        q_ann_lsh_bucketed,
        q_cosine_score_all,
    )

    sf = "/root/testdata/sf0.001"
    exact = {r["vec_id"]: r["cosine"] for r in q_cosine_score_all(spark, sf).collect()}
    approx = q_ann_lsh_bucketed(spark, sf).collect()
    assert len(approx) > 0
    for r in approx:
        assert r["vec_id"] in exact
        assert abs(r["cosine"] - exact[r["vec_id"]]) < 1e-6


def test_neardup_probes_catch_cross_bucket_pairs(spark):
    """The sign-bucket prefilter must still find near-dup pairs whose
    buckets differ by ONE sign bit (a near-zero dim flipping sign), and
    must find each pair exactly once (probes are distinct values)."""
    from fhirflat_spark.operators.similarity import q_embedding_neardup_pairs

    base = [0.001, 0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3]
    flipped = [-0.001] + base[1:]          # bucket differs in bit 0 only
    far = [-x for x in base]               # anti-parallel: cosine = -1
    rows = [
        (0, "x", base),
        (1, "x", flipped),                 # cosine(base, flipped) ≈ 1.0
        (2, "x", far),
        (3, "y", base),                    # same vector, DIFFERENT label
    ]
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="neardup_test_")
    spark.createDataFrame(
        rows, "vec_id INT, label STRING, embedding ARRAY<FLOAT>"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    pairs = q_embedding_neardup_pairs(spark, d).collect()
    assert [(r["vec_a"], r["vec_b"]) for r in pairs] == [(0, 1)]
    assert pairs[0]["cosine"] >= 0.999


def test_ann_ivf_consistent_with_bruteforce(spark):
    """IVF-probed ANN must return a subset of brute-force scores with
    identical cosine values, and its assignment must be a shuffle-free
    projection (no Exchange before the filter)."""
    from fhirflat_spark.operators.similarity import (
        q_ann_ivf_coarse,
        q_cosine_score_all,
    )

    sf = "/root/testdata/sf0.001"
    exact = {r["vec_id"]: r["cosine"] for r in q_cosine_score_all(spark, sf).collect()}
    approx = q_ann_ivf_coarse(spark, sf).collect()
    assert len(approx) > 0
    for r in approx:
        assert r["vec_id"] in exact
        assert abs(r["cosine"] - exact[r["vec_id"]]) < 1e-6


def test_queries_over_decoded_dataset(spark, tmp_path):
    """The chunk store composes as a real table source: encoding the
    documents table and running registered queries over decode_table's
    output must match running them over the original parquet."""
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.encode import encode_table
    from fhirflat_spark.operators.dedup import q_dedup_exact
    from fhirflat_spark.operators.textops import q_quality_score

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = str(tmp_path / "docs_enc")
    encode_table(docs, out, rows_per_bucket=200)
    # mirror the sf-dir layout so the operators' load() reads decoded data
    dec_dir = str(tmp_path / "as_sf")
    decode_table(spark, out).write.mode("overwrite").parquet(
        f"{dec_dir}/documents.parquet"
    )
    for q in (q_quality_score, q_dedup_exact):
        direct = sorted(map(tuple, q(spark, sf).collect()))
        via_store = sorted(map(tuple, q(spark, dec_dir).collect()))
        assert direct == via_store, q.__name__
