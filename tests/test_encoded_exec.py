"""Encoded-domain aggregation (fhirflat_spark/encoded_exec.py): GROUP BY
computed on compressed chunks must equal Catalyst groupBy on the decoded
table — per codec (dict/rle/constant/fallback), under NULLs in both the
group and value columns, across snapshots, and after schema evolution.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from fhirflat_spark.codecs import encode_array
from fhirflat_spark.encode import append_table, encode_table
from fhirflat_spark.encoded_exec import (
    _RADIX_CAP,
    _codes_keys,
    _group_ids,
    _run_codes,
    distinct_encoded,
    group_agg_encoded,
    group_count_encoded,
)


# ---------------------------------------------------------------------------
# kernel-level: every codec path, directly on blobs
# ---------------------------------------------------------------------------

CODEC_CASES = [
    ("dict", pa.array(["a", "b", "a", "c", "a", "b"])),
    ("rle", pa.array(["x", "x", "x", "y", "y", "z"])),
    ("constant", pa.array(["k"] * 7)),
    ("zstd", pa.array(["p", "q", "p", "r"])),
    ("for", pa.array([5, 5, 9, 5, 7], type=pa.int64())),
    ("delta", pa.array([1, 2, 3, 4, 5], type=pa.int64())),
]


@pytest.mark.parametrize("codec,arr", CODEC_CASES, ids=[c for c, _ in CODEC_CASES])
def test_codes_keys_reconstruct(codec, arr):
    blob = encode_array(arr, codec=codec)
    codes, keys = _codes_keys(blob)
    assert (codes >= 0).all()
    rebuilt = keys.take(pa.array(codes)).to_pylist()
    assert rebuilt == arr.to_pylist()


def test_codes_keys_nullable():
    arr = pa.array([None, "a", "b", None, "a"])
    codes, keys = _codes_keys(encode_array(arr, codec="dict"))
    assert list(codes < 0) == [True, False, False, True, False]
    rebuilt = [
        None if c < 0 else keys[c].as_py() for c in codes
    ]
    assert rebuilt == arr.to_pylist()


RUN_CASES = [
    ("rle", pa.array(["x", "x", "x", "y", "y", "x", "z", "z"])),
    ("constant", pa.array(["k"] * 7)),
    ("rle", pa.array([None, "x", "x", None, None, "y", "x", None])),
    ("constant", pa.array([None, "k", "k", None])),
    ("rle", pa.array([3, 3, 3, 1, 1, 3], type=pa.int64())),
]


@pytest.mark.parametrize(
    "codec,arr", RUN_CASES,
    ids=["rle", "constant", "nullable-rle", "nullable-constant", "rle-int"],
)
@pytest.mark.parametrize("radix_cap", [_RADIX_CAP, 1],
                         ids=["radix", "row-tuples"])
def test_run_counts_equal_row_counts(codec, arr, radix_cap):
    """An unfiltered single-column count over an rle or constant chunk
    counts its runs weighted by their lengths (``_run_codes``) instead of
    expanding one code per row; the groups and counts it gives must equal
    the expanded per-row ones, NULL group included, through both
    ``_group_ids`` branches."""
    blob = encode_array(arr, codec=codec)
    codes, keys, lens = _run_codes(blob)
    assert len(codes) < len(arr)  # counted from runs, not rows
    assert int(lens.sum()) == len(arr)

    def groups(*res):
        _, _, cnts, (ks,) = res
        out: dict = {}
        for k, c in zip(ks.to_pylist(), cnts.tolist()):
            out[k] = out.get(k, 0) + c  # rle run values may repeat
        return out

    row_codes, row_keys = _codes_keys(blob)
    want = groups(*_group_ids([row_codes], [row_keys], radix_cap))
    got = groups(*_group_ids([codes], [keys], radix_cap, lens))
    assert got == want
    expect: dict = {}
    for v in arr.to_pylist():
        expect[v] = expect.get(v, 0) + 1
    assert got == expect


def test_run_codes_declines_other_codecs():
    """Codecs without a run structure keep the per-row path."""
    for codec, arr in CODEC_CASES:
        if codec not in ("rle", "constant"):
            assert _run_codes(encode_array(arr, codec=codec)) is None


# ---------------------------------------------------------------------------
# end-to-end over encoded datasets
# ---------------------------------------------------------------------------


def _null_frame(spark):
    rows = []
    rng = np.random.default_rng(7)
    for i in range(800):
        g = [None, "g0", "g1", "g2"][int(rng.integers(0, 4))]
        v = None if rng.integers(0, 5) == 0 else int(rng.integers(-50, 50))
        rows.append((i, g, v))
    return spark.createDataFrame(
        rows, "id BIGINT, grp STRING, val BIGINT"
    )


def _expect_agg(df, g, v):
    return df.groupBy(g).agg(
        F.count("*").alias("cnt"),
        F.count(v).alias(f"count_{v}"),
        F.sum(v).alias(f"sum_{v}"),
        F.min(v).alias(f"min_{v}"),
        F.max(v).alias(f"max_{v}"),
    )


def _rows(df):
    # repr-tuples: None sorts (rows may carry NULL groups/values)
    return sorted(tuple(map(repr, r)) for r in df.collect())


def test_group_count_and_agg_with_nulls(spark, tmp_path):
    df = _null_frame(spark)
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=200)
    got = group_count_encoded(spark, out, "grp")
    exp = df.groupBy("grp").agg(F.count("*").alias("cnt"))
    assert _rows(got) == _rows(exp)

    gota = group_agg_encoded(spark, out, "grp", "val")
    assert _rows(gota) == _rows(_expect_agg(df, "grp", "val"))


def test_group_agg_all_null_group_sum_is_null(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", None), (3, "b", 5)],
        "id BIGINT, grp STRING, val BIGINT",
    )
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=10)
    got = {r["grp"]: r for r in group_agg_encoded(spark, out, "grp", "val").collect()}
    assert got["a"]["sum_val"] is None
    assert got["a"]["min_val"] is None
    assert got["a"]["cnt"] == 2
    assert got["b"]["sum_val"] == 5


def test_group_agg_string_value(spark, tmp_path):
    """String value columns aggregate as cnt/MIN/MAX (no SUM): arrow's
    byte-wise UTF-8 min/max equals Spark's binary collation, so the
    partial merge is exact; NULLs skip, all-NULL groups yield NULL."""
    from fhirflat_spark.encoded_exec import group_agg_encoded

    rows = []
    rng = np.random.default_rng(11)
    for i in range(600):
        g = [None, "g0", "g1"][int(rng.integers(0, 3))]
        s = (None if rng.integers(0, 4) == 0
             else f"v{int(rng.integers(0, 50)):02d}")
        rows.append((i, g, s))
    df = spark.createDataFrame(rows, "id BIGINT, grp STRING, s STRING")
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=150)

    def _exp(frame):
        return frame.groupBy("grp").agg(
            F.count("*").alias("cnt"),
            F.count("s").alias("count_s"),
            F.min("s").alias("min_s"),
            F.max("s").alias("max_s"),
        )

    got = group_agg_encoded(spark, out, "grp", "s")
    assert got.columns == ["grp", "cnt", "count_s", "min_s", "max_s"]
    assert _rows(got) == _rows(_exp(df))
    # WHERE pushdown composes
    got = group_agg_encoded(spark, out, "grp", "s",
                            where=[("id", "ge", 300)])
    assert _rows(got) == _rows(_exp(df.where("id >= 300")))
    # a group tuple takes the same string aggregate
    got = group_agg_encoded(spark, out, ["grp", "id"], "s")
    exp = df.groupBy("grp", "id").agg(
        F.count("*").alias("cnt"),
        F.count("s").alias("count_s"),
        F.min("s").alias("min_s"),
        F.max("s").alias("max_s"),
    )
    assert got.columns == ["grp", "id", "cnt", "count_s", "min_s", "max_s"]
    assert _rows(got) == _rows(exp)


def test_schema_evolution_null_group(spark, tmp_path):
    """Chunks written before the column existed count as the NULL group
    (count) / NULL values (agg) — same as decode's typed null fill."""
    out = str(tmp_path / "ds")
    base = spark.createDataFrame([(i, f"g{i % 2}") for i in range(100)],
                                 "id BIGINT, grp STRING")
    encode_table(base, out, rows_per_bucket=50)
    added = spark.createDataFrame(
        [(1000 + i, f"g{i % 2}", i % 7) for i in range(60)],
        "id BIGINT, grp STRING, extra BIGINT",
    )
    append_table(added, out, rows_per_bucket=50)
    from fhirflat_spark.decode import decode_table

    full = decode_table(spark, out)
    assert _rows(group_count_encoded(spark, out, "extra")) == _rows(
        full.groupBy("extra").agg(F.count("*").alias("cnt"))
    )
    assert _rows(group_agg_encoded(spark, out, "grp", "extra")) == _rows(
        _expect_agg(full, "grp", "extra")
    )


def test_snapshot_time_travel(spark, tmp_path):
    out = str(tmp_path / "ds")
    a = spark.createDataFrame([(i, "old") for i in range(50)],
                              "id BIGINT, tag STRING")
    b = spark.createDataFrame([(100 + i, "new") for i in range(30)],
                              "id BIGINT, tag STRING")
    encode_table(a, out, rows_per_bucket=25)
    append_table(b, out, rows_per_bucket=25)
    got1 = {r["tag"]: r["cnt"]
            for r in group_count_encoded(spark, out, "tag", snapshot=1).collect()}
    assert got1 == {"old": 50}
    got2 = {r["tag"]: r["cnt"]
            for r in group_count_encoded(spark, out, "tag").collect()}
    assert got2 == {"old": 50, "new": 30}


def test_refuses_deletes_nested_and_float(spark, tmp_path):
    out = str(tmp_path / "ds")
    df = spark.createDataFrame(
        [(i, float(i), [1, 2]) for i in range(40)],
        "id BIGINT, f DOUBLE, arr ARRAY<BIGINT>",
    )
    encode_table(df, out, rows_per_bucket=20)
    with pytest.raises(ValueError, match="nested"):
        group_count_encoded(spark, out, "arr")
    with pytest.raises(ValueError, match="integral"):
        group_agg_encoded(spark, out, "id", "f")
    from fhirflat_spark.manifest import delete_rows

    delete_rows(spark, out, "id", [3])
    with pytest.raises(ValueError, match="deletes"):
        group_count_encoded(spark, out, "id")


def test_distinct_encoded(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, ["x", "y", None][i % 3]) for i in range(90)],
        "id BIGINT, g STRING",
    )
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=30)
    got = sorted(
        (r[0] or "") for r in distinct_encoded(spark, out, "g").collect()
    )
    assert got == ["", "x", "y"]


def test_group_count_multi_with_nulls_and_evolution(spark, tmp_path):
    out = str(tmp_path / "ds")
    base = spark.createDataFrame(
        [(i, ["a", None, "b"][i % 3], ["x", "y"][i % 2])
         for i in range(300)],
        "id BIGINT, g1 STRING, g2 STRING",
    )
    encode_table(base, out, rows_per_bucket=100)
    added = spark.createDataFrame(
        [(1000 + i, "c", ["x", None][i % 2], i % 4) for i in range(120)],
        "id BIGINT, g1 STRING, g2 STRING, g3 BIGINT",
    )
    append_table(added, out, rows_per_bucket=100)
    from fhirflat_spark.decode import decode_table

    full = decode_table(spark, out)
    got = group_count_encoded(spark, out, ["g1", "g2", "g3"])
    exp = full.groupBy("g1", "g2", "g3").agg(F.count("*").alias("cnt"))
    assert _rows(got) == _rows(exp)


def test_group_count_multi_radix_fallback(spark, tmp_path):
    """A radix cap of 1 forces every chunk through the materialize +
    Arrow hash group-by fallback — results must be identical."""
    from fhirflat_spark.encoded_exec import _group_count_multi

    df = _null_frame(spark)
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=200)
    fast = group_count_encoded(spark, out, ["grp", "val"])
    slow = _group_count_multi(spark, out, ["grp", "val"], None, radix_cap=1)
    exp = df.groupBy("grp", "val").agg(F.count("*").alias("cnt"))
    assert _rows(fast) == _rows(exp)
    assert _rows(slow) == _rows(exp)


def test_group_single_column_radix_fallback(spark, tmp_path):
    """The 1-tuple group runs the same overflow fallback as a tuple."""
    from fhirflat_spark.encoded_exec import (
        _group_agg_multi,
        _group_count_multi,
    )

    df = _null_frame(spark)
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=200)
    slow = _group_count_multi(spark, out, ["grp"], None, radix_cap=1)
    exp = df.groupBy("grp").agg(F.count("*").alias("cnt"))
    assert _rows(slow) == _rows(exp)
    slow = _group_agg_multi(spark, out, ["grp"], "val", None, radix_cap=1)
    assert _rows(slow) == _rows(_expect_agg(df, "grp", "val"))


@pytest.mark.parametrize("codec", ["dict", "rle", "zstd", "constant"])
def test_single_column_group_per_codec(spark, tmp_path, codec):
    """One group column forced onto each codec family — the encoded
    paths (dict codes, rle runs, constant header) and a heavy codec
    that decodes first — equals Spark's groupBy, with and without a
    where. The constant case groups an all-equal column."""
    import pyarrow.parquet as pq

    from fhirflat_spark.codecs.core import unpack_chunk
    from fhirflat_spark.manifest import read_summary

    df = _null_frame(spark)
    if codec == "constant":
        df = df.withColumn("grp", F.lit("k"))
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=200,
                 codec_overrides={"grp": codec})

    def _inner(blob):  # the codec under a nullable wrapper
        name, _n, _tok, _meta, secs = unpack_chunk(blob)
        return _inner(secs[1]) if name == "nullable" else name

    idx = read_summary(spark, out)["columns"].index("grp")
    blobs = pq.read_table(f"{out}/chunks").column("payload") \
        .combine_chunks().field(f"__c{idx}")
    assert {_inner(b.as_py()) for b in blobs} == {codec}
    for where, cond in ((None, "true"), (("val", "ge", 0), "val >= 0")):
        sub = df.where(cond)
        got = group_count_encoded(spark, out, "grp", where=where)
        exp = sub.groupBy("grp").agg(F.count("*").alias("cnt"))
        assert _rows(got) == _rows(exp), where
        got = group_agg_encoded(spark, out, "grp", "val", where=where)
        assert _rows(got) == _rows(_expect_agg(sub, "grp", "val")), where


def _expect_agg_multi(df, gcols, v):
    return df.groupBy(*gcols).agg(
        F.count("*").alias("cnt"),
        F.count(v).alias(f"count_{v}"),
        F.sum(v).alias(f"sum_{v}"),
        F.min(v).alias(f"min_{v}"),
        F.max(v).alias(f"max_{v}"),
    )


def test_group_agg_multi_with_nulls(spark, tmp_path):
    df = _null_frame(spark).withColumn(
        "g2", (F.col("id") % 3).cast("string")
    )
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=200)
    got = group_agg_encoded(spark, out, ["grp", "g2"], "val")
    assert _rows(got) == _rows(_expect_agg_multi(df, ["grp", "g2"], "val"))


def test_group_agg_multi_radix_fallback(spark, tmp_path):
    from fhirflat_spark.encoded_exec import _group_agg_multi

    df = _null_frame(spark).withColumn(
        "g2", (F.col("id") % 3).cast("string")
    )
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=200)
    slow = _group_agg_multi(spark, out, ["grp", "g2"], "val", None,
                            radix_cap=1)
    assert _rows(slow) == _rows(_expect_agg_multi(df, ["grp", "g2"], "val"))


def test_group_avg_encoded_matches_spark(spark, tmp_path):
    """AVG = exact int64 sum / non-null count, one final double
    division — must equal Spark's own avg() bit-for-bit (Spark computes
    the same exact-long-sum-then-divide), including NULL for all-NULL
    groups and the WHERE-pushdown composition."""
    from fhirflat_spark.encoded_exec import group_avg_encoded

    df = _null_frame(spark)
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=200)

    def _exp(frame, gcols):
        return frame.groupBy(*gcols).agg(
            F.count("val").alias("count_val"),
            F.avg("val").alias("avg_val"),
        )

    got = group_avg_encoded(spark, out, "grp", "val")
    assert got.columns == ["grp", "count_val", "avg_val"]
    assert _rows(got) == _rows(_exp(df, ["grp"]))
    # multi-column group + WHERE pushdown compose
    df2 = df.withColumn("g2", (F.col("id") % 3).cast("string"))
    out2 = str(tmp_path / "ds2")
    encode_table(df2, out2, rows_per_bucket=200)
    got = group_avg_encoded(spark, out2, ["grp", "g2"], "val",
                            where=[("id", "ge", 300)])
    assert _rows(got) == _rows(
        _exp(df2.where("id >= 300"), ["grp", "g2"])
    )
    # AVG over a string value column is refused up front (the string
    # aggregate has no SUM), not an analysis-time unresolved column
    with pytest.raises(ValueError, match="integral"):
        group_avg_encoded(spark, out, "grp", "grp")


def test_group_count_distinct(spark, tmp_path):
    from fhirflat_spark.encoded_exec import group_count_distinct_encoded

    df = _null_frame(spark)  # grp has NULLs, val has NULLs
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=200)
    got = group_count_distinct_encoded(spark, out, "grp", "val")
    exp = df.groupBy("grp").agg(
        F.count_distinct("val").cast("long").alias("cntd_val")
    )
    assert _rows(got) == _rows(exp)


def test_where_pushdown_matches_spark(spark, tmp_path):
    df = _null_frame(spark)
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=200)
    cases = [
        ("grp", "eq", "g1"),
        ("val", "ge", 10),
        [("val", "ge", -20), ("val", "lt", 30)],
        ("grp", "nu", None),
        ("grp", "nn", None),
        ("grp", "in", ("g0", "g2")),
        ("grp", "sw", "g"),
        ("grp", "eq", "nonexistent"),
    ]
    sql_of = {
        "eq": "{c} = {v}", "ge": "{c} >= {v}", "lt": "{c} < {v}",
        "nu": "{c} IS NULL", "nn": "{c} IS NOT NULL",
    }

    def _sql(p):
        c, op, v = p
        if op == "in":
            return f"{c} IN {tuple(v)}"
        if op == "sw":
            return f"{c} LIKE '{v}%'"
        lit = f"'{v}'" if isinstance(v, str) else v
        return sql_of[op].format(c=c, v=lit)

    for w in cases:
        preds = [w] if isinstance(w, tuple) else w
        cond = " AND ".join(_sql(p) for p in preds)
        got = group_count_encoded(spark, out, "grp", where=w)
        exp = df.where(cond).groupBy("grp").agg(F.count("*").alias("cnt"))
        assert _rows(got) == _rows(exp), w
        gota = group_agg_encoded(spark, out, "grp", "val", where=w)
        assert _rows(gota) == _rows(
            _expect_agg(df.where(cond), "grp", "val")
        ), w


def test_where_with_snapshot(spark, tmp_path):
    out = str(tmp_path / "ds")
    a = spark.createDataFrame([(i, "old", i) for i in range(60)],
                              "id BIGINT, tag STRING, n BIGINT")
    b = spark.createDataFrame([(100 + i, "new", i) for i in range(40)],
                              "id BIGINT, tag STRING, n BIGINT")
    encode_table(a, out, rows_per_bucket=30)
    append_table(b, out, rows_per_bucket=30)
    got = {r["tag"]: r["cnt"] for r in group_count_encoded(
        spark, out, "tag", snapshot=1, where=("n", "lt", 10)
    ).collect()}
    assert got == {"old": 10}


def test_where_refusals(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, float(i), "x") for i in range(40)],
        "id BIGINT, f DOUBLE, s STRING",
    )
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=20)
    with pytest.raises(ValueError, match="string/integer/boolean"):
        group_count_encoded(spark, out, "s", where=("f", "eq", 3.0))
    with pytest.raises(ValueError, match="coerce"):
        group_count_encoded(spark, out, "s", where=("id", "eq", "abc"))
    with pytest.raises(ValueError, match="where op"):
        group_count_encoded(spark, out, "s", where=("id", "!=", 3))


def test_count_and_sum_encoded(spark, tmp_path):
    from fhirflat_spark.encoded_exec import count_encoded, sum_encoded

    df = _null_frame(spark)
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=200)
    assert count_encoded(spark, out) == df.count()
    assert count_encoded(spark, out, where=("grp", "eq", "g1")) == \
        df.where("grp = 'g1'").count()
    assert count_encoded(spark, out, where=("grp", "eq", "zz")) == 0
    exp = df.where("val >= 0").agg(F.sum("val")).collect()[0][0]
    assert sum_encoded(spark, out, "val", where=("val", "ge", 0)) == exp
    assert sum_encoded(spark, out, "val") == \
        df.agg(F.sum("val")).collect()[0][0]
    # SQL semantics: empty/all-filtered SUM is NULL, COUNT is 0
    assert sum_encoded(spark, out, "val", where=("grp", "eq", "zz")) is None


def test_group_topk(spark, tmp_path):
    from pyspark.sql import Window

    from fhirflat_spark.encoded_exec import group_topk_encoded

    df = _null_frame(spark)
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=200)
    got = group_topk_encoded(spark, out, "grp", "val", 3)
    w = Window.partitionBy("grp").orderBy(
        F.col("cnt").desc(), F.col("val").asc_nulls_first()
    )
    exp = (
        df.groupBy("grp", "val").agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .where("rn <= 3").drop("rn")
    )
    assert _rows(got) == _rows(exp)


def _topk_expect(df, col, k, tie, descending=True, cols=None):
    order = (
        F.col(col).desc_nulls_last() if descending
        else F.col(col).asc_nulls_last()
    )
    out = df.orderBy(order, F.col(tie).asc_nulls_first()).limit(k)
    return out.select(*cols) if cols else out


def test_topk_rows_matches_full_sort(spark, tmp_path):
    from fhirflat_spark.encoded_exec import topk_rows_encoded

    df = _null_frame(spark)
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=100)
    for desc in (True, False):
        got = topk_rows_encoded(spark, out, "val", 7, "id", descending=desc)
        exp = _topk_expect(df, "val", 7, "id", descending=desc)
        assert [tuple(r) for r in got.collect()] == \
               [tuple(r) for r in exp.collect()]
    # column projection keeps the sort exact even when the order col is
    # dropped from the output
    got = topk_rows_encoded(spark, out, "val", 5, "id", columns=["id"])
    exp = _topk_expect(df, "val", 5, "id", cols=["id"])
    assert [tuple(r) for r in got.collect()] == \
           [tuple(r) for r in exp.collect()]


def test_topk_threshold_prunes_clustered_data(spark, tmp_path):
    """On data range-clustered by the order column the zone threshold
    must land near the top — far above the global min — so the scan
    can skip most chunks."""
    from fhirflat_spark.encoded_exec import (
        _topk_zone_threshold,
        topk_rows_encoded,
    )

    df = spark.range(0, 4000).select(
        F.col("id"), (F.col("id") * 3).alias("val")
    ).repartitionByRange(8, "val")
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=500, shuffle=False)
    tau = _topk_zone_threshold(out, "val", 10, None, True)
    assert tau is not None and tau > 9000  # top chunk holds >= 500 rows
    tau_asc = _topk_zone_threshold(out, "val", 10, None, False)
    assert tau_asc is not None and tau_asc < 3000
    got = topk_rows_encoded(spark, out, "val", 10, "id")
    exp = _topk_expect(df, "val", 10, "id")
    assert [tuple(r) for r in got.collect()] == \
           [tuple(r) for r in exp.collect()]


def test_topk_string_and_fallbacks(spark, tmp_path):
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.encoded_exec import (
        _topk_zone_threshold,
        topk_rows_encoded,
    )
    from fhirflat_spark.manifest import delete_rows

    df = spark.createDataFrame(
        [(i, f"s{i % 37:02d}", float(i)) for i in range(300)]
        + [(300, None, None)],
        "id BIGINT, s STRING, f DOUBLE",
    )
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=64)
    # string order column works (truncated zone prefixes stay sound)
    got = topk_rows_encoded(spark, out, "s", 6, "id")
    exp = _topk_expect(df, "s", 6, "id")
    assert [tuple(r) for r in got.collect()] == \
           [tuple(r) for r in exp.collect()]
    # float order column: no tau (type gate) but result still exact
    got = topk_rows_encoded(spark, out, "f", 4, "id", descending=False)
    exp = _topk_expect(df, "f", 4, "id", descending=False)
    assert [tuple(r) for r in got.collect()] == \
           [tuple(r) for r in exp.collect()]
    # k > non-null rows: tau refused, nulls may enter the tail
    assert _topk_zone_threshold(out, "s", 302, None, True) is None
    # active deletes: tau refused, scan (merge-on-read) stays exact
    delete_rows(spark, out, "id", [299, 298])
    assert _topk_zone_threshold(out, "id", 3, None, True) is None
    got = topk_rows_encoded(spark, out, "id", 3, "id")
    live = decode_table(spark, out)
    exp = _topk_expect(live, "id", 3, "id")
    assert [tuple(r) for r in got.collect()] == \
           [tuple(r) for r in exp.collect()]


def test_topk_where_matches_spark(spark, tmp_path):
    """WHERE composes with top-k: the predicate is an exact Spark
    residual, so any filter shape (value, null-test, starts-with) must
    match filter-then-sort over the decoded frame — including under
    active deletes, where the threshold is refused but the
    merge-on-read scan stays exact."""
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.encoded_exec import topk_rows_encoded
    from fhirflat_spark.manifest import delete_rows

    df = _null_frame(spark)
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=100)
    cases = [
        [("grp", "eq", "g1")],
        [("val", "ge", 10)],
        [("grp", "sw", "g"), ("val", "lt", 0)],
        [("grp", "nu")],
        [("val", "nn"), ("grp", "in", ["g0", "g2"])],
    ]
    for preds in cases:
        for desc in (True, False):
            got = topk_rows_encoded(spark, out, "val", 6, "id",
                                    descending=desc, where=preds)
            exp = _topk_expect(
                df.where(" AND ".join(_sql_of(p) for p in preds)),
                "val", 6, "id", descending=desc,
            )
            assert [tuple(r) for r in got.collect()] == \
                   [tuple(r) for r in exp.collect()], preds
    delete_rows(spark, out, "id", [int(r[0]) for r in df.orderBy(
        F.col("val").desc_nulls_last()).limit(3).collect()])
    live = decode_table(spark, out)
    got = topk_rows_encoded(spark, out, "val", 6, "id",
                            where=[("grp", "sw", "g")])
    exp = _topk_expect(live.where("grp LIKE 'g%'"), "val", 6, "id")
    assert [tuple(r) for r in got.collect()] == \
           [tuple(r) for r in exp.collect()]
    with pytest.raises(ValueError, match="not in dataset"):
        topk_rows_encoded(spark, out, "val", 3, "id",
                          where=[("nope", "eq", 1)])


def _sql_of(pred):
    col, op, *rest = pred
    v = rest[0] if rest else None
    if op == "nu":
        return f"{col} IS NULL"
    if op == "nn":
        return f"{col} IS NOT NULL"
    if op == "sw":
        return f"{col} LIKE '{v}%'"
    if op == "in":
        vals = ", ".join(f"'{x}'" if isinstance(x, str) else str(x)
                         for x in v)
        return f"{col} IN ({vals})"
    sym = {"eq": "=", "lt": "<", "le": "<=", "gt": ">", "ge": ">="}[op]
    lit = f"'{v}'" if isinstance(v, str) else str(v)
    return f"{col} {sym} {lit}"


def test_topk_where_threshold_entailment(spark, tmp_path):
    """The filtered threshold only credits chunks whose rows PROVABLY
    all satisfy the WHERE: on val-clustered data with a chunk-
    homogeneous flag the tau lands inside the matching band (pruning
    engages), while a chunk-mixed predicate column yields no tau at
    all — and both stay exact."""
    from fhirflat_spark.encoded_exec import (
        _topk_zone_threshold,
        topk_rows_encoded,
    )

    df = spark.range(0, 4000).select(
        F.col("id"),
        (F.col("id") * 3).alias("val"),
        (F.col("id") % 2).alias("parity"),
        F.when(F.col("id") * 3 >= 6000, 1).otherwise(0).alias("half"),
    ).repartitionByRange(8, "val")
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=500, shuffle=False)
    # chunk-homogeneous predicate: pure half=0 chunks prove the k-row
    # guarantee, so tau sits inside the lower band (far above the min)
    tau = _topk_zone_threshold(out, "val", 10, None, True,
                               preds=[("half", "eq", 0)])
    assert tau is not None and 1500 < tau < 6000
    got = topk_rows_encoded(spark, out, "val", 10, "id",
                            where=[("half", "eq", 0)])
    exp = _topk_expect(df.where("half = 0"), "val", 10, "id")
    assert [tuple(r) for r in got.collect()] == \
           [tuple(r) for r in exp.collect()]
    # chunk-mixed predicate column: nothing is provable, no tau — the
    # unpruned scan is still exact
    assert _topk_zone_threshold(out, "val", 10, None, True,
                                preds=[("parity", "eq", 0)]) is None
    got = topk_rows_encoded(spark, out, "val", 10, "id",
                            where=[("parity", "eq", 0)])
    exp = _topk_expect(df.where("parity = 0"), "val", 10, "id")
    assert [tuple(r) for r in got.collect()] == \
           [tuple(r) for r in exp.collect()]


def test_pred_entails_chunk_unit():
    from fhirflat_spark.encoded_exec import _pred_entails_chunk as ent

    chunk = {"n_rows": 100, "nulls": {"a": 0, "b": 5, "c": 100},
             "zones": {"a": [10, 20], "b": [1, 2], "s": ["dd", "dg"]}}
    # value predicates require zero nulls in the predicate column
    assert not ent(("b", "eq", 1), chunk)
    assert ent(("a", "ge", 10), chunk)
    assert ent(("a", "le", 20), chunk)
    assert ent(("a", "gt", 9), chunk)
    assert ent(("a", "lt", 21), chunk)
    assert not ent(("a", "ge", 11), chunk)
    assert not ent(("a", "eq", 10), chunk)  # lo != hi
    assert ent(("a", "eq", 15), {"n_rows": 1, "nulls": {"a": 0},
                                 "zones": {"a": [15, 15]}})
    assert ent(("a", "in", [7, 15]), {"n_rows": 1, "nulls": {"a": 0},
                                      "zones": {"a": [15, 15]}})
    # null tests
    assert ent(("c", "nu", None), chunk)
    assert not ent(("b", "nu", None), chunk)
    assert ent(("a", "nn", None), chunk)
    assert not ent(("b", "nn", None), chunk)
    # evolved schema: column absent from the nulls rollup = all NULL
    assert ent(("zz", "nu", None), chunk)
    assert not ent(("zz", "eq", 1), chunk)
    # strings: bounds on the safe side; prefix entailment
    assert ent(("s", "sw", "d"), {**chunk, "nulls": {"s": 0}})
    assert not ent(("s", "sw", "dd"), {**chunk, "nulls": {"s": 0}})
    assert ent(("s", "lt", "e"), {**chunk, "nulls": {"s": 0}})
    assert ent(("s", "ge", "dd"), {**chunk, "nulls": {"s": 0}})
    assert not ent(("s", "ge", "de"), {**chunk, "nulls": {"s": 0}})
    # type mismatch between literal and zone declines (residual exists)
    assert not ent(("a", "ge", "10"), chunk)
    assert not ent(("s", "ge", 3), {**chunk, "nulls": {"s": 0}})
    assert not ent(("a", "ge", True), chunk)
    # zone missing with non-null values declines
    assert not ent(("q", "ge", 0), {"n_rows": 10, "nulls": {"q": 0},
                                    "zones": {}})


def test_no_python_row_path_in_merge_plan(spark, tmp_path):
    """The final merge is a Catalyst groupBy over partials: the plan must
    show a partial+final HashAggregate over the mapInArrow output and no
    per-row Python eval."""
    df = _null_frame(spark)
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=200)
    plan = group_count_encoded(spark, out, "grp")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" in plan
