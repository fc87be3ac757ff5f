"""Driver-side salting-stats ceiling (SALT_STATS_CAP).

The placement scan must keep at most ``cap`` exact per-key entries on the
driver; heavier-tailed key spaces fold the remainder into the "o:"
fallback bucket. Below the cap, behavior is bit-identical to the old
uncapped collect (key_counts are sorted before allocation, so collect
order never mattered).
"""
from __future__ import annotations

import pytest

import fhirflat_spark.encode as enc
from fhirflat_spark.decode import decode_table
from fhirflat_spark.encode import _salted_prelude, encode_table


def _skew_df(spark, n_keys=40, heavy_rows=400, tail_rows=3):
    """One heavy key (r0) + a long tail of small keys."""
    rows = []
    for k in range(n_keys):
        cnt = heavy_rows if k == 0 else tail_rows
        for i in range(cnt):
            rows.append((f"org/r{k:03d}", f"p{i}", f"c{k}-{i}", "x" * 20))
    return spark.createDataFrame(rows, ["repo", "path", "commit", "content"])


def test_cap_bounds_driver_list_and_keeps_heavy_placement(spark, monkeypatch):
    df = _skew_df(spark)
    pre_full = _salted_prelude(df, 100, None, "repo", None)
    monkeypatch.setattr(enc, "SALT_STATS_CAP", 8)
    pre_cap = _salted_prelude(df, 100, None, "repo", None)

    assert pre_full["capped"] is False and pre_cap["capped"] is True
    # driver-held stats bounded: cap exact keys + the one "o:" fallback
    assert len(pre_cap["key_counts_sentinel"]) == 8
    assert len(pre_cap["bucket_rows"]) == 9
    assert pre_cap["bucket_rows"][-1][0] == "o:"
    # the heavy key keeps exactly the bucket count the uncapped plan gave it
    full = dict(pre_full["bucket_rows"])
    capd = dict(pre_cap["bucket_rows"])
    assert capd["v:org/r000"] == full["v:org/r000"]
    # fallback sized from the measured remainder mass: 32 tail keys - 7
    # kept small keys = 25 keys x 3 rows = 75 rows -> ceil(75/100) = 1
    assert capd["o:"] == 1


def test_capped_encode_loses_no_rows(spark, tmp_path, monkeypatch):
    df = _skew_df(spark, n_keys=30, heavy_rows=200, tail_rows=4)
    n = df.count()
    monkeypatch.setattr(enc, "SALT_STATS_CAP", 6)
    out = str(tmp_path / "capped")
    res = encode_table(df, out, rows_per_bucket=100)
    assert res.rows == n
    got = decode_table(spark, out)
    assert got.count() == n
    # every tail-key row survived the fallback routing
    assert got.select("repo").distinct().count() == 30


def test_capped_placement_deterministic(spark, tmp_path, monkeypatch):
    from fhirflat_spark.manifest import read_summary

    df = _skew_df(spark, n_keys=25, heavy_rows=150, tail_rows=5)
    monkeypatch.setattr(enc, "SALT_STATS_CAP", 5)
    shas = []
    for d in ("a", "b"):
        out = str(tmp_path / d)
        encode_table(df, out, rows_per_bucket=100)
        shas.append(read_summary(spark, out)["dataset_sha256"])
    assert shas[0] == shas[1]


def test_default_cap_leaves_small_tables_uncapped(spark):
    df = _skew_df(spark, n_keys=10, heavy_rows=50, tail_rows=2)
    pre = _salted_prelude(df, 100, None, "repo", None)
    assert pre["capped"] is False
    assert all(k != "o:" for k, _ in pre["bucket_rows"])


def test_weighted_path_caps_by_bytes(spark, monkeypatch):
    # heavy-by-bytes key has FEW rows but giant payloads: the cap must
    # keep it (ordering is weight desc, not count desc)
    rows = []
    for i in range(4):
        rows.append(("org/heavy", f"p{i}", f"c{i}", "y" * 5000))
    for k in range(20):
        for i in range(10):
            rows.append((f"org/t{k:02d}", f"p{i}", f"c{k}-{i}", "z" * 10))
    df = spark.createDataFrame(rows, ["repo", "path", "commit", "content"])
    monkeypatch.setattr(enc, "SALT_STATS_CAP", 4)
    pre = _salted_prelude(df, 50, None, "repo", None, weight_col="content")
    assert pre["capped"] is True
    kept = [k for k, _ in pre["key_counts_sentinel"]]
    assert "v:org/heavy" in kept
    assert dict(pre["bucket_rows"])["o:"] >= 1


def test_append_delta_stats_capped(spark, tmp_path, monkeypatch):
    from fhirflat_spark.encode import append_table

    monkeypatch.setattr(enc, "SALT_STATS_CAP", 6)
    base = _skew_df(spark, n_keys=8, heavy_rows=60, tail_rows=3)
    out = str(tmp_path / "t")
    encode_table(base, out, rows_per_bucket=50)
    delta = _skew_df(spark, n_keys=20, heavy_rows=80, tail_rows=2)
    n0 = decode_table(spark, out).count()
    append_table(delta, out, rows_per_bucket=50)
    assert decode_table(spark, out).count() == n0 + delta.count()


@pytest.mark.parametrize("cap", [0, -1])
def test_cap_below_one_raises_naming_the_variable(spark, tmp_path,
                                                  monkeypatch, cap):
    """A cap below 1 keeps no key exact: every key would fold into "o:"
    and placement would silently collapse. It must fail loudly instead,
    in planning, encode and append alike."""
    df = _skew_df(spark, n_keys=6, heavy_rows=20, tail_rows=2)
    out = str(tmp_path / "t")
    encode_table(df, out, rows_per_bucket=100)
    monkeypatch.setattr(enc, "SALT_STATS_CAP", cap)
    for call in (
        lambda: _salted_prelude(df, 100, None, "repo", None),
        lambda: encode_table(df, str(tmp_path / "u"), rows_per_bucket=100),
        lambda: enc.append_table(df, out, rows_per_bucket=100),
    ):
        with pytest.raises(ValueError, match="SPARK_GRAFT_SALT_STATS_CAP"):
            call()


def test_capped_append_sizes_tail_bucket_from_remainder(spark, tmp_path,
                                                        monkeypatch):
    """A capped append plans from its own placement scan, so the "o:"
    fallback bucket is sized from the measured tail mass: a heavy tail
    spreads over many appended partitions instead of landing in one."""
    from fhirflat_spark.manifest import read_manifest, table_view

    out = str(tmp_path / "t")
    encode_table(_skew_df(spark, n_keys=4, heavy_rows=50, tail_rows=10), out,
                 rows_per_bucket=100)
    offset = max(table_view(out).part_ids) + 1
    monkeypatch.setattr(enc, "SALT_STATS_CAP", 2)
    # 59 tail keys x 40 rows: ~2300 rows fold into "o:" past the cap
    delta = _skew_df(spark, n_keys=60, heavy_rows=200, tail_rows=40)
    enc.append_table(delta, out, rows_per_bucket=100)
    sizes = [r["rows"] for r in read_manifest(spark, out).collect()
             if r["part_id"] >= offset]
    assert sum(sizes) == delta.count()
    assert max(sizes) <= 2.5 * 100, sorted(sizes)
