"""The named Spark source (``spark.read.format("fhirflat")``) and the
snapshot changelog: batch parity with decode_table, pushdown pruning at
the chunk level, snapshot time travel, the streaming snapshot tail with
checkpoint restart, and table_changes on both plan paths."""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from fhirflat_spark.changes import table_changes
from fhirflat_spark.decode import decode_table
from fhirflat_spark.encode import append_table, encode_table, upsert_rows
from fhirflat_spark.manifest import delete_rows, rollback
from fhirflat_spark.sources.datasource import (
    FhirflatBatchReader,
    FhirflatStreamReader,
    register,
)

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def ds_dir(spark, docs, tmp_path_factory):
    """Dataset with history: snap1 = doc_id<250, snap2 = upsert 150..349
    (+1000 n_chars), snap3 = delete {10, 11}. Bloom on text."""
    out = str(tmp_path_factory.mktemp("dsrc") / "ds")
    encode_table(docs.where(F.col("doc_id") < 250), out,
                 rows_per_bucket=100, bloom_columns=["text"])
    delta = (
        docs.where(F.col("doc_id").between(150, 349))
        .withColumn("n_chars", F.col("n_chars") + 1000)
    )
    upsert_rows(delta, out, "doc_id", rows_per_bucket=100)
    delete_rows(spark, out, "doc_id", [10, 11])
    register(spark)
    return out


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_batch_read_matches_decode_table(spark, ds_dir):
    via_source = spark.read.format("fhirflat").option("path", ds_dir).load()
    via_decode = decode_table(spark, ds_dir)
    assert via_source.schema == via_decode.schema
    assert _rows(via_source) == _rows(via_decode)


def test_decode_table_via_routes_agree(spark, ds_dir):
    """decode_table's two physical read paths — the mapInArrow kernel and
    the named-source pyarrow-direct read — must return identical rows and
    schema (incl. merge-on-read deletes, upserts, column selection and
    snapshot time travel), and "auto" must run the kernel path."""
    arrow = decode_table(spark, ds_dir, via="arrow")
    direct = decode_table(spark, ds_dir, via="datasource")
    assert direct.schema == arrow.schema
    assert _rows(direct) == _rows(arrow)
    a1 = decode_table(spark, ds_dir, columns=["doc_id", "lang"],
                      snapshot=1, via="arrow")
    d1 = decode_table(spark, ds_dir, columns=["doc_id", "lang"],
                      snapshot=1, via="datasource")
    assert d1.columns == a1.columns == ["doc_id", "lang"]
    assert _rows(d1) == _rows(a1)

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    # auto runs the kernel path at any size, snapshot reads included
    assert "MapInArrow" in plan(decode_table(spark, ds_dir))
    assert "MapInArrow" in plan(decode_table(spark, ds_dir, snapshot=1))
    assert "MapInArrow" not in plan(direct)
    # options the source cannot express must be rejected, never dropped
    with pytest.raises(ValueError, match="datasource"):
        decode_table(spark, ds_dir, with_positions=True, via="datasource")


def test_column_pruning_option(spark, ds_dir):
    df = (
        spark.read.format("fhirflat").option("path", ds_dir)
        .option("columns", "doc_id,lang").load()
    )
    assert df.columns == ["doc_id", "lang"]
    assert df.count() == decode_table(spark, ds_dir).count()


def test_snapshot_option_time_travels(spark, ds_dir, docs):
    snap1 = (
        spark.read.format("fhirflat").option("path", ds_dir)
        .option("snapshot", "1").load()
    )
    assert snap1.count() == docs.where(F.col("doc_id") < 250).count()
    # current view: upserted, two rows deleted
    cur = spark.read.format("fhirflat").option("path", ds_dir).load()
    assert cur.count() == 348


def test_filter_pushdown_prunes_chunks(spark, ds_dir):
    """Unit-level: a pushed doc_id range must skip chunks whose zone
    cannot intersect — yielded batches (one per surviving chunk) shrink,
    and the surviving rows still cover the exact answer."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThanOrEqual

    opts = {"path": ds_dir}
    full = FhirflatBatchReader(dict(opts), None)
    n_all = sum(
        b.num_rows for p in full.partitions() for b in full.read(p)
    )
    pruned = FhirflatBatchReader(dict(opts), None)
    kept = pruned.pushFilters(
        [GreaterThanOrEqual(("doc_id",), 0), LessThanOrEqual(("doc_id",), 49)]
    )
    assert len(list(kept)) == 2  # every filter returned for the residual
    n_pruned = sum(
        b.num_rows for p in pruned.partitions() for b in pruned.read(p)
    )
    assert n_pruned < n_all
    # conservative: every matching row survives pruning
    ids = [
        v.as_py()
        for p in pruned.partitions()
        for b in pruned.read(p)
        for v in b.column(0)
    ]
    assert set(range(0, 50)) - {10, 11} <= set(ids)


def test_bloom_pushdown_prunes_chunks(spark, ds_dir, docs):
    from pyspark.sql.datasource import EqualTo

    probe = docs.where(F.col("doc_id") == 42).select("text").collect()[0][0]
    rdr = FhirflatBatchReader({"path": ds_dir}, None)
    rdr.pushFilters([EqualTo(("text",), probe)])
    batches = [b for p in rdr.partitions() for b in rdr.read(p)]
    full = FhirflatBatchReader({"path": ds_dir}, None)
    n_chunks_all = sum(1 for p in full.partitions() for _ in full.read(p))
    assert len(batches) < n_chunks_all
    texts = [v.as_py() for b in batches for v in b.column(1)]
    assert probe in texts  # never a false negative


def test_end_to_end_filter_answer_exact(spark, ds_dir):
    df = (
        spark.read.format("fhirflat").option("path", ds_dir).load()
        .where(F.col("doc_id").between(100, 180))
        .groupBy("lang").agg(F.sum("n_chars").alias("s"))
    )
    exp = (
        decode_table(spark, ds_dir)
        .where(F.col("doc_id").between(100, 180))
        .groupBy("lang").agg(F.sum("n_chars").alias("s"))
    )
    assert _rows(df) == _rows(exp)


def test_unknown_column_option_raises(spark, ds_dir):
    with pytest.raises(Exception, match="not in dataset columns"):
        (
            spark.read.format("fhirflat").option("path", ds_dir)
            .option("columns", "doc_id,nope").load().collect()
        )


def test_stream_reader_offsets_and_empty_window(spark, ds_dir):
    rdr = FhirflatStreamReader({"path": ds_dir}, None)
    assert rdr.initialOffset() == {"snapshot": 0}
    latest = rdr.latestOffset()
    assert latest == {"snapshot": 3}
    # delete-only window (2 -> 3): no new parts, sentinel partition,
    # zero rows
    parts = rdr.partitions({"snapshot": 2}, {"snapshot": 3})
    assert len(parts) == 1 and parts[0].part_id == -1
    assert list(rdr.read(parts[0])) == []
    # append window (1 -> 2) carries exactly the upsert's rows
    parts12 = rdr.partitions({"snapshot": 1}, {"snapshot": 2})
    n = sum(b.num_rows for p in parts12 for b in rdr.read(p))
    assert n == 200


def test_streaming_tail_with_restart(spark, docs, tmp_path):
    """End-to-end readStream: initial snapshot then an append land in
    separate micro-batches; a restarted query resumes from the
    checkpointed snapshot offset without re-emitting."""
    out = str(tmp_path / "tail")
    ckpt = str(tmp_path / "ckpt")
    encode_table(docs.where(F.col("doc_id") < 100), out, rows_per_bucket=50)
    register(spark)
    # keyed by epoch id: stop() can land between a micro-batch running and
    # its offset commit, so a restart legally RE-RUNS that epoch (at-least-
    # once). Epoch ids are stable across the re-run — dedupe on them, the
    # documented foreachBatch exactly-once idiom.
    seen: dict[int, int] = {}

    def run_until(target_total, timeout=120):
        q = (
            spark.readStream.format("fhirflat").option("path", out).load()
            .writeStream.foreachBatch(
                lambda df, epoch: seen.__setitem__(epoch, df.count())
            )
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 seconds")
            .start()
        )
        deadline = time.time() + timeout
        while time.time() < deadline:
            if sum(seen.values()) >= target_total:
                break
            time.sleep(0.5)
        q.stop()
        q.awaitTermination(30)

    run_until(100)
    assert sum(seen.values()) == 100
    append_table(docs.where(F.col("doc_id").between(100, 159)), out,
                 rows_per_bucket=50)
    run_until(160)  # restart: only the 60 new rows arrive (per epoch)
    assert sum(seen.values()) == 160


def test_table_changes_fast_path_upsert(spark, ds_dir, docs):
    ch = table_changes(spark, ds_dir, 1, 2)
    by_type = dict(
        (r["_change_type"], r["n"])
        for r in ch.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    )
    assert by_type == {"insert": 200, "delete": 100}
    # inserted rows carry the updated values
    ins = ch.where(
        (F.col("_change_type") == "insert") & F.col("doc_id").between(150, 249)
    )
    old = dict(
        (r["doc_id"], r["n_chars"])
        for r in docs.where(F.col("doc_id").between(150, 249)).collect()
    )
    for r in ins.collect():
        assert r["n_chars"] == old[r["doc_id"]] + 1000


def test_table_changes_delete_only_window(spark, ds_dir):
    ch = table_changes(spark, ds_dir, 2, 3).collect()
    assert sorted(r["doc_id"] for r in ch) == [10, 11]
    assert {r["_change_type"] for r in ch} == {"delete"}


def test_table_changes_general_path_rollback(spark, docs, tmp_path):
    out = str(tmp_path / "rb")
    encode_table(docs.where(F.col("doc_id") < 100), out, rows_per_bucket=50)
    append_table(docs.where(F.col("doc_id").between(100, 149)), out,
                 rows_per_bucket=50)
    rollback(spark, out, 1)  # snapshot 3 = snapshot 1's content
    ch = table_changes(spark, out, 2, 3)
    by_type = dict(
        (r["_change_type"], r["n"])
        for r in ch.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    )
    assert by_type == {"delete": 50}
    # and applying the changelog reconciles the views exactly
    assert table_changes(spark, out, 1, 3).count() == 0


def test_table_changes_same_snapshot_empty(spark, ds_dir):
    ch = table_changes(spark, ds_dir, 2, 2)
    assert ch.count() == 0
    assert "_change_type" in ch.columns


def test_empty_result_read_returns_zero_rows(spark, ds_dir):
    """Every partition pruned (or an empty table): Spark substitutes a
    None partition for the empty list — must read as 0 rows, not crash."""
    n = (
        spark.read.format("fhirflat").option("path", ds_dir).load()
        .where(F.col("doc_id") > 10**9)
        .count()
    )
    assert n == 0


def test_table_changes_groups_same_scope_deletes(spark, docs, tmp_path):
    """Two delete commits in one window, same scope: reported once each,
    net and exact (the grouped fast path)."""
    out = str(tmp_path / "2del")
    encode_table(docs.where(F.col("doc_id") < 100), out, rows_per_bucket=50)
    delete_rows(spark, out, "doc_id", [1, 2])      # snap 2
    delete_rows(spark, out, "doc_id", [2, 3, 4])   # snap 3 (2 again!)
    ch = table_changes(spark, out, 1, 3).collect()
    assert sorted(r["doc_id"] for r in ch) == [1, 2, 3, 4]
    assert {r["_change_type"] for r in ch} == {"delete"}


def _md(spark, path, name):
    return (
        spark.read.format("fhirflat").option("path", path)
        .option("metadata", name).load()
    )


def test_metadata_snapshots_table(spark, ds_dir):
    snaps = _md(spark, ds_dir, "snapshots").collect()
    assert [r["version"] for r in snaps] == [1, 2, 3]
    assert sum(r["is_current"] for r in snaps) == 1
    assert snaps[-1]["is_current"]
    # the upsert (v2) appended rows; the delete (v3) moved no data
    assert snaps[1]["rows"] > snaps[0]["rows"]
    assert snaps[2]["rows"] == snaps[1]["rows"]
    assert snaps[2]["dataset_sha256"] == snaps[1]["dataset_sha256"]


def test_metadata_partitions_and_chunks_tables(spark, ds_dir):
    parts = _md(spark, ds_dir, "partitions")
    rows = parts.collect()
    assert all(r["status"] == "ok" for r in rows)
    chunks = _md(spark, ds_dir, "chunks")
    per_col = {
        r["column"]: r["n"]
        for r in chunks.groupBy("column").agg(
            F.sum("n_rows").alias("n")).collect()
    }
    total = sum(r["rows"] for r in rows)
    # every column spans every physical row (deletes are merge-on-read)
    assert set(per_col) == {"doc_id", "text", "lang", "source", "n_chars"}
    assert all(v == total for v in per_col.values())
    # lineage: encoded_bytes per column sums to the partition totals
    enc_chunks = chunks.groupBy().sum("encoded_bytes").first()[0]
    assert enc_chunks == sum(r["encoded_bytes"] for r in rows)


def test_metadata_deletes_table(spark, ds_dir):
    dels = {r["file"]: r for r in _md(spark, ds_dir, "deletes").collect()}
    assert len(dels) == 2  # the upsert's scoped entry + the delete commit
    assert all(r["column"] == "doc_id" for r in dels.values())
    assert {r["n_keys"] for r in dels.values()} == {200, 2}
    assert all(r["below_part"] is not None for r in dels.values())


def test_metadata_unknown_table_rejected(spark, ds_dir):
    with pytest.raises(Exception, match="metadata"):
        _md(spark, ds_dir, "nope").collect()


def test_in_pushdown_bloom_prunes_chunks(spark, ds_dir, docs):
    """An IN over a bloomed column probes every value per chunk: chunks
    containing none of the probed texts are skipped before payload IO,
    and every matching row survives (never a false negative)."""
    from pyspark.sql.datasource import In

    probes = [
        r[0] for r in docs.where(F.col("doc_id").isin(42, 120))
        .select("text").collect()
    ]
    rdr = FhirflatBatchReader({"path": ds_dir}, None)
    rdr.pushFilters([In(("text",), tuple(probes))])
    batches = [b for p in rdr.partitions() for b in rdr.read(p)]
    full = FhirflatBatchReader({"path": ds_dir}, None)
    n_chunks_all = sum(1 for p in full.partitions() for _ in full.read(p))
    assert len(batches) < n_chunks_all
    texts = [v.as_py() for b in batches for v in b.column(1)]
    for probe in probes:
        assert probe in texts


def test_metadata_refs_table(spark, ds_dir, docs, tmp_path):
    from fhirflat_spark.encode import encode_table
    from fhirflat_spark.manifest import create_tag

    out = str(tmp_path / "refs")
    encode_table(docs.where(F.col("doc_id") < 50), out, rows_per_bucket=50)
    create_tag(out, "v1", 1)
    append_table(docs.where(F.col("doc_id").between(50, 59)), out,
                 rows_per_bucket=50, branch="audit")
    refs = {
        r["name"]: r
        for r in spark.read.format("fhirflat").option("path", out)
        .option("metadata", "refs").load().collect()
    }
    assert refs["v1"]["type"] == "tag" and refs["v1"]["snapshot"] == 1
    assert refs["audit"]["type"] == "branch"
    assert refs["audit"]["staged_commits"] == 1 and refs["audit"]["base"] == 1


def test_row_filter_exact_rows_cross_boundary(spark, ds_dir):
    """Pushed =/>/IN predicates are applied ROW-level inside the reader
    (filter column decoded first, misses never decompress the rest), so
    only matching rows cross the Python->JVM boundary. Spark still owns
    the residual, so this must be exact-or-superset; for int/string ops
    it is exact — including the strict-> vs inclusive-zone distinction."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    cur = decode_table(spark, ds_dir)
    want_gt = sorted(
        r[0] for r in cur.where(F.col("doc_id") > 340)
        .select("doc_id").collect()
    )
    rdr = FhirflatBatchReader({"path": ds_dir}, None)
    rdr.pushFilters([GreaterThan(("doc_id",), 340)])
    got = sorted(
        v.as_py() for p in rdr.partitions() for b in rdr.read(p)
        for v in b.column(0)
    )
    assert got == want_gt and len(got) > 0  # strict >, not the zone blur

    want_in = sorted(
        r[0] for r in cur.where(F.col("lang").isin("es", "zh"))
        .select("doc_id").collect()
    )
    rdr2 = FhirflatBatchReader({"path": ds_dir}, None)
    rdr2.pushFilters([In(("lang",), ("es", "zh"))])
    got_in = sorted(
        v.as_py() for p in rdr2.partitions() for b in rdr2.read(p)
        for v in b.column(0)
    )
    assert got_in == want_in and 0 < len(got_in) < cur.count()

    # point lookup: bloom prunes chunks, the row mask then drops every
    # non-matching row of surviving (incl. false-positive) chunks
    probe = cur.where(F.col("doc_id") == 42).select("text").collect()[0][0]
    n_match = cur.where(F.col("text") == probe).count()
    rdr3 = FhirflatBatchReader({"path": ds_dir}, None)
    rdr3.pushFilters([EqualTo(("text",), probe)])
    n = sum(b.num_rows for p in rdr3.partitions() for b in rdr3.read(p))
    assert n == n_match


def test_row_filter_float_gate_nan_semantics(spark, tmp_path):
    """Float predicates must NOT be row-filtered: Spark orders NaN above
    every value (NaN > 50 is TRUE), IEEE comparison says false — a
    pyarrow mask would drop rows Spark keeps. The type gate leaves float
    filtering entirely to Spark's residual; end-to-end answers (incl.
    the NaN rows) must match the decode path exactly."""
    import math

    from pyspark.sql.datasource import GreaterThan

    out = str(tmp_path / "fl")
    rows = [(i, float("nan") if i % 7 == 0 else float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "id bigint, score double")
    encode_table(df, out, rows_per_bucket=25)
    register(spark)

    rdr = FhirflatBatchReader({"path": out}, None)
    rdr.pushFilters([GreaterThan(("score",), 50.0)])
    got = {
        v.as_py() for p in rdr.partitions() for b in rdr.read(p)
        for v in b.column(0)
    }
    nan_ids = {i for i, s in rows if math.isnan(s)}
    assert nan_ids <= got  # the reader must keep every NaN row

    via_src = (
        spark.read.format("fhirflat").option("path", out).load()
        .where(F.col("score") > 50.0)
    )
    exp = df.where(F.col("score") > 50.0)
    assert sorted(r[0] for r in via_src.select("id").collect()) == sorted(
        r[0] for r in exp.select("id").collect()
    )
    assert nan_ids <= {r[0] for r in via_src.select("id").collect()}


def test_prefix_upper_bounds():
    from fhirflat_spark.sources.datasource import _prefix_upper

    assert _prefix_upper("ab") == "ac"
    assert _prefix_upper("a\U0010FFFF") == "b"
    assert _prefix_upper("\U0010FFFF") is None
    # every string starting with p sorts inside [p, _prefix_upper(p))
    for p, probe in [("en", "enxyz"), ("z", "z"), ("é", "éa")]:
        up = _prefix_upper(p)
        assert p <= probe < up


def test_pushdown_startswith_exact_rows(spark, ds_dir):
    """StringStartsWith compiles to the [prefix, next-prefix) zone range
    plus an exact starts_with row mask — only matching rows cross the
    Python->JVM boundary, and the end-to-end answer equals decode."""
    from pyspark.sql.datasource import StringStartsWith

    cur = decode_table(spark, ds_dir)
    want = sorted(
        r[0] for r in cur.where(F.col("lang").startswith("e"))
        .select("doc_id").collect()
    )
    assert 0 < len(want) < cur.count()
    rdr = FhirflatBatchReader({"path": ds_dir}, None)
    rdr.pushFilters([StringStartsWith(("lang",), "e")])
    got = sorted(
        v.as_py() for p in rdr.partitions() for b in rdr.read(p)
        for v in b.column(0)
    )
    assert got == want

    via_src = (
        spark.read.format("fhirflat").option("path", ds_dir).load()
        .where(F.col("lang").startswith("e"))
    )
    assert sorted(r[0] for r in via_src.select("doc_id").collect()) == want


def test_pushdown_null_checks_prune_partitions(spark, tmp_path):
    """IS [NOT] NULL pushdown: partitions whose null rollup answers the
    predicate never become tasks; surviving chunks row-mask exactly."""
    from pyspark.sql.datasource import IsNotNull, IsNull

    out = str(tmp_path / "nulls")
    valued = spark.range(0, 200).select(
        F.col("id").cast("long").alias("id"),
        F.concat(F.lit("v"), F.col("id")).alias("opt"),
    )
    allnull = spark.range(200, 400).select(
        F.col("id").cast("long").alias("id"),
        F.lit(None).cast("string").alias("opt"),
    )
    encode_table(valued, out, rows_per_bucket=100)
    append_table(allnull, out, rows_per_bucket=100)
    register(spark)

    base = FhirflatBatchReader({"path": out}, None)
    n_all = len(base.partitions())

    nn = FhirflatBatchReader({"path": out}, None)
    nn.pushFilters([IsNotNull(("opt",))])
    assert len(nn.partitions()) < n_all  # all-null partitions pruned
    got_nn = sorted(
        v.as_py() for p in nn.partitions() for b in nn.read(p)
        for v in b.column(0)
    )
    assert got_nn == list(range(0, 200))

    nu = FhirflatBatchReader({"path": out}, None)
    nu.pushFilters([IsNull(("opt",))])
    assert len(nu.partitions()) < n_all  # fully-valued partitions pruned
    got_nu = sorted(
        v.as_py() for p in nu.partitions() for b in nu.read(p)
        for v in b.column(0)
    )
    assert got_nu == list(range(200, 400))

    # end-to-end through the Spark plan, both predicates
    df = spark.read.format("fhirflat").option("path", out).load()
    assert df.where(F.col("opt").isNotNull()).count() == 200
    assert df.where(F.col("opt").isNull()).count() == 200
    assert sorted(
        r[0] for r in df.where(F.col("opt").isNull()).select("id").collect()
    ) == list(range(200, 400))


def test_pushdown_null_checks_evolved_column(spark, tmp_path):
    """A column added by schema evolution decodes as all-null in old
    partitions — IS NOT NULL must skip those chunks (absent payload),
    IS NULL must keep them, and answers must stay exact."""
    from pyspark.sql.datasource import IsNotNull, IsNull

    out = str(tmp_path / "evo")
    old = spark.range(0, 150).select(F.col("id").cast("long").alias("id"))
    new = spark.range(150, 300).select(
        F.col("id").cast("long").alias("id"),
        F.concat(F.lit("t"), F.col("id")).alias("tag"),
    )
    encode_table(old, out, rows_per_bucket=50)
    append_table(new, out, rows_per_bucket=50)
    register(spark)

    nn = FhirflatBatchReader({"path": out}, None)
    nn.pushFilters([IsNotNull(("tag",))])
    ids = sorted(
        v.as_py() for p in nn.partitions() for b in nn.read(p)
        for v in b.column(0)
    )
    assert ids == list(range(150, 300))

    nu = FhirflatBatchReader({"path": out}, None)
    nu.pushFilters([IsNull(("tag",))])
    ids_nu = sorted(
        v.as_py() for p in nu.partitions() for b in nu.read(p)
        for v in b.column(0)
    )
    assert ids_nu == list(range(0, 150))


def test_read_parts_arrow_matches_decode_and_refuses_deletes(
        spark, tmp_path):
    """Driver-side part reads (no Spark job): content equals
    decode_table per part, schema evolution null-fills typed, and
    active deletes refuse (physical chunks vs logical view)."""
    import pyarrow as pa

    from fhirflat_spark.decode import decode_table, read_parts_arrow
    from fhirflat_spark.encode import append_table, encode_table
    from fhirflat_spark.manifest import delete_rows

    out = str(tmp_path / "rpa")
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(40)], "doc_id BIGINT, txt STRING"
    )
    encode_table(df, out, rows_per_bucket=10)
    df2 = spark.createDataFrame(
        [(100 + i, f"u{i}", i * 2) for i in range(10)],
        "doc_id BIGINT, txt STRING, extra BIGINT",
    )
    append_table(df2, out, rows_per_bucket=10)

    from fhirflat_spark.manifest import table_view
    pids = table_view(out).part_ids
    t = read_parts_arrow(out, pids, ["doc_id", "extra"])
    got = sorted(zip(t.column("doc_id").to_pylist(),
                     t.column("extra").to_pylist()))
    want = sorted(
        map(tuple, decode_table(
            spark, out, columns=["doc_id", "extra"]).collect())
    )
    assert got == want
    assert t.schema.field("extra").type == pa.int64()
    # pre-evolution partitions read as typed nulls
    assert sum(v is None for _, v in got) == 40

    with pytest.raises(ValueError, match="not in dataset"):
        read_parts_arrow(out, pids, ["nope"])
    delete_rows(spark, out, "doc_id", [3])
    with pytest.raises(ValueError, match="delete"):
        read_parts_arrow(out, pids, ["doc_id"])
