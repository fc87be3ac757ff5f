"""End-to-end encode→decode round-trip tests on Spark (SURVEY.md §5).

The golden-file round-trip pattern of the reference
(reference tests/test_patient_resource.py:26-56: object → to_flat →
parquet == golden; parquet → from_flat == object), re-expressed for the
encode engine: source table → encode → manifest checksums pinned →
decode → per-row sha256 equality.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from fhirflat_spark.datagen import gen_pandas, gen_spark
from fhirflat_spark.decode import (
    codec_report,
    decode_filtered,
    decode_table,
    verify_against_source,
    verify_table,
)
from fhirflat_spark.encode import encode_table, plan_partition_ids
from fhirflat_spark.manifest import (
    current_snapshot,
    dataset_checksum,
    read_manifest,
    read_summary,
    snapshot_manifest_path,
)

N_ROWS = 6000


@pytest.fixture(scope="module")
def encoded(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc") / "ds")
    df = gen_spark(spark, N_ROWS, seed=42)
    res = encode_table(df, out, rows_per_bucket=1000)
    return df, out, res


def test_encode_counts(encoded):
    df, out, res = encoded
    assert res.rows == N_ROWS
    assert 0 < res.encoded_bytes < res.raw_bytes


def test_compression_beats_half(encoded):
    _, _, res = encoded
    assert res.ratio < 0.5, f"expected <0.5 compression on synthetic code, got {res.ratio}"


def test_roundtrip_sha_equality(spark, encoded):
    df, out, _ = encoded
    decoded = decode_table(spark, out)
    assert decoded.count() == N_ROWS
    fails = verify_against_source(df, decoded, ["repo", "path", "commit"])
    assert fails.count() == 0


def test_roundtrip_full_row_equality(spark, encoded):
    df, out, _ = encoded
    decoded = decode_table(spark, out)
    # exact multiset equality of full rows, not just hashes
    diff = decoded.exceptAll(df).count() + df.exceptAll(decoded).count()
    assert diff == 0


def test_chunk_verification(spark, encoded):
    _, out, _ = encoded
    v = verify_table(spark, out)
    assert v.where(~F.col("ok")).count() == 0


def test_manifest_contents(spark, encoded):
    _, out, res = encoded
    m = read_manifest(spark, out)
    rows = m.agg(F.sum("rows")).collect()[0][0]
    assert rows == N_ROWS
    assert m.where(F.col("status") != "ok").count() == 0
    summary = read_summary(spark, out)
    assert summary["rows"] == N_ROWS
    assert summary["columns"] == ["repo", "path", "commit", "lang", "content"]
    assert len(summary["dataset_sha256"]) == 64


def test_manifest_deterministic(spark, encoded, tmp_path):
    """Same input + config → identical dataset checksum (the
    METADATA_CHECKSUM golden pattern, reference tests/test_ingest.py:31)."""
    _, out, _ = encoded
    out2 = str(tmp_path / "ds2")
    df2 = gen_spark(spark, N_ROWS, seed=42)
    encode_table(df2, out2, rows_per_bucket=1000)
    sha1 = dataset_checksum(read_manifest(spark, out))
    sha2 = dataset_checksum(read_manifest(spark, out2))
    assert sha1 == sha2


def test_salting_spreads_giant_repo(spark):
    df = gen_spark(spark, N_ROWS, seed=42)
    bucketed, P = plan_partition_ids(df, rows_per_bucket=500)
    # the giant repo (~40% of rows) must span multiple buckets
    from fhirflat_spark.datagen import repo_boundaries

    giant_rows = int(repo_boundaries(N_ROWS)[1])
    assert giant_rows > 500
    counts = (
        df.groupBy("repo").count().orderBy(F.desc("count")).limit(1).collect()
    )
    assert counts[0]["count"] == giant_rows
    assert P >= giant_rows // 500
    giant = counts[0]["repo"]
    targets = bucketed.where(F.col("repo") == giant).select("__pb").distinct()
    assert targets.count() >= giant_rows // 500


def test_partition_balance(spark, encoded):
    """Salting must keep partitions balanced despite the giant repo:
    no partition may exceed ~2.5x the bucket-size target."""
    _, out, _ = encoded
    m = read_manifest(spark, out).select("rows").collect()
    sizes = sorted(r["rows"] for r in m)
    assert max(sizes) <= 2.5 * 1000  # rows_per_bucket=1000 in the fixture


def test_corruption_localized(spark, encoded, tmp_path):
    """Corrupt one chunk's payload → verify flags exactly that chunk and
    no other (the error side-channel, reference fhirflat/ingest.py:571-580)."""
    import pyarrow.parquet as pq

    _, out, _ = encoded
    out2 = str(tmp_path / "corrupt")
    import shutil

    shutil.copytree(out, out2)
    # flip bytes in one chunk file's payload column
    part_dirs = sorted(
        d for d in os.listdir(f"{out2}/chunks") if d.startswith("part_id=")
    )
    victim_dir = f"{out2}/chunks/{part_dirs[0]}"
    f = [x for x in os.listdir(victim_dir) if x.endswith(".parquet")][0]
    t = pq.read_table(f"{victim_dir}/{f}")
    import pyarrow as pa

    payloads = t.column("payload").to_pylist()  # list of {__c0: bytes, ...}
    k0 = next(iter(payloads[0]))
    blob = bytearray(payloads[0][k0])
    blob[len(blob) // 2] ^= 0xFF
    payloads[0] = {**payloads[0], k0: bytes(blob)}
    t = t.set_column(
        t.schema.get_field_index("payload"),
        "payload",
        pa.array(payloads, type=t.schema.field("payload").type),
    )
    pq.write_table(t, f"{victim_dir}/{f}", compression="none")
    # drop hadoop's local-FS checksum sidecars (stale after the rewrite)
    for root, _, files in os.walk(f"{out2}/chunks"):
        for name in files:
            if name.endswith(".crc"):
                os.remove(os.path.join(root, name))
    v = verify_table(spark, out2).collect()
    bad = [r for r in v if not r["ok"]]
    assert len(bad) == 1
    assert bad[0]["part_id"] == int(part_dirs[0].split("=")[1])


def test_resume_skips_completed(spark, encoded, tmp_path):
    """Re-encode with resume=True → completed partitions skipped, output
    unchanged (idempotent re-run from manifest lineage)."""
    df, out, res = encoded
    sha_before = dataset_checksum(read_manifest(spark, out))
    res2 = encode_table(df, out, rows_per_bucket=1000, resume=True)
    sha_after = dataset_checksum(read_manifest(spark, out))
    assert sha_before == sha_after
    assert res2.rows == N_ROWS  # manifest still accounts for all rows
    decoded = decode_table(spark, out)
    assert decoded.count() == N_ROWS


def test_resume_reencodes_missing(spark, tmp_path):
    """Drop one partition's chunks + manifest row → resume re-encodes ONLY
    that partition and restores the full dataset, with one manifest row
    per partition."""
    from fhirflat_spark import fsio

    out = str(tmp_path / "resume")
    df = gen_spark(spark, 3000, seed=7)
    encode_table(df, out, rows_per_bucket=500)
    man = snapshot_manifest_path(out, current_snapshot(out))
    t = fsio.read_parquet(man)
    all_parts = sorted(t["part_id"].to_pylist())
    victim = all_parts[0]
    fsio.delete_dir(f"{out}/chunks/part_id={victim}")
    # rewrite the head snapshot's manifest without the victim row
    # (simulates a failed task)
    fsio.write_parquet_atomic(
        t.filter([p != victim for p in t["part_id"].to_pylist()]), man
    )
    res = encode_table(df, out, rows_per_bucket=500, resume=True)
    assert res.rows == 3000
    pids = [r["part_id"] for r in
            read_manifest(spark, out).select("part_id").collect()]
    assert sorted(pids) == all_parts
    decoded = decode_table(spark, out)
    assert decoded.count() == 3000
    fails = verify_against_source(df, decoded, ["repo", "path", "commit"])
    assert fails.count() == 0


def test_resume_keeps_appended_key_counts(spark, tmp_path):
    """A resume replaces only its own key-count stats fragment: the
    appended offsets' fragments survive, so the merged counts still
    cover the appended rows."""
    from fhirflat_spark import fsio
    from fhirflat_spark.encode import append_table
    from fhirflat_spark.manifest import load_key_counts

    out = str(tmp_path / "resume_stats")
    df = gen_spark(spark, 3000, seed=7)
    encode_table(df, out, rows_per_bucket=500)
    append_table(gen_spark(spark, 1000, seed=8), out, rows_per_bucket=500)
    assert sum(c for _, c in load_key_counts(out)) == 4000
    man = snapshot_manifest_path(out, current_snapshot(out))
    t = fsio.read_parquet(man)
    victim = min(t["part_id"].to_pylist())
    fsio.delete_dir(f"{out}/chunks/part_id={victim}")
    fsio.write_parquet_atomic(
        t.filter([p != victim for p in t["part_id"].to_pylist()]), man
    )
    encode_table(df, out, rows_per_bucket=500, resume=True)
    assert sum(c for _, c in load_key_counts(out)) == 4000
    assert decode_table(spark, out).count() == 4000


@pytest.mark.parametrize("drop_repo", [True, False], ids=["no_repo", "repo"])
def test_resume_restores_lost_partitions_exactly(spark, tmp_path, drop_repo):
    """Two partitions lost from the manifest → resume re-encodes exactly
    those, on the same placement a clean encode uses: the decoded rows
    equal the source as a multiset, the dataset checksum equals a clean
    encode's, and no other partition's chunk file is rewritten. Tables
    without a ``repo`` column place rows by per-split round-robin, so a
    resume that re-places them any other way loses and duplicates rows."""
    from fhirflat_spark import fsio

    df = gen_spark(spark, 6000, seed=7)
    if drop_repo:
        df = df.drop("repo")
    clean, out = str(tmp_path / "clean"), str(tmp_path / "resumed")
    encode_table(df, clean, rows_per_bucket=500)
    encode_table(df, out, rows_per_bucket=500)
    man = snapshot_manifest_path(out, current_snapshot(out))
    t = fsio.read_parquet(man)
    pids = sorted(t["part_id"].to_pylist())
    victims = {pids[0], pids[len(pids) // 2]}  # P=12 without repo: {0, 6}
    for v in victims:
        fsio.delete_dir(f"{out}/chunks/part_id={v}")
    keep = [p not in victims for p in t["part_id"].to_pylist()]
    fsio.write_parquet_atomic(t.filter(keep), man)

    def chunk_files():
        files = {}
        for root, _, names in os.walk(f"{out}/chunks"):
            for name in names:
                path = os.path.join(root, name)
                files[path] = os.stat(path).st_mtime_ns
        return files

    before = chunk_files()
    encode_table(df, out, rows_per_bucket=500, resume=True)
    after = chunk_files()
    assert {p: m for p, m in after.items() if p in before} == before
    assert {int(p.split("part_id=")[1].split("/")[0])
            for p in set(after) - set(before)} == victims

    decoded = decode_table(spark, out)
    assert decoded.exceptAll(df).count() == 0
    assert df.exceptAll(decoded).count() == 0
    assert (read_summary(spark, out)["dataset_sha256"]
            == read_summary(spark, clean)["dataset_sha256"])


def test_codec_report_shape(spark, encoded):
    _, out, _ = encoded
    rep = codec_report(spark, out).collect()
    cols = {r["column"] for r in rep}
    assert cols == {"repo", "path", "commit", "lang", "content"}
    assert all(r["encoded_bytes"] > 0 for r in rep)


def test_layout_preserving_mode(spark, tmp_path):
    """shuffle=False (no exchange) must still round-trip bit-identically."""
    out = str(tmp_path / "noshuffle")
    df = gen_spark(spark, 3000, seed=21)
    res = encode_table(df, out, rows_per_bucket=1000, shuffle=False)
    assert res.rows == 3000
    decoded = decode_table(spark, out)
    fails = verify_against_source(df, decoded, ["repo", "path", "commit"])
    assert fails.count() == 0


@pytest.mark.parametrize("mode", ["rows", "blob", "encoded"])
def test_removed_shuffle_modes_raise(spark, tmp_path, mode):
    """``shuffle`` takes True, False or "auto"; the removed mode strings
    raise instead of silently running the encoded exchange."""
    df = gen_spark(spark, 10, seed=1)
    with pytest.raises(ValueError, match="shuffle"):
        encode_table(df, str(tmp_path / "x"), shuffle=mode)


def test_null_salt_keys_not_dropped(spark, tmp_path):
    """Rows with NULL repo must survive the salted placement joins
    (regression: inner equi-join on the salt key silently dropped them)."""
    out = str(tmp_path / "nullkeys")
    df = gen_spark(spark, 2000, seed=5).withColumn(
        "repo", F.when(F.col("path").endswith("0.py"), None).otherwise(F.col("repo"))
    )
    n_null = df.where(F.col("repo").isNull()).count()
    assert n_null > 0
    res = encode_table(df, out, rows_per_bucket=500)
    assert res.rows == 2000
    decoded = decode_table(spark, out)
    assert decoded.count() == 2000
    assert decoded.where(F.col("repo").isNull()).count() == n_null
    fails = verify_against_source(df, decoded, ["path", "commit"])
    assert fails.count() == 0


def test_stale_key_counts_fallback(spark, tmp_path):
    """Caller-supplied key_counts that miss keys (stale table stats) must
    route the unknown-key rows into the fallback bucket, not drop them."""
    out = str(tmp_path / "stale")
    df = gen_spark(spark, 2000, seed=5)
    counts = [
        (r[0], r["count"]) for r in df.groupBy("repo").count().collect()
    ]
    stale = counts[: max(1, len(counts) // 2)]  # pretend half the repos are new
    assert len(stale) < len(counts)
    res = encode_table(df, out, rows_per_bucket=500, key_counts=stale)
    assert res.rows == 2000
    decoded = decode_table(spark, out)
    assert decoded.count() == 2000
    fails = verify_against_source(df, decoded, ["repo", "path", "commit"])
    assert fails.count() == 0


def test_duplicate_key_counts_do_not_multiply_rows(spark, tmp_path):
    """Duplicate caller key_counts entries (or mixed-type keys whose string
    forms collide) must be aggregated driver-side — a duplicate __skey row
    in the broadcast bucket map would silently MULTIPLY matching rows
    through the placement join."""
    out = str(tmp_path / "dupkeys")
    df = gen_spark(spark, 2000, seed=5)
    counts = [
        (r[0], r["count"]) for r in df.groupBy("repo").count().collect()
    ]
    doubled = counts + counts[: max(1, len(counts) // 2)]  # duplicate half
    res = encode_table(df, out, rows_per_bucket=500, key_counts=doubled)
    assert res.rows == 2000
    decoded = decode_table(spark, out)
    assert decoded.count() == 2000
    fails = verify_against_source(df, decoded, ["repo", "path", "commit"])
    assert fails.count() == 0


def test_zone_filter_unknown_type_keeps_all_chunks():
    """A zone_filter on a column whose Spark type is unknown (summary
    without spark_schema) must keep EVERY chunk — string comparison of
    JSON-rendered numbers ('9' > '10') is not conservative. The chunk
    check runs in the reader task through ``_zone_keeps``."""
    from fhirflat_spark.decode import _chunk_keeps
    from fhirflat_spark.sources.datasource import _zone_keeps
    from pyspark.sql import types as T

    # numeric bounds rendered as JSON: lexicographic would prune
    for zmin, zmax in [(9, 11), ("9", "11")]:
        stats = {"k": {"zmin": zmin, "zmax": zmax}}
        # typed path: value 10 intersects [9, 11] -> kept; 12 does not
        assert _zone_keeps(stats, "k", T.LongType(), 10, 10)
        assert not _zone_keeps(stats, "k", T.LongType(), 12, 12)
        # unknown-type path: must keep (string '10' < '9' would prune)
        assert _zone_keeps(stats, "k", None, 10, 10)
        assert _zone_keeps(stats, "k", None, 12, 12)
        row = {"stats": json.dumps(stats)}
        assert _chunk_keeps({"zones": [("k", 10, 10)], "type_of": {}}, row)
        assert not _chunk_keeps(
            {"zones": [("k", 12, 12)], "type_of": {"k": T.LongType()}}, row
        )


def test_encoded_shuffle_roundtrip_and_determinism(spark, tmp_path):
    """The encoded exchange (map-side encode, exchange of final
    compressed chunk bytes) must round-trip bit-identical rows, and its
    layout must be a pure function of the input (same input twice ->
    same dataset checksum), since chunk_seq order is (src_split,
    local_seq)."""
    import json as _json

    df = gen_spark(spark, 4000, seed=11)
    out1, out2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    res = encode_table(df, out1, rows_per_bucket=800)
    assert res.rows == 4000
    decoded = decode_table(spark, out1)
    assert decoded.count() == 4000
    fails = verify_against_source(
        df, decoded, ["repo", "path", "commit", "lang", "content"]
    )
    assert fails.count() == 0
    encode_table(df, out2, rows_per_bucket=800)
    sha1 = _json.loads(open(f"{out1}/_SUMMARY.json").read())["dataset_sha256"]
    sha2 = _json.loads(open(f"{out2}/_SUMMARY.json").read())["dataset_sha256"]
    assert sha1 == sha2
    # chunk_seq must be contiguous 0..n-1 per partition after the
    # post-shuffle renumbering (fragment order = chunk order = sha input)
    chunks = spark.read.parquet(f"{out1}/chunks").select(
        "part_id", "chunk_seq"
    ).collect()
    by_part: dict[int, list[int]] = {}
    for r in chunks:
        by_part.setdefault(r["part_id"], []).append(r["chunk_seq"])
    for pid, seqs in by_part.items():
        assert sorted(seqs) == list(range(len(seqs))), (pid, sorted(seqs))


def test_encoded_shuffle_append_and_stats(spark, tmp_path):
    """Appends through the encoded exchange mint fresh part ids, keep
    zone/bloom/ndv stats flowing into the manifest, and decode sees the
    whole table; a resume over the fully committed table rewrites
    nothing."""
    from fhirflat_spark.encode import append_table
    from fhirflat_spark.manifest import aggregate_from_metadata

    out = str(tmp_path / "eapp")
    df = gen_spark(spark, 3000, seed=21)
    encode_table(df, out, rows_per_bucket=600)
    delta = gen_spark(spark, 1000, seed=22)
    append_table(delta, out, rows_per_bucket=600)
    assert decode_table(spark, out).count() == 4000
    # stats v2 rode through both commits: the metadata-only aggregate
    # can answer exactly (None would mean a chunk predated the rollups)
    agg = aggregate_from_metadata(out, ["repo"])
    assert agg is not None and agg["rows"] == 4000
    sha = read_summary(spark, out)["dataset_sha256"]
    res = encode_table(df, out, rows_per_bucket=600, resume=True)
    assert res.rows == 4000
    assert read_summary(spark, out)["dataset_sha256"] == sha
    assert decode_table(spark, out).count() == 4000


def _catalyst_pb(df, plan):
    """Reference placement in Catalyst: ``base + pmod(xxhash64(hash
    cols), nb)`` of each row's sentinel key, a key missing from the plan
    taking the "o:" fallback entry."""
    from pyspark.sql import types as T

    spark = df.sparkSession
    buckets = spark.createDataFrame(
        list(zip(plan.keys, plan.base, plan.nb)),
        T.StructType([T.StructField("__skey", T.StringType()),
                      T.StructField("__base", T.LongType()),
                      T.StructField("__nb", T.LongType())]),
    )
    skey = F.when(F.col("repo").isNull(), F.lit("n:")).otherwise(
        F.concat(F.lit("v:"), F.col("repo").cast("string")))
    out = df.withColumn("__skey", skey).join(
        F.broadcast(buckets), "__skey", "left")
    if plan.keys[-1] == "o:":
        out = out.withColumn(
            "__base", F.coalesce("__base", F.lit(plan.base[-1]))
        ).withColumn("__nb", F.coalesce("__nb", F.lit(plan.nb[-1])))
    ref = F.col("__base") + F.pmod(
        F.xxhash64(*[F.col(f"`{c}`") for c in plan.hash_cols]), F.col("__nb"))
    return out.withColumn("__ref", ref.cast("int"))


def _placement_variant(spark, variant):
    """(frame, placement kwargs) of one placement test table."""
    from pyspark.sql import types as T

    df = gen_spark(spark, 1500, seed=13)
    if variant == "strings":
        return df, {}
    if variant == "null_repo_stale_counts":
        # NULL keys, and caller counts that miss one repo (the "o:" entry)
        df = df.withColumn("repo", F.when(F.col("path").endswith("7"), None)
                           .otherwise(F.col("repo")))
        counts = sorted((r["repo"], r["count"]) for r in
                        df.groupBy("repo").count().collect()
                        if r["repo"] is not None)
        return df, {"key_counts": [(None, 150), *counts[1:]]}
    # an integer salt key (Spark computes the sentinel key) and a decimal
    # hash column (Spark computes the hash)
    return df.select(
        F.length("repo").cast("int").alias("repo"),
        F.length("path").cast(T.DecimalType(12, 2)).alias("path"),
        "commit", "lang",
    ), {}


@pytest.mark.parametrize("variant", ["strings", "null_repo_stale_counts",
                                     "int_salt_decimal_hash"])
def test_kernel_placement_matches_catalyst_reference(spark, variant):
    """Every row's kernel placement (``plan_partition_ids``, the rule the
    stage-1 kernel applies) equals the Catalyst reference of the same
    bucket plan — with NULL keys, a stale caller key count, and the types
    Spark hashes for the kernel."""
    import fhirflat_spark.encode as E

    df, kw = _placement_variant(spark, variant)
    plan = E.placement_plan(df, rows_per_bucket=150, **kw)
    assert max(plan.nb) > 1  # some key spans buckets: the hash is live
    bucketed, P = E.plan_partition_ids(df, rows_per_bucket=150, **kw)
    assert P == plan.P
    out = _catalyst_pb(bucketed, plan)
    assert out.count() == df.count()
    assert out.where(F.col("__pb") != F.col("__ref")).count() == 0


def test_kernel_placement_matches_catalyst_many_keys(spark, tmp_path):
    """Exact placement at more than 1,024 salt keys (once a second,
    join-based planner's regime): kernel and Catalyst agree row by row,
    and the encode round-trips and is deterministic."""
    import fhirflat_spark.encode as E
    from fhirflat_spark.manifest import read_summary

    df = spark.range(6000, numPartitions=4).select(
        F.when(F.col("id") < 4500, F.concat(F.lit("r"), (F.col("id") % 1500)
                                            .cast("string")))
        .otherwise(F.lit("big")).alias("repo"),
        F.concat(F.lit("p/"), F.col("id").cast("string")).alias("path"),
        F.sha2(F.col("id").cast("string"), 256).alias("commit"),
    )
    plan = E.placement_plan(df, rows_per_bucket=300)
    assert len(plan.keys) > 1024 and max(plan.nb) == 5
    bucketed, _ = E.plan_partition_ids(df, rows_per_bucket=300)
    assert _catalyst_pb(bucketed, plan).where(
        F.col("__pb") != F.col("__ref")).count() == 0
    shas = []
    for d in ("a", "b"):
        out = str(tmp_path / d)
        encode_table(df, out, rows_per_bucket=300)
        shas.append(read_summary(spark, out)["dataset_sha256"])
    assert shas[0] == shas[1]
    dec = decode_table(spark, out)
    assert dec.exceptAll(df).count() + df.exceptAll(dec).count() == 0


def test_column_selective_verify(spark, encoded):
    """verify_table(columns=subset) must check per-column shas (the
    whole-chunk sha covers every column and would always mismatch)."""
    _, out, _ = encoded
    v = verify_table(spark, out, columns=["lang", "repo"])
    rows = v.collect()
    assert rows and all(r["ok"] for r in rows)


def test_transcode_balanced_to_archive(spark, tmp_path):
    """transcode re-compresses chunk payloads without the raw table:
    identical rows/checksums/boundaries, smaller bytes, verify green.
    Needs chunks above the archive level-by-volume threshold (2 MiB of
    string bytes), hence one big bucket."""
    from fhirflat_spark import fsio
    from fhirflat_spark.decode import transcode_table
    from fhirflat_spark.manifest import read_summary

    df = gen_spark(spark, 30000, seed=13)
    out = str(tmp_path / "src_big")
    res = encode_table(df, out, rows_per_bucket=30000)
    dst = str(tmp_path / "transcoded")
    sc = spark.sparkContext
    sc.setJobGroup("transcode", None)
    try:
        tres = transcode_table(spark, out, dst, profile="archive")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # no exchange: every job of the transcode is a single stage
    jobs = sc.statusTracker().getJobIdsForGroup("transcode")
    assert jobs and all(
        len(sc.statusTracker().getJobInfo(j).stageIds) == 1 for j in jobs
    )
    assert tres.rows == res.rows
    assert tres.encoded_bytes < res.encoded_bytes
    # dataset checksum (content-derived) must carry over unchanged
    assert (
        read_summary(spark, dst)["dataset_sha256"]
        == read_summary(spark, out)["dataset_sha256"]
    )
    v = verify_table(spark, dst)
    assert v.where(~F.col("ok")).count() == 0
    decoded = decode_table(spark, dst)
    fails = verify_against_source(df, decoded, ["repo", "path", "commit"])
    assert fails.count() == 0
    # written by encode's chunk writer: one named file per partition,
    # no Spark/Hadoop sidecars
    src_m, dst_m = (fsio.read_parquet(f"{d}/manifest") for d in (out, dst))
    assert sorted(os.listdir(f"{dst}/chunks")) == sorted(
        f"part_id={p}" for p in dst_m["part_id"].to_pylist()
    )
    for pid in dst_m["part_id"].to_pylist():
        assert os.listdir(f"{dst}/chunks/part_id={pid}") == [
            f"part-{pid:06d}.parquet"
        ]
    assert not [n for _, _, fs in os.walk(dst) for n in fs
                if n.endswith(".crc") or n == "_SUCCESS"]
    # identical chunk boundaries and per-chunk content checksums
    def n_chunks(m):
        return m.select(["part_id", "n_chunks"]).sort_by("part_id")

    assert n_chunks(dst_m).equals(n_chunks(src_m))
    shas = {
        d: sorted(
            (r["part_id"], r["chunk_seq"], r["content_sha"])
            for r in spark.read.parquet(f"{d}/chunks")
            .select("part_id", "chunk_seq", "content_sha").collect()
        )
        for d in (out, dst)
    }
    assert shas[dst] == shas[out]


def test_archive_profile_roundtrip_and_smaller(spark, tmp_path):
    """archive profile must round-trip bit-identically and produce a
    smaller payload than balanced on content-heavy data."""
    df = gen_spark(spark, 30000, seed=13)
    out_b = str(tmp_path / "bal")
    out_a = str(tmp_path / "arc")
    res_b = encode_table(df, out_b, rows_per_bucket=30000)
    res_a = encode_table(df, out_a, rows_per_bucket=30000, profile="archive")
    assert res_a.encoded_bytes < res_b.encoded_bytes
    decoded = decode_table(spark, out_a)
    fails = verify_against_source(df, decoded, ["repo", "path", "commit"])
    assert fails.count() == 0
    v = verify_table(spark, out_a)
    assert v.where(~F.col("ok")).count() == 0
    with pytest.raises(ValueError, match="profile"):
        encode_table(df, str(tmp_path / "bad"), profile="maximal")


def test_auto_shuffle_detection(spark, tmp_path):
    """shuffle='auto' must pick layout-preserving for clustered input and
    the salted exchange for interleaved input."""
    from fhirflat_spark.encode import detect_clustering

    df = gen_spark(spark, 3000, seed=11, partitions=4)
    # round-robin repartition interleaves every split across the full
    # repo range -> the exchange is needed
    interleaved = df.repartition(4)
    assert detect_clustering(interleaved, rows_per_bucket=500) is False
    clustered = df.repartitionByRange(4, "repo", "path").sortWithinPartitions(
        "repo", "path"
    )
    assert detect_clustering(clustered, rows_per_bucket=1000) is True
    out = str(tmp_path / "auto")
    res = encode_table(clustered, out, rows_per_bucket=1000, shuffle="auto")
    assert res.shuffled is False
    assert res.rows == 3000
    decoded = decode_table(spark, out)
    fails = verify_against_source(df, decoded, ["repo", "path", "commit"])
    assert fails.count() == 0
    res2 = encode_table(
        interleaved, str(tmp_path / "auto2"), rows_per_bucket=500, shuffle="auto"
    )
    assert res2.shuffled is True
    assert res2.rows == 3000


def test_typed_table_roundtrip(spark, tmp_path):
    """Non-string types (ints, floats, timestamps, bools) round-trip through
    the same pipeline — the engine is generic over flat tables."""
    out = str(tmp_path / "typed")
    sf = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    res = encode_table(li, out, rows_per_bucket=2000)
    assert res.rows == li.count()
    decoded = decode_table(spark, out)
    assert decoded.schema == li.schema
    diff = decoded.exceptAll(li).count() + li.exceptAll(decoded).count()
    assert diff == 0


def test_detect_clustering_wide_split(spark):
    """One split spanning the whole key range must count as interleaving
    with every later split (running-max check), forcing the shuffle."""
    from fhirflat_spark.encode import detect_clustering

    df = gen_spark(spark, 4000, seed=17, partitions=8)
    clustered = df.repartitionByRange(8, "repo", "path").sortWithinPartitions(
        "repo", "path"
    )
    assert detect_clustering(clustered, rows_per_bucket=1000) is True
    # replace one split with a full-range sample: union a shuffled slice
    wide = clustered.union(df.orderBy("commit").limit(400).repartition(1))
    assert detect_clustering(wide, rows_per_bucket=1000) is False


def test_verify_full_columns_reordered(spark, encoded):
    """Verifying ALL columns in a non-summary order must still pass (the
    combined sha is recomputed in encode-time order)."""
    _, out, _ = encoded
    from fhirflat_spark.manifest import read_summary

    cols = list(reversed(read_summary(spark, out)["columns"]))
    v = verify_table(spark, out, columns=cols)
    rows = v.collect()
    assert rows and all(r["ok"] for r in rows), [r for r in rows if not r["ok"]][:2]


def test_transcode_in_place_rejected(spark, tmp_path):
    from fhirflat_spark.decode import transcode_table

    out = str(tmp_path / "ds")
    df = gen_spark(spark, 1000, seed=3)
    encode_table(df, out, rows_per_bucket=500)
    with pytest.raises(ValueError, match="in place"):
        transcode_table(spark, out, out)


def test_zone_map_key_range_decode(spark, encoded):
    """Manifest zone-map pruning: a single-repo decode must touch a small
    subset of partitions and return exactly that repo's rows."""
    from fhirflat_spark.decode import decode_key_range, partitions_for_key_range
    from fhirflat_spark.manifest import read_manifest

    df, out, _ = encoded
    repo = df.select("repo").distinct().orderBy("repo").collect()[2]["repo"]
    total_parts = read_manifest(spark, out).count()
    pruned = partitions_for_key_range(spark, out, repo, repo)
    assert 0 < len(pruned) < total_parts, (len(pruned), total_parts)
    got = decode_key_range(spark, out, repo, repo)
    want = df.where(F.col("repo") == repo)
    assert got.count() == want.count()
    fails = verify_against_source(want, got, ["repo", "path", "commit"])
    assert fails.count() == 0


def test_zone_filter_generic_column(spark, tmp_path):
    """Per-column zone maps: a zone_filter on a non-key numeric column
    (and a truncated-string column) must skip non-matching chunks while
    returning every matching row."""
    sf = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")
    li = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .repartitionByRange(6, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
    )
    out = str(tmp_path / "li_zone")
    encode_table(li, out, rows_per_bucket=2000, shuffle=False)
    keys = sorted(r["l_orderkey"] for r in li.select("l_orderkey").distinct().collect())
    lo, hi = keys[0], keys[max(1, len(keys) // 20)]  # a narrow leading range
    dec = decode_table(spark, out, zone_filter=("l_orderkey", lo, hi))
    got = dec.where(F.col("l_orderkey").between(lo, hi))
    want = li.where(F.col("l_orderkey").between(lo, hi))
    assert got.count() == want.count() > 0
    # zones actually skip: the filtered decode touches fewer rows than full
    assert dec.count() < li.count()
    # string-column zone filter (comment strings exceed the 64-char
    # truncation on some rows -> exercises the safe upper bound)
    docs = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .repartitionByRange(5, "text")
        .sortWithinPartitions("text")
    )
    out2 = str(tmp_path / "docs_zone")
    encode_table(docs, out2, rows_per_bucket=100, shuffle=False)
    texts = sorted(r["text"] for r in docs.select("text").collect())
    tlo, thi = texts[0], texts[len(texts) // 10]
    dec2 = decode_table(spark, out2, zone_filter=("text", tlo, thi))
    got2 = dec2.where(F.col("text").between(tlo, thi))
    want2 = docs.where(F.col("text").between(tlo, thi))
    assert got2.count() == want2.count() > 0
    assert dec2.count() < docs.count()


def test_append_table_incremental(spark, tmp_path):
    """Incremental append: new rows land in NEW partitions, the manifest
    re-merges, totals/summary cover the whole dataset, and decode returns
    the union bit-identically."""
    from fhirflat_spark.encode import append_table
    from fhirflat_spark.manifest import load_key_counts, read_summary

    out = str(tmp_path / "app")
    df1 = gen_spark(spark, 3000, seed=31)
    df2 = gen_spark(spark, 2000, seed=32)
    res1 = encode_table(df1, out, rows_per_bucket=600)
    assert res1.rows == 3000
    # scan-derived key stats were persisted by the first run
    kc = load_key_counts(out)
    assert kc and sum(c for _, c in kc) == 3000
    res2 = append_table(df2, out, rows_per_bucket=600)
    assert res2.rows == 5000  # totals cover the whole dataset
    summary = read_summary(spark, out)
    assert summary["rows"] == 5000
    # appended stats merged the delta
    kc2 = load_key_counts(out)
    assert sum(c for _, c in kc2) == 5000
    both = df1.unionByName(df2)
    decoded = decode_table(spark, out)
    assert decoded.count() == 5000
    fails = verify_against_source(both, decoded, ["repo", "path", "commit", "lang", "content"])
    assert fails.count() == 0
    # append evolves add/omit columns (tests/test_schema_evolution.py)
    # but still refuses a shared-column TYPE conflict — no silent
    # coercion
    with pytest.raises(ValueError, match="type"):
        append_table(df2.withColumn("lang", F.lit(1).cast("long")), out)


def test_append_partitions_disjoint(spark, tmp_path):
    """Appended partitions must not collide with existing part ids (the
    offset guarantees it), and old chunk files stay untouched."""
    import os

    from fhirflat_spark.encode import append_table
    from fhirflat_spark.manifest import read_manifest

    out = str(tmp_path / "app2")
    encode_table(gen_spark(spark, 1000, seed=33), out, rows_per_bucket=250)
    before = {
        d: os.path.getmtime(f"{out}/chunks/{d}")
        for d in os.listdir(f"{out}/chunks") if d.startswith("part_id=")
    }
    append_table(gen_spark(spark, 1000, seed=34), out, rows_per_bucket=250)
    m = read_manifest(spark, out).select("part_id").collect()
    ids = [r["part_id"] for r in m]
    assert len(ids) == len(set(ids)), "part_id collision after append"
    for d, mt in before.items():
        assert os.path.getmtime(f"{out}/chunks/{d}") == mt, f"{d} rewritten"


def test_compact_table_defragments(spark, tmp_path):
    """Many small appends fragment the dataset; compact_table rewrites it
    into full-size buckets — fewer partitions, identical rows."""
    from fhirflat_spark.decode import compact_table
    from fhirflat_spark.encode import append_table
    from fhirflat_spark.manifest import read_summary

    out = str(tmp_path / "frag")
    dst = str(tmp_path / "compacted")
    parts = [gen_spark(spark, 500, seed=70 + i) for i in range(4)]
    encode_table(parts[0], out, rows_per_bucket=100)
    for p in parts[1:]:
        append_table(p, out, rows_per_bucket=100)
    frag_parts = read_summary(spark, out)["num_partitions"]
    res = compact_table(spark, out, dst, rows_per_bucket=1000)
    assert res.rows == 2000
    assert res.num_partitions < frag_parts, (res.num_partitions, frag_parts)
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    decoded = decode_table(spark, dst)
    assert decoded.count() == 2000
    fails = verify_against_source(union, decoded, ["repo", "path", "commit", "lang", "content"])
    assert fails.count() == 0


def test_decode_filtered_one_call(spark, encoded):
    """decode_filtered == zone-pruned decode + exact residual, including
    when the filter column is outside the selected columns."""
    df, out, _ = encoded
    got = decode_filtered(spark, out, "lang", "go", "java")
    want = df.where(F.col("lang").between("go", "java"))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() + want.exceptAll(got).count() == 0
    # column-pruned variant: filter col not in selection, still applied
    got2 = decode_filtered(spark, out, "lang", "go", "java", columns=["repo", "path"])
    assert got2.columns == ["repo", "path"]
    assert got2.count() == want.count()


def test_append_retry_idempotent(spark, tmp_path):
    """A crashed-then-retried append reuses the SAME part_offset (the
    manifest was not merged before the crash). The retry must replace the
    crashed attempt's chunk files — not add duplicates next to them —
    leaving the dataset checksum unchanged and rows exact."""
    from fhirflat_spark.manifest import read_summary

    out = str(tmp_path / "retry")
    df1 = gen_spark(spark, 1500, seed=81)
    df2 = gen_spark(spark, 500, seed=82)
    encode_table(df1, out, rows_per_bucket=300)
    base_parts = read_summary(spark, out)["num_partitions"]
    offset = base_parts + 10  # any offset past the existing partitions
    kc = [(r[0], r["count"]) for r in df2.groupBy("repo").count().collect()]
    first = encode_table(
        df2, out, rows_per_bucket=300, key_counts=kc,
        append=True, part_offset=offset,
    )
    sha1 = read_summary(spark, out)["dataset_sha256"]
    # the retry: identical data, identical offset
    encode_table(
        df2, out, rows_per_bucket=300, key_counts=kc,
        append=True, part_offset=offset,
    )
    sha2 = read_summary(spark, out)["dataset_sha256"]
    assert sha1 == sha2
    decoded = decode_table(spark, out)
    assert decoded.count() == 2000
    fails = verify_against_source(
        df1.unionByName(df2), decoded, ["repo", "path", "commit"]
    )
    assert fails.count() == 0


def test_register_dataset_catalog_views(spark, tmp_path):
    """catalog.register_dataset: the decoded table and its lineage are
    plain SQL views — counts agree between the data view, the manifest,
    and the chunk stats, and the summary row matches the dataset."""
    from fhirflat_spark.catalog import register_dataset
    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.encode import encode_table

    out = str(tmp_path / "cat_ds")
    df = gen_spark(spark, 3000, seed=33)
    encode_table(df, out, rows_per_bucket=1000)
    register_dataset(spark, out, "cds")

    n = spark.sql("SELECT count(*) AS n FROM cds").collect()[0]["n"]
    m = spark.sql("SELECT sum(rows) AS n FROM cds_manifest").collect()[0]["n"]
    assert n == m == 3000
    # chunk stats: every column accounted for, per-column row totals agree
    per_col = {
        r["column"]: r["n"]
        for r in spark.sql(
            "SELECT column, sum(n_rows) AS n FROM cds_chunks GROUP BY column"
        ).collect()
    }
    assert set(per_col) == set(df.columns)
    assert all(v == 3000 for v in per_col.values())
    # lineage join: manifest partitions == chunk-store partitions
    joined = spark.sql("""
        SELECT m.part_id FROM cds_manifest m
        LEFT ANTI JOIN (SELECT DISTINCT part_id FROM cds_chunks) c
        ON m.part_id = c.part_id
    """).count()
    assert joined == 0
    s = spark.sql("SELECT rows, format_version FROM cds_summary").collect()[0]
    assert s["rows"] == 3000
    from fhirflat_spark.manifest import FORMAT_VERSION

    assert s["format_version"] == FORMAT_VERSION
    snap = spark.sql(
        "SELECT version, rows, is_current FROM cds_snapshots"
    ).collect()
    assert [(r["version"], r["rows"], r["is_current"]) for r in snap] == [
        (1, 3000, True)
    ]
    assert spark.sql("SELECT * FROM cds_deletes").count() == 0
    with pytest.raises(ValueError, match="view name"):
        register_dataset(spark, out, "bad-name")


def test_zone_filter_multi_column_conjunction(spark, tmp_path):
    """Multiple zone predicates AND together: the chunk set decoded under
    [(doc range) AND (lang range)] is exactly the raw-table answer after
    the residual filter, and prunes at least as hard as either alone."""
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.encode import encode_table

    out = str(tmp_path / "zf_ds")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    encode_table(docs, out, rows_per_bucket=100, num_partitions=5)

    filters = [("doc_id", 50, 300), ("lang", "en", "fr")]
    dec = decode_table(spark, out, zone_filter=filters)
    got = (
        dec.where(F.col("doc_id").between(50, 300) & F.col("lang").between("en", "fr"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang")
        .collect()
    )
    exp = (
        docs.where(F.col("doc_id").between(50, 300) & F.col("lang").between("en", "fr"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    assert len(got) > 0
