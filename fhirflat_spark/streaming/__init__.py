"""Structured Streaming encode: continuous ingestion into the chunk store.

The reference is batch-only (SURVEY §2.8: no streaming anywhere); this is
an engine extension: a ``readStream`` source of code-table rows is encoded
micro-batch by micro-batch with the SAME kernels and manifest protocol —
``foreachBatch`` reuses ``encode_table`` per micro-batch into a
batch-id-namespaced partition range, so lineage/resume semantics carry
over unchanged (each micro-batch is recorded like a checkpointed run).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def encode_stream(stream_df: DataFrame, out_dir: str, checkpoint_dir: str,
                  rows_per_bucket: int = 250_000, trigger_once: bool = True):
    """Attach the columnar encoder to a streaming DataFrame.

    Each micro-batch is encoded into ``{out_dir}/batch={id}`` with its own
    manifest — exactly-once via the streaming checkpoint: a replayed batch
    id overwrites its own directory idempotently (same determinism
    guarantees as the batch engine's golden manifest).
    """
    from fhirflat_spark.encode import encode_table

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        encode_table(
            batch_df,
            f"{out_dir}/batch={batch_id}",
            rows_per_bucket=rows_per_bucket,
        )

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer


PARTS_PER_BATCH = 1 << 16  # part-id namespace per micro-batch (int32-safe to 32k batches)


def encode_stream_incremental(stream_df: DataFrame, out_dir: str,
                              checkpoint_dir: str,
                              rows_per_bucket: int = 250_000,
                              trigger_once: bool = True,
                              parts_per_batch: int = PARTS_PER_BATCH,
                              snapshot_keep_last: int | None = None):
    """Continuous encode into ONE queryable dataset (vs ``encode_stream``'s
    per-batch bundle dirs): every micro-batch appends its rows as new
    partitions inside its own part-id namespace
    (``batch_id * parts_per_batch``), the manifest/summary re-merge to
    cover the whole table, and readers always see a consistent dataset.

    Exactly-once WITHOUT a side state file: the write uses dynamic
    partition overwrite, so a replayed batch id rewrites exactly its own
    partition directories (and its manifest fragments, same filenames) —
    idempotent by construction, like a checkpointed batch re-run.

    Every micro-batch is a snapshot commit, so an always-on stream grows
    the snapshot log one file per trigger; ``snapshot_keep_last=N``
    bounds it by expiring older snapshots after each batch (metadata
    only — chunk reclamation stays a `maintain_table`/`vacuum` decision,
    never raced against a possible batch replay).
    """
    from fhirflat_spark.encode import encode_table

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        encode_table(
            batch_df, out_dir, rows_per_bucket=rows_per_bucket,
            append=True, part_offset=int(batch_id) * parts_per_batch,
            max_new_partitions=parts_per_batch,
        )
        if snapshot_keep_last is not None:
            from fhirflat_spark.manifest import expire_snapshots

            expire_snapshots(out_dir, keep_last=snapshot_keep_last)

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer


def dedup_stream(stream_df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Streaming exact dedup: emit only the FIRST document per content
    hash across all micro-batches (the streaming face of
    ``dedup_exact``/``dedup_keep_list``).

    State is one boolean per sha256(text) key — the continuously
    maintained dedup index a streaming ingest needs so late-arriving
    copies of already-ingested content are dropped, not re-emitted.
    Within a batch the keeper is the minimum ``id_col`` row
    (deterministic). State lives forever by design (a seen-set has no
    natural TTL); at 100-TB scale this is exactly the workload the
    RocksDB state store (`spark.sql.streaming.stateStore.providerClass`)
    exists for — keys are 32-byte hashes, so 10^12 documents is ~32 TB
    of state spread across the cluster's stores, not heap."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    cols = list(stream_df.columns)

    def fn(key, pdfs, state):
        if state.exists:
            return  # content already emitted in an earlier batch
        pdf = pd.concat(list(pdfs))
        if len(pdf) == 0:
            return
        state.update((True,))
        yield pdf.sort_values(id_col).head(1)[cols]

    return (
        stream_df.withColumn("__h", F.sha2(F.col(text_col).cast("string"), 256))
        .groupBy("__h")
        .applyInPandasWithState(
            fn,
            stream_df.schema,
            "seen BOOLEAN",
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def merge_sessions(sorted_us, state_sessions, gap_us: int):
    """Gap-merge sorted event micros + the session intervals carried in
    state (one tuple or a list of tuples) into disjoint sessions (each
    separated by > gap_us). In-watermark late events preceding a buffered
    session by more than the gap form their own sessions rather than
    being absorbed; within the gap they merge — which is exactly why
    buffered sessions must not be emitted until the watermark passes
    their end + gap."""
    sessions: list[tuple[int, int, int]] = []
    for t in sorted_us:
        if sessions and t - sessions[-1][1] <= gap_us:
            s, e, n = sessions[-1]
            sessions[-1] = (s, max(e, int(t)), n + 1)
        else:
            sessions.append((int(t), int(t), 1))
    if state_sessions:
        if isinstance(state_sessions, tuple):
            state_sessions = [state_sessions]
        merged: list[tuple[int, int, int]] = []
        for s0, e0, n0 in sorted(sessions + [tuple(s) for s in state_sessions]):
            if merged and s0 - merged[-1][1] <= gap_us:
                a, b, c = merged[-1]
                merged[-1] = (a, max(b, e0), c + n0)
            else:
                merged.append((s0, e0, n0))
        sessions = merged
    return sessions


def sessionize_stream(stream_df: DataFrame, gap_seconds: int = 1800,
                      ts_col: str = "ts", key_col: str = "user_id",
                      watermark: str = "2 hours") -> DataFrame:
    """Custom stateful streaming operator: per-key gap sessionization via
    ``applyInPandasWithState`` — the streaming form of the batch
    ``sessionize`` query (operators/relational.py), and the
    arbitrary-state surface SURVEY §2.8 calls for beyond windowed aggs.

    Per group and micro-batch: merge the batch's events with EVERY
    session buffered in ``GroupState`` (closed-by-gap sessions stay
    buffered too), then emit ONLY the sessions whose ``end + gap`` the
    watermark has passed — such a session can never grow again (any
    future in-watermark event has ts ≥ watermark > end + gap, so it
    cannot merge), so append-mode output contains no overlapping or
    duplicate sessions even under in-watermark late data. A session that
    has a later session after it closes with ``closed_by='gap'``; the
    trailing open session flushes with ``'timeout'`` once the watermark
    passes its deadline. Arrow-batched pandas per GROUP — no per-row
    Python. (Round-2 ADVICE fix: the previous version emitted gap-closed
    sessions immediately, so a late event arriving in a later batch
    could produce a second session overlapping an already-emitted one.)
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{key_col} BIGINT, session_start TIMESTAMP, session_end TIMESTAMP, "
        "n_events BIGINT, closed_by STRING"
    )
    # buffered sessions (epoch micros), oldest first
    state_schema = "starts ARRAY<BIGINT>, ends ARRAY<BIGINT>, ns ARRAY<BIGINT>"
    gap_us = gap_seconds * 1_000_000

    def fn(key, pdfs, state):
        k = key[0]
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        stored: list[tuple[int, int, int]] = []
        if state.exists:
            starts, ends, ns = state.get
            stored = list(zip(starts, ends, ns))
        if state.hasTimedOut:
            sessions = stored
        else:
            ts = pd.concat([pdf[ts_col] for pdf in pdfs])
            us = (pd.to_datetime(ts).astype("int64") // 1000).sort_values()
            sessions = merge_sessions(us, stored, gap_us)
        if not sessions:
            state.remove()
            return
        # strict <: Spark still admits events at ts == watermark, and the
        # merge bound (t - end <= gap) is inclusive — an event at exactly
        # end+gap == wm could merge into a session already emitted
        emittable = [
            (i, s) for i, s in enumerate(sessions) if s[1] + gap_us < wm_us
        ]
        keep = [s for s in sessions if s[1] + gap_us >= wm_us]
        if keep:
            state.update((
                [int(s) for s, _, _ in keep],
                [int(e) for _, e, _ in keep],
                [int(n) for _, _, n in keep],
            ))
            # earliest buffered deadline; must sit strictly past the
            # current watermark for Spark to accept it
            deadline_ms = (min(e for _, e, _ in keep) + gap_us) // 1000
            state.setTimeoutTimestamp(max(deadline_ms, wm_ms + 1))
        else:
            state.remove()
        if emittable:
            last = len(sessions) - 1
            yield pd.DataFrame(
                {
                    key_col: [k] * len(emittable),
                    "session_start": [
                        pd.Timestamp(s, unit="us") for _, (s, _, _) in emittable
                    ],
                    "session_end": [
                        pd.Timestamp(e, unit="us") for _, (_, e, _) in emittable
                    ],
                    "n_events": [n for _, (_, _, n) in emittable],
                    "closed_by": [
                        "gap" if i < last else "timeout" for i, _ in emittable
                    ],
                }
            )

    return (
        stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def windowed_event_counts(stream_df: DataFrame, ts_col: str = "ts",
                          key_col: str = "event_type",
                          window: str = "1 minute",
                          watermark: str = "2 minutes") -> DataFrame:
    """Watermarked windowed aggregation (the standard late-data pattern) —
    demonstrates the streaming-native operator surface over `events`."""
    from pyspark.sql import functions as F

    # watermarks need session-tz TIMESTAMP; NTZ sources get a view cast
    return (
        stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), key_col)
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "n",
            "sum_value",
        )
    )
