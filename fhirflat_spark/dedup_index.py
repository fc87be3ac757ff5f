"""Incremental MinHash dedup index maintained from the snapshot changelog.

The 100-TB dedup workflow is never "re-sign the corpus nightly" — it is
"sign the delta, merge, and look for duplicates BETWEEN the delta and
the standing index". This module keeps a MinHash-signature index (one
row of ``N_HASHES`` longs per document, ~1/1000th of corpus bytes) as a
derived dataset of a chunk-store table, advanced snapshot-to-snapshot
from the table's changelog (``changes.table_changes``), the same
delta-proportional pattern as ``rollup.py``:

- ``build_dedup_index``: ONE full scan, ever (at the snapshot it pins).
- ``refresh_dedup_index``: signatures for INSERTED docs only (cost ∝
  delta); DELETED keys anti-joined out of the index (cost ∝ index,
  which is metadata-sized next to the corpus). The refreshed index is
  bit-equal to a from-scratch rebuild (pinned by test + oracle).
- ``new_duplicate_pairs``: LSH band join of the latest batch's
  signatures against the WHOLE index — candidate pairs touching at
  least one new document, never re-reporting old-vs-old pairs. Hot
  buckets capped like every other pair generator (``dedup.py``).

Index keys must be unique per document (the corpus contract a dedup
index presumes); an upsert's changelog (delete+insert of the key) keeps
the index exact under re-ingestion.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhirflat_spark import fsio
from fhirflat_spark.operators.dedup import (
    N_HASHES,
    _banded_sigs,
    _cap_hot_buckets,
    _sha_hasher,
    _xx_hasher,
)

_META = "dedup_index.json"
_HASHERS = {"sha": _sha_hasher, "xx": _xx_hasher}


def _meta_path(index_dir: str) -> str:
    return f"{index_dir}/{_META}"


def signatures_of(docs: DataFrame, key_col: str, text_col: str,
                  hasher: str) -> DataFrame:
    """MinHash signatures (``doc_id``, ``mh0..mh{N-1}``) — explode to
    distinct whitespace tokens, partial-min aggregate: one shuffle,
    Zipf skew absorbed map-side, identical to the oracle-checked
    ``minhash_signatures`` query shape."""
    h = _HASHERS[hasher]
    toks = docs.select(
        F.col(key_col).alias("doc_id"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(text_col)), r"\s+"))
        ).alias("token"),
    ).where(F.length("token") > 0)
    aggs = [
        F.min(h(F.col("token"), i)).alias(f"mh{i}") for i in range(N_HASHES)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def build_dedup_index(
    spark: SparkSession,
    table_dir: str,
    index_dir: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    hasher: str = "xx",
    snapshot: int | str | None = None,
) -> dict:
    """Materialize the index from the table's current snapshot (or a
    pinned version / tag name via ``snapshot=`` — refresh then advances
    incrementally from there)."""
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.manifest import table_view

    if hasher not in _HASHERS:
        raise ValueError(f"hasher must be one of {sorted(_HASHERS)}")
    view = table_view(table_dir, snapshot)
    v = view.version
    if v is None:
        raise ValueError(f"{table_dir} has no committed snapshot")
    docs = decode_table(spark, table_dir, columns=[key_col, text_col],
                        snapshot=view)
    sigs = signatures_of(docs, key_col, text_col, hasher).withColumn(
        "batch_snapshot", F.lit(v)
    )
    sigs.write.mode("overwrite").parquet(f"{index_dir}/v{v}")
    from fhirflat_spark.manifest import read_summary

    from fhirflat_spark.manifest import snapshot_dataset_sha

    meta = {"snapshot": v, "key_col": key_col, "text_col": text_col,
            "hasher": hasher,
            # table identity at (or after) the pinned snapshot — lets
            # refresh detect a history RESET (maintain_table's
            # compaction swap renumbers snapshots) and rebuild instead
            # of mis-reading the new lineage as a delta
            "dataset_sha256": read_summary(spark, table_dir).get(
                "dataset_sha256"
            ),
            # content sha OF THE PINNED SNAPSHOT: catches the reset the
            # summary sha can miss — a new lineage that reuses version
            # number v (and then advances past it) never reproduces the
            # old snapshot's checksum-of-checksums
            "snapshot_sha": snapshot_dataset_sha(table_dir, v)}
    fsio.write_bytes_atomic(
        _meta_path(index_dir), json.dumps(meta).encode(),
        token=str(os.getpid()),
    )
    return meta


def read_dedup_index(spark: SparkSession, index_dir: str) -> DataFrame:
    meta = json.loads(fsio.read_bytes(_meta_path(index_dir)))
    return spark.read.parquet(f"{index_dir}/v{meta['snapshot']}")


def refresh_dedup_index(
    spark: SparkSession, table_dir: str, index_dir: str,
    keep_old: bool = False,
) -> dict:
    """Advance the index to the table's current snapshot: sign inserted
    docs, drop deleted keys, merge. No-op when already current.
    Refresh ≡ rebuild (bit-equal signatures) because a signature depends
    only on its own document's text. A history RESET (compaction swap /
    fresh re-encode — detected via snapshot regression or a changed
    dataset checksum at an unchanged version) falls back to a full
    rebuild: provenance restarts, so the next ``new_duplicate_pairs``
    re-reports the whole corpus once (safe — dedup is idempotent)."""
    from fhirflat_spark.changes import CHANGE_COL, table_changes
    from fhirflat_spark.manifest import current_snapshot

    from fhirflat_spark.manifest import read_summary

    from fhirflat_spark.manifest import snapshot_dataset_sha

    meta = json.loads(fsio.read_bytes(_meta_path(index_dir)))
    key_col = meta["key_col"]
    frm, to = meta["snapshot"], current_snapshot(table_dir)
    cur_sha = read_summary(spark, table_dir).get("dataset_sha256")
    if to == frm and cur_sha == meta.get("dataset_sha256"):
        return meta
    # lineage-identity check: the pinned snapshot must still BE the
    # snapshot the index was built on — a reset that reused version
    # numbers and then advanced past frm would otherwise read as a
    # plausible delta window of the WRONG lineage
    lineage_ok = (
        "snapshot_sha" not in meta  # pre-guard index: legacy behavior
        or meta["snapshot_sha"] == snapshot_dataset_sha(table_dir, frm)
    )
    if to is None or to < frm or to == frm or not lineage_ok:
        # history RESET, not a delta: a compaction swap (maintain_table)
        # or fresh re-encode renumbers snapshots from 1 — the recorded
        # version no longer names a manifest in this lineage. Rebuild
        # (one full scan — exactly what a reset costs by definition).
        old = f"{index_dir}/v{frm}"
        meta = build_dedup_index(
            spark, table_dir, index_dir, key_col=key_col,
            text_col=meta["text_col"], hasher=meta["hasher"],
        )
        if not keep_old and frm != meta["snapshot"]:
            fsio.delete_dir(old)
        return meta
    ch = table_changes(spark, table_dir, frm, to)
    new_sigs = signatures_of(
        ch.where(F.col(CHANGE_COL) == "insert"),
        key_col, meta["text_col"], meta["hasher"],
    ).withColumn("batch_snapshot", F.lit(to))
    dropped = (
        ch.where(F.col(CHANGE_COL) == "delete")
        .select(F.col(key_col).alias("doc_id"))
        .distinct()
    )
    old = spark.read.parquet(f"{index_dir}/v{frm}")
    kept = old.join(dropped, "doc_id", "left_anti")
    kept.unionByName(new_sigs).write.mode("overwrite").parquet(
        f"{index_dir}/v{to}"
    )
    meta["snapshot"] = to
    meta["dataset_sha256"] = cur_sha
    meta["snapshot_sha"] = snapshot_dataset_sha(table_dir, to)
    fsio.write_bytes_atomic(
        _meta_path(index_dir), json.dumps(meta).encode(),
        token=str(os.getpid()),
    )
    if not keep_old:
        fsio.delete_dir(f"{index_dir}/v{frm}")
    return meta


def new_duplicate_pairs(spark: SparkSession, index_dir: str) -> DataFrame:
    """LSH candidate pairs touching at least one LATEST-batch document:
    band join of new signatures against the whole index. Old-vs-old
    pairs were reported when their batch was new — re-running after a
    refresh yields only the frontier, the delta-proportional contract."""
    meta = json.loads(fsio.read_bytes(_meta_path(index_dir)))
    sigs = read_dedup_index(spark, index_dir)
    banded_all = _cap_hot_buckets(
        _banded_sigs(sigs.select("doc_id", *[f"mh{i}" for i in range(N_HASHES)])),
        ["band", "sig"],
    )
    new_keys = (
        sigs.where(F.col("batch_snapshot") == meta["snapshot"])
        .select("doc_id")
    )
    banded_new = banded_all.join(new_keys, "doc_id", "left_semi")
    a, b = banded_new.alias("a"), banded_all.alias("b")
    return (
        a.join(b, ["band", "sig"])
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
        .orderBy("doc_a", "doc_b")
    )
