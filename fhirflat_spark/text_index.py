"""Inverted token index over a chunk-store table — search without a scan.

"Which files mention identifier X" over a 100-TB code corpus must not be
a full-corpus regex scan. This module maintains a token → partition
posting index as a derived dataset of the chunk store, the same
changelog-pinned lineage pattern as ``dedup_index.py`` / ``rollup.py``:

- ``build_token_index``: ONE full scan at the pinned snapshot — decode
  with physical positions, ``regexp_extract_all`` → per-document
  distinct tokens → ``(token, part_id, docs)`` postings (two-level
  aggregate, partial map-side; Zipf-hot tokens bounded by #partitions).
- ``refresh_token_index``: postings for NEW partitions only (committed
  partitions are immutable, so a partition's postings never change —
  the delta is a plain union, no re-aggregation). Cost ∝ appended data.
- ``search_token``: posting lookup (metadata-sized pyarrow read,
  no Spark job) → ``decode_table(part_ids=hits)`` → exact residual
  token predicate. The index is deliberately an OVER-approximation
  under row-level deletes/upserts (a delete never shrinks postings):
  pruning may read a partition that no longer matches, but the decode
  applies merge-on-read deletes and the residual filter keeps results
  exact — the zone-map/Bloom contract, at token granularity.

Lineage guards mirror ``dedup_index``: a history RESET (fresh re-encode,
compaction swap, rollback) is detected via snapshot regression or a
changed content sha at the pinned version — including a reset whose new
lineage lands exactly on the pinned version number — and falls back to a
rebuild instead of merging a delta of the wrong history.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhirflat_spark import fsio

# identifier-shaped tokens, ≥3 chars: the same expression class both
# Spark (Java regex) and DuckDB (RE2) extract identically, so the
# residual predicate is oracle-mirrorable
TOKEN_PATTERN = r"[A-Za-z_][A-Za-z0-9_]{2,}"

_META = "text_index.json"


def _meta_path(index_dir: str) -> str:
    return f"{index_dir}/{_META}"


def token_matches(text_col: str, token: str,
                  pattern: str = TOKEN_PATTERN):
    """The exact predicate search results satisfy: ``token`` appears in
    ``text_col`` as a whole extracted token (same tokenizer as the
    index — a substring match could cross token boundaries and escape
    the postings)."""
    return F.array_contains(
        F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0)),
        token,
    )


def _postings(df: DataFrame, text_col: str, pattern: str) -> DataFrame:
    """``(token, part_id, docs)`` — per partition, the number of
    documents containing each token. ``array_distinct`` before the
    explode keeps hot documents from multiplying rows; the two-level
    groupBy aggregates partially map-side, so a Zipf-hot token ships
    one row per (token, partition), never per occurrence."""
    toks = df.select(
        F.col("__part_id").alias("part_id"),
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))
            )
        ).alias("token"),
    )
    return toks.groupBy("token", "part_id").agg(
        F.count("*").cast("long").alias("docs")
    )


def build_token_index(
    spark: SparkSession,
    table_dir: str,
    index_dir: str,
    text_col: str = "text",
    pattern: str = TOKEN_PATTERN,
    snapshot: int | str | None = None,
) -> dict:
    """Materialize the posting index from the table's current snapshot
    (or a pinned version / tag via ``snapshot=``)."""
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.manifest import (
        read_summary,
        snapshot_dataset_sha,
        table_view,
    )

    view = table_view(table_dir, snapshot)
    v = view.version
    if v is None:
        raise ValueError(f"{table_dir} has no committed snapshot")
    cols = list(read_summary(spark, table_dir)["columns"])
    if text_col not in cols:
        raise ValueError(
            f"text_col {text_col!r} not in table columns {cols}"
        )
    df = decode_table(spark, table_dir, columns=[text_col], snapshot=view,
                      with_positions=True)
    _postings(df, text_col, pattern).write.mode("overwrite").parquet(
        f"{index_dir}/v{v}"
    )
    meta = {
        "snapshot": v,
        "text_col": text_col,
        "pattern": pattern,
        "dataset_sha256": read_summary(spark, table_dir).get("dataset_sha256"),
        "snapshot_sha": snapshot_dataset_sha(table_dir, v),
    }
    fsio.write_bytes_atomic(
        _meta_path(index_dir), json.dumps(meta).encode(),
        token=str(os.getpid()),
    )
    return meta


def read_token_index(spark: SparkSession, index_dir: str) -> DataFrame:
    meta = json.loads(fsio.read_bytes(_meta_path(index_dir)))
    return spark.read.parquet(f"{index_dir}/v{meta['snapshot']}")


def refresh_token_index(
    spark: SparkSession, table_dir: str, index_dir: str,
    keep_old: bool = False,
) -> dict:
    """Advance the index to the table's current snapshot by indexing the
    NEW partitions only and unioning their postings in (immutability of
    committed partitions makes the merge a concatenation — refresh is
    bit-equal to a rebuild under pure appends). Row-level deletes leave
    old postings as a documented over-approximation; a history reset
    rebuilds (same guards as ``dedup_index.refresh_dedup_index``)."""
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.manifest import (
        current_snapshot,
        read_summary,
        snapshot_dataset_sha,
        snapshot_part_ids,
    )

    meta = json.loads(fsio.read_bytes(_meta_path(index_dir)))
    frm, to = meta["snapshot"], current_snapshot(table_dir)
    lineage_ok = (
        "snapshot_sha" not in meta
        or meta["snapshot_sha"] == snapshot_dataset_sha(table_dir, frm)
    )
    if to == frm and lineage_ok and (
        read_summary(spark, table_dir).get("dataset_sha256")
        == meta.get("dataset_sha256")
    ):
        return meta
    if to is None or to < frm or to == frm or not lineage_ok:
        old = f"{index_dir}/v{frm}"
        meta = build_token_index(
            spark, table_dir, index_dir,
            text_col=meta["text_col"], pattern=meta["pattern"],
        )
        if not keep_old and frm != meta["snapshot"]:
            fsio.delete_dir(old)
        return meta
    new_parts = sorted(
        set(snapshot_part_ids(table_dir, to))
        - set(snapshot_part_ids(table_dir, frm))
    )
    old = spark.read.parquet(f"{index_dir}/v{frm}")
    if new_parts:
        delta = _postings(
            decode_table(spark, table_dir, columns=[meta["text_col"]],
                         part_ids=new_parts, with_positions=True),
            meta["text_col"], meta["pattern"],
        )
        merged = old.unionByName(delta)
    else:
        merged = old
    merged.write.mode("overwrite").parquet(f"{index_dir}/v{to}")
    meta["snapshot"] = to
    meta["dataset_sha256"] = read_summary(spark, table_dir).get(
        "dataset_sha256"
    )
    meta["snapshot_sha"] = snapshot_dataset_sha(table_dir, to)
    fsio.write_bytes_atomic(
        _meta_path(index_dir), json.dumps(meta).encode(),
        token=str(os.getpid()),
    )
    if not keep_old and frm != to:
        fsio.delete_dir(f"{index_dir}/v{frm}")
    return meta


def lookup_parts(index_dir: str, token: str) -> list[int]:
    """Posting lookup: the partitions that MAY contain ``token`` —
    a filtered read of the (small) index parquet via pyarrow, no Spark
    job. O(index), which is metadata-sized next to the corpus."""
    import pyarrow.dataset as pads

    meta = json.loads(fsio.read_bytes(_meta_path(index_dir)))
    ds = pads.dataset(f"{index_dir}/v{meta['snapshot']}", format="parquet")
    t = ds.to_table(columns=["part_id"],
                    filter=pads.field("token") == token)
    return sorted(set(t["part_id"].to_pylist()))


def search_token(
    spark: SparkSession,
    table_dir: str,
    index_dir: str,
    token: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Exact search: posting lookup → partition-pruned decode → residual
    token predicate. Equal to filtering a full decode (pinned by test
    and oracle), at the IO cost of only the posting partitions."""
    return search_all_tokens(spark, table_dir, index_dir, [token],
                             columns=columns)


def search_all_tokens(
    spark: SparkSession,
    table_dir: str,
    index_dir: str,
    tokens: list[str],
    columns: list[str] | None = None,
) -> DataFrame:
    """Conjunctive (AND) search: rows containing EVERY token. The
    pruning set is the INTERSECTION of the tokens' posting lists — each
    extra term can only shrink the partitions decoded — and the residual
    predicate re-checks every token exactly."""
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.manifest import read_summary

    if not tokens:
        raise ValueError("search needs at least one token")
    meta = json.loads(fsio.read_bytes(_meta_path(index_dir)))
    text_col = meta["text_col"]
    want = columns if columns is not None else list(
        read_summary(spark, table_dir)["columns"]
    )
    need = want if text_col in want else [*want, text_col]
    parts: set[int] | None = None
    for t in tokens:
        parts = (set(lookup_parts(index_dir, t)) if parts is None
                 else parts & set(lookup_parts(index_dir, t)))
        if not parts:
            break
    pred = token_matches(text_col, tokens[0], meta["pattern"])
    for t in tokens[1:]:
        pred = pred & token_matches(text_col, t, meta["pattern"])
    if not parts:
        return decode_table(spark, table_dir, columns=need).where(
            F.lit(False)
        ).select(*want)
    df = decode_table(spark, table_dir, columns=need,
                      part_ids=sorted(parts))
    return df.where(pred).select(*want)
