"""Persistent IVF vector index over a chunk-store table — ANN search
without a corpus scan.

"Nearest neighbors of this embedding" over a 10^9-vector corpus must not
be a full-table scan per query. This module maintains an IVF (inverted
file) index as a derived dataset of the chunk store, the same
changelog-pinned lineage pattern as ``text_index.py`` / ``dedup_index.py``:

- ``build_vector_index``: train a coarse quantizer (deterministic
  distributed Lloyd k-means, ``similarity.train_centroids``) at the
  pinned snapshot, assign every vector to its nearest centroid with ONE
  broadcast-matmul pass (``assign_cells`` — no shuffle), and store
  ``(cell, part_id, n_vecs)`` postings plus the centroid matrix.
- ``refresh_vector_index``: assign NEW partitions only, with the FROZEN
  centroids (committed partitions are immutable and the quantizer is
  pinned, so the delta is a plain posting union — refresh is bit-equal
  to assigning the whole table with the same centroids; cost ∝ appended
  data). A history reset (re-encode / compaction swap / rollback) is
  detected via the same snapshot-sha guards as the token index and
  triggers a full rebuild (retraining included).
- ``search_vectors``: score the query against the centroid matrix
  driver-side (K rows — metadata-sized), take the ``nprobe`` nearest
  cells, union their partition postings, decode ONLY those partitions,
  and exact-rescore by cosine. Results are the exact top-k within the
  probed cells (the IVF contract: recall grows with nprobe and reaches
  1.0 at nprobe=K, where it equals the brute-force answer — that
  equality is the driver oracle). Postings are an over-approximation
  under row-level deletes (a delete never shrinks postings): pruning
  may decode a partition that lost its vectors, but merge-on-read
  deletes keep the rescored result exact.

Pruning is effective when the table layout correlates with the coarse
cells — at 100 TB you cluster the table by a semantic key (the same
play as z-order for range predicates); the tests pin a label-clustered
layout where nprobe=1 touches a strict subset of partitions.
"""

from __future__ import annotations

import io
import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fhirflat_spark import fsio

_META = "vector_index.json"
_CENTROIDS = "centroids.npy"


def _meta_path(index_dir: str) -> str:
    return f"{index_dir}/{_META}"


def _write_centroids(index_dir: str, C: np.ndarray) -> None:
    buf = io.BytesIO()
    np.save(buf, np.ascontiguousarray(C, dtype=np.float64))
    fsio.write_bytes_atomic(
        f"{index_dir}/{_CENTROIDS}", buf.getvalue(), token=str(os.getpid())
    )


def load_centroids(index_dir: str) -> np.ndarray:
    return np.load(io.BytesIO(fsio.read_bytes(f"{index_dir}/{_CENTROIDS}")))


def _postings(df: DataFrame, centroids: np.ndarray,
              vector_col: str) -> DataFrame:
    """``(cell, part_id, n_vecs)`` — per partition, how many vectors
    land in each coarse cell. One assign_cells pass (broadcast matmul,
    plan size independent of K) + a partial-aggregating groupBy whose
    output is bounded by K × #partitions, never by rows."""
    from fhirflat_spark.operators.similarity import assign_cells

    assigned = assign_cells(
        df.select(F.col("__part_id").alias("part_id"), vector_col),
        centroids, vec_col=vector_col,
    )
    return assigned.groupBy("cell", "part_id").agg(
        F.count("*").cast("long").alias("n_vecs")
    )


def build_vector_index(
    spark: SparkSession,
    table_dir: str,
    index_dir: str,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    iters: int = 5,
    snapshot: int | str | None = None,
) -> dict:
    """Materialize the IVF index from the table's current snapshot (or a
    pinned version / tag via ``snapshot=``)."""
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.manifest import (
        read_summary,
        snapshot_dataset_sha,
        table_view,
    )
    from fhirflat_spark.operators.similarity import train_centroids

    view = table_view(table_dir, snapshot)
    v = view.version
    if v is None:
        raise ValueError(f"{table_dir} has no committed snapshot")
    cols = list(read_summary(spark, table_dir)["columns"])
    for c in (vector_col, id_col):
        if c not in cols:
            raise ValueError(f"column {c!r} not in table columns {cols}")
    df = decode_table(spark, table_dir, columns=[id_col, vector_col],
                      snapshot=view, with_positions=True)
    C = train_centroids(df.select(id_col, vector_col), k,
                        vec_col=vector_col, id_col=id_col, iters=iters)
    _postings(df, C, vector_col).write.mode("overwrite").parquet(
        f"{index_dir}/v{v}"
    )
    _write_centroids(index_dir, C)
    meta = {
        "snapshot": v,
        "vector_col": vector_col,
        "id_col": id_col,
        "k": int(k),
        "dim": int(C.shape[1]),
        "dataset_sha256": read_summary(spark, table_dir).get("dataset_sha256"),
        "snapshot_sha": snapshot_dataset_sha(table_dir, v),
    }
    fsio.write_bytes_atomic(
        _meta_path(index_dir), json.dumps(meta).encode(),
        token=str(os.getpid()),
    )
    return meta


def read_vector_index(spark: SparkSession, index_dir: str) -> DataFrame:
    meta = json.loads(fsio.read_bytes(_meta_path(index_dir)))
    return spark.read.parquet(f"{index_dir}/v{meta['snapshot']}")


def refresh_vector_index(
    spark: SparkSession, table_dir: str, index_dir: str,
    keep_old: bool = False,
) -> dict:
    """Advance the index to the table's current snapshot by assigning the
    NEW partitions with the frozen centroids and unioning their postings
    in. The quantizer is deliberately NOT retrained on refresh — that
    keeps refresh ≡ full assignment with the same centroids (pinned by
    test) and search semantics stable across appends; rebuild when the
    corpus distribution has drifted enough to warrant retraining."""
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
        meta = build_vector_index(
            spark, table_dir, index_dir,
            vector_col=meta["vector_col"], id_col=meta["id_col"],
            k=meta["k"],
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
            decode_table(spark, table_dir,
                         columns=[meta["vector_col"]],
                         part_ids=new_parts, with_positions=True),
            load_centroids(index_dir), meta["vector_col"],
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


def probe_cells(index_dir: str, query_vec, nprobe: int) -> list[int]:
    """The ``nprobe`` coarse cells nearest the query — a driver-side
    K-row matmul (the same L2 scoring as assignment: argmax of
    2·q·c − ‖c‖²), ties broken toward the lower cell id."""
    C = load_centroids(index_dir)
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    if q.shape[0] != C.shape[1]:
        raise ValueError(f"query dim {q.shape[0]} != index dim {C.shape[1]}")
    scores = 2.0 * (C @ q) - (C * C).sum(axis=1)
    order = np.argsort(-scores, kind="stable")
    return [int(c) for c in order[: max(1, int(nprobe))]]


def lookup_parts(index_dir: str, cells: list[int]) -> list[int]:
    """Posting lookup: the partitions holding ANY vector of ``cells`` —
    a filtered pyarrow read of the (small) postings parquet, no Spark
    job."""
    import pyarrow.dataset as pads

    meta = json.loads(fsio.read_bytes(_meta_path(index_dir)))
    ds = pads.dataset(f"{index_dir}/v{meta['snapshot']}", format="parquet")
    t = ds.to_table(columns=["part_id"],
                    filter=pads.field("cell").isin(list(cells)))
    return sorted(set(t["part_id"].to_pylist()))


DRIVER_SEARCH_ROWS = 500_000


def _candidate_rows(table_dir: str, parts: list[int]) -> int:
    """Head-snapshot row total of the posting partitions
    (metadata-only)."""
    from fhirflat_spark.manifest import table_view

    t = table_view(table_dir).manifest
    rows_of = dict(zip(t["part_id"].to_pylist(), t["rows"].to_pylist()))
    return sum(int(rows_of.get(int(p), 0)) for p in parts)


def _round_half_up4(x):
    """Spark's ``round(col, 4)`` (BigDecimal HALF_UP on the exact binary
    double) vectorized: naive scaled floor everywhere, with the rare
    near-boundary values redone exactly in decimal."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    scaled = x * 10000.0
    out = np.floor(scaled + 0.5) / 10000.0
    sus = np.abs(scaled - np.floor(scaled) - 0.5) < 1e-6
    for i in np.nonzero(sus)[0]:
        out[i] = float(
            Decimal(float(x[i])).quantize(Decimal("0.0001"),
                                          rounding=ROUND_HALF_UP)
        )
    return out


def _search_driver_side(spark, table_dir, parts, id_col, vector_col,
                        query_vec, top_k, exclude_id):
    """Point-lookup rescore with zero Spark jobs, or None to defer to
    the distributed path (active deletes, null/ragged vectors, non-
    finite cosines, null ids — the Spark plan defines those semantics)."""
    import numpy as np

    from fhirflat_spark.decode import read_parts_arrow
    from fhirflat_spark.manifest import read_summary

    try:
        t = read_parts_arrow(table_dir, parts, [id_col, vector_col])
    except (ValueError, FileNotFoundError):
        # active deletes, stale/vacuumed part ids: Spark path decides
        return None
    vecs = t.column(vector_col).combine_chunks()
    ids_arr = t.column(id_col).combine_chunks()
    if vecs.null_count or ids_arr.null_count:
        return None
    q = np.asarray([float(v) for v in query_vec], dtype=np.float64)
    # r6 (ADVICE): gate on PER-ROW lengths, not the aggregate element
    # count — compensating ragged rows (one short, one long) pass the
    # aggregate check and silently misalign every later cosine
    import pyarrow.compute as pc

    if t.num_rows and not pc.all(
        pc.equal(pc.list_value_length(vecs), len(q))
    ).as_py():
        return None  # ragged vectors
    flat = vecs.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    V = flat.reshape(t.num_rows, q.size)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = (V @ q) / (np.sqrt((V * V).sum(axis=1)) * np.sqrt(q @ q))
    if t.num_rows and not np.isfinite(cos).all():
        return None  # zero-norm rows: Spark's NULL/NaN ordering applies
    cos = _round_half_up4(cos)
    ids = ids_arr.to_pylist()
    rows = [
        (i, float(c)) for i, c in zip(ids, cos)
        if exclude_id is None or i != exclude_id
    ]
    rows.sort(key=lambda r: (-r[1], r[0]))
    summary = read_summary(None, table_dir)
    schema = T.StructType.fromJson(json.loads(summary["spark_schema"]))
    id_field = next(f for f in schema.fields if f.name == id_col)
    return spark.createDataFrame(
        rows[: int(top_k)],
        T.StructType([
            T.StructField(id_col, id_field.dataType, True),
            T.StructField("cosine", T.DoubleType(), True),
        ]),
    )


def search_vectors(
    spark: SparkSession,
    table_dir: str,
    index_dir: str,
    query_vec,
    top_k: int = 10,
    nprobe: int = 4,
    exclude_id=None,
) -> DataFrame:
    """ANN top-k: centroid probe → posting lookup → partition-pruned
    decode → exact cosine rescore (rounded to 4 places, cosine desc /
    id asc — the same contract as the brute-force baseline, which this
    EQUALS at nprobe=K; pinned by test and driver oracle).

    When the posting set is point-lookup sized (manifest row count ≤
    ``DRIVER_SEARCH_ROWS``, no active deletes) the candidates are read
    driver-side via :func:`fhirflat_spark.decode.read_parts_arrow` and
    rescored in numpy — no Spark job at all, which removes the ~0.5-1s
    fixed job cost that dominates a 2-of-N-parts probe. Result contract
    is identical (pinned against the Spark path by test); anything
    bigger runs the distributed path unchanged."""
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.operators.similarity import _cosine

    meta = json.loads(fsio.read_bytes(_meta_path(index_dir)))
    id_col, vector_col = meta["id_col"], meta["vector_col"]
    cells = probe_cells(index_dir, query_vec, nprobe)
    parts = lookup_parts(index_dir, cells)
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    if parts and _candidate_rows(table_dir, parts) <= DRIVER_SEARCH_ROWS:
        local = _search_driver_side(
            spark, table_dir, parts, id_col, vector_col, query_vec,
            top_k, exclude_id,
        )
        if local is not None:
            return local
    if not parts:
        df = decode_table(spark, table_dir,
                          columns=[id_col, vector_col]).where(F.lit(False))
    else:
        df = decode_table(spark, table_dir, columns=[id_col, vector_col],
                          part_ids=parts)
    if exclude_id is not None:
        df = df.where(F.col(id_col) != F.lit(exclude_id))
    return (
        df.select(
            id_col,
            F.round(_cosine(F.col(vector_col), qlit), 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(top_k)
    )
