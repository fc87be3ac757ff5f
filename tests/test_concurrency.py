"""Optimistic concurrency on snapshot commits: the versioned manifest is
CREATED exclusively (fsio.write_bytes_exclusive — one winner per version),
data commits surface CommitConflictError instead of silently erasing a
racing writer's snapshot, metadata-only commits (deletes, partition
drops, stats updates, rollback) auto-retry on the head they lose to, the
advisory current-manifest copy self-heals if its writes raced a newer
committer, and the summary totals always describe the head."""

from __future__ import annotations

import hashlib
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import fhirflat_spark.manifest as mf
from fhirflat_spark import fsio
from fhirflat_spark.manifest import (
    CommitConflictError,
    _advance_current,
    active_delete_files,
    commit_partition_drop,
    commit_stats_update,
    current_snapshot,
    read_snapshot_manifest,
    read_summary,
    rollback,
    snapshot_dataset_sha,
    snapshot_manifest_path,
    snapshot_parent,
    snapshot_part_ids,
    write_manifest,
    write_summary,
)


@pytest.fixture()
def ds(spark, tmp_path):
    from fhirflat_spark.encode import encode_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "ds")
    encode_table(docs, out, rows_per_bucket=500)
    return out, docs


def test_write_bytes_exclusive_local(tmp_path):
    p = str(tmp_path / "x.txt")
    fsio.write_bytes_exclusive(p, b"winner")
    with pytest.raises(FileExistsError):
        fsio.write_bytes_exclusive(p, b"loser")
    assert fsio.read_bytes(p) == b"winner"
    # the loser's tmp file must not linger (a leaked .xtmp would make
    # list_files-driven maintenance see phantom entries)
    assert fsio.list_files(str(tmp_path)) == ["x.txt"]


def test_write_bytes_exclusive_registered_scheme(tmp_path):
    from pyarrow import fs as pafs

    fsio.register_filesystem(
        "mem", pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    )
    try:
        fsio.write_bytes_exclusive("mem://a/b.txt", b"one")
        with pytest.raises(FileExistsError):
            fsio.write_bytes_exclusive("mem://a/b.txt", b"two")
        assert fsio.read_bytes("mem://a/b.txt") == b"one"
    finally:
        fsio.register_filesystem("mem", None)


def test_data_commit_conflict_raises_and_preserves_winner(
    spark, ds, monkeypatch
):
    """A writer whose snapshot read went stale (a concurrent committer
    won its version) must raise CommitConflictError and leave the
    winner's snapshot untouched — never overwrite it."""
    import fhirflat_spark.manifest as mf
    from fhirflat_spark.encode import append_table

    out, docs = ds
    assert current_snapshot(out) == 1
    winner = read_snapshot_manifest(out, 1)
    # simulate: this append's commit minted v1 from a stale listing
    # while v1 already exists on disk (version minting reads the
    # listing, so staleness is injected at _next_version)
    monkeypatch.setattr(mf, "_next_version", lambda d: 1)
    with pytest.raises(CommitConflictError):
        append_table(docs.limit(50), out, rows_per_bucket=500)
    monkeypatch.undo()
    assert read_snapshot_manifest(out, 1).equals(winner)


def test_concurrent_deletes_all_commit(spark, ds):
    """N threads issuing row-level deletes against the same table race
    on version minting; auto-retry must land every one as its own
    snapshot with the full delete set active."""
    out, docs = ds
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.manifest import delete_rows

    ids = [r.doc_id for r in docs.select("doc_id").limit(4).collect()]
    errs: list[Exception] = []
    barrier = threading.Barrier(len(ids))

    def run(v):
        try:
            barrier.wait(timeout=60)
            delete_rows(spark, out, "doc_id", [v])
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    ts = [threading.Thread(target=run, args=(v,)) for v in ids]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert current_snapshot(out) == 1 + len(ids)
    active = active_delete_files(out)
    assert len(active) == len(ids)
    # every commit kept its own keys file — a shared/overwritten name
    # would alias two deletes to one key set
    assert len({e["file"] for e in active}) == len(ids)
    got = {r.doc_id for r in decode_table(spark, out).select("doc_id").collect()}
    assert got == {r.doc_id for r in docs.select("doc_id").collect()} - set(ids)


def test_advance_current_self_heals_regression(spark, ds):
    """Re-publishing an OLD version through _advance_current (the racy
    current-copy write) must detect the newer committed snapshot and
    leave the copy + hint at the newest version."""
    out, docs = ds
    from fhirflat_spark.encode import append_table

    append_table(docs.limit(100), out, rows_per_bucket=500)
    assert current_snapshot(out) == 2
    newest = read_snapshot_manifest(out, 2)
    _advance_current(out, 1, read_snapshot_manifest(out, 1), token="t")
    assert fsio.read_bytes(
        f"{out}/snapshots/version-hint.txt"
    ).decode().strip() == "2"
    assert fsio.read_parquet(f"{out}/manifest/manifest.parquet").equals(newest)


def test_exclusive_snapshot_create_is_the_gate(ds):
    """The versioned manifest path itself refuses a second creation —
    the CAS every commit site goes through."""
    out, _ = ds
    p = snapshot_manifest_path(out, 1)
    with pytest.raises(FileExistsError):
        fsio.write_bytes_exclusive(p, b"imposter")


def _synthetic_table(out: str, n_parts: int = 4, rows: int = 100) -> str:
    """A committed v1 table of ``n_parts`` one-chunk partitions built from
    synthetic chunk-meta rows — manifest, snapshot and summary exactly as
    an encode commits them, with no chunk files and no Spark job."""
    meta_rows = [
        {"part_id": p, "chunk_seq": 0, "n_rows": rows, "raw_bytes": 1000,
         "encoded_bytes": 400, "repo_min": None, "repo_max": None,
         "content_sha": hashlib.sha256(str(p).encode()).hexdigest()}
        for p in range(n_parts)
    ]
    write_manifest(None, out, meta_rows)
    schema = T.StructType([T.StructField("doc_id", T.LongType())])
    write_summary(None, out, ["doc_id"], spark_schema=schema.json())
    return out


def _assert_summary_is_head(out: str) -> None:
    head = current_snapshot(out)
    t = read_snapshot_manifest(out, head)
    s = read_summary(None, out)
    assert s["rows"] == sum(t["rows"].to_pylist())
    assert s["num_partitions"] == t.num_rows
    assert s["dataset_sha256"] == snapshot_dataset_sha(out, head)


def _once(fn):
    """Run ``fn`` the first time the returned hook fires, never again
    (the hooked function is re-entered by ``fn`` itself)."""
    fired = []

    def hook():
        if not fired:
            fired.append(True)
            fn()
    return hook


def test_stats_update_cannot_undo_a_racing_drop(tmp_path, monkeypatch):
    """Lost update: a partition drop commits while a stats update is in
    flight. The stats update must build on the drop's snapshot — built
    on the manifest it read before minting its version, it would win
    that version and resurrect the dropped partitions."""
    out = _synthetic_table(str(tmp_path / "t"))
    res = {}
    drop = _once(lambda: res.update(
        drop=commit_partition_drop(None, out, {0, 1})))
    stats_thread = threading.Thread(target=lambda: res.update(
        stats=commit_stats_update(None, out, {2: ("{}", None)})))
    real = mf._next_version

    def next_version(d):
        if threading.current_thread() is stats_thread:
            drop()
        return real(d)

    monkeypatch.setattr(mf, "_next_version", next_version)
    stats_thread.start()
    stats_thread.join(60)
    head = current_snapshot(out)
    assert res["drop"]["snapshot"] == 2
    assert res["stats"]["snapshot"] == head == 3
    assert sorted(snapshot_part_ids(out, head)) == [2, 3]
    assert snapshot_parent(out, head) == 2
    assert read_snapshot_manifest(out, head)["col_hlls"].to_pylist() == [
        "{}", None
    ]
    _assert_summary_is_head(out)


def test_summary_follows_a_head_that_moved_mid_write(tmp_path, monkeypatch):
    """Stale summary: a rollback commits (and writes its summary) after
    a partition drop committed but before the drop wrote its summary.
    The summary must end on the head's totals, not the drop's."""
    out = _synthetic_table(str(tmp_path / "t"))
    real = mf.read_summary
    roll = _once(lambda: rollback(None, out, 1))

    def read_summary_hook(spark, d):
        roll()
        return real(spark, d)

    monkeypatch.setattr(mf, "read_summary", read_summary_hook)
    assert commit_partition_drop(None, out, {0, 1})["snapshot"] == 2
    assert current_snapshot(out) == 3
    s = read_summary(None, out)
    assert (s["rows"], s["num_partitions"]) == (400, 4)
    _assert_summary_is_head(out)


def test_data_commit_summary_follows_a_later_drop(spark, ds, monkeypatch):
    """Stale summary after a DATA commit: a partition drop commits (and
    writes its summary) after an append's snapshot but before the append
    writes its summary. The append's summary must end on the head's
    totals, not on those of the manifest it committed."""
    from fhirflat_spark.encode import append_table

    out, docs = ds
    real = mf.write_manifest
    dropped = {}

    def write_manifest_hook(*args, **kwargs):
        stats = real(*args, **kwargs)
        dropped.update(commit_partition_drop(None, out, {0}))
        return stats

    monkeypatch.setattr(mf, "write_manifest", write_manifest_hook)
    append_table(docs.where(F.col("doc_id") < 20), out, rows_per_bucket=500)
    assert dropped["snapshot"] == current_snapshot(out) == 3
    assert 0 not in snapshot_part_ids(out, 3)
    _assert_summary_is_head(out)


def test_racing_metadata_commits_form_one_lineage(spark, tmp_path):
    """A delete, a partition drop and a stats update released together
    each land as their own snapshot, chained parent to parent back to v1
    with no gap — so none was built on a head another one replaced —
    and the summary describes the final head."""
    out = _synthetic_table(str(tmp_path / "t"))
    ops = [
        lambda: mf.delete_rows(spark, out, "doc_id", [7]),
        lambda: commit_partition_drop(spark, out, {0}),
        lambda: commit_stats_update(spark, out, {1: ("{}", None)}),
    ]
    barrier = threading.Barrier(len(ops))
    got, errs = [], []

    def run(op):
        try:
            barrier.wait(timeout=60)
            got.append(op())
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    ts = [threading.Thread(target=run, args=(op,)) for op in ops]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert sorted(g["snapshot"] for g in got) == [2, 3, 4]
    head = current_snapshot(out)
    chain = [head]
    while chain[-1] not in (1, None):
        chain.append(snapshot_parent(out, chain[-1]))
    assert chain == [4, 3, 2, 1]
    t = read_snapshot_manifest(out, head)
    assert t["part_id"].to_pylist() == [1, 2, 3]
    assert t["col_hlls"].to_pylist()[0] == "{}"
    assert len(active_delete_files(out, head)) == 1
    _assert_summary_is_head(out)


def test_metadata_commit_reports_attempts(tmp_path, monkeypatch):
    """A metadata commit that loses one version race retries once and
    says so: ``attempts`` counts the create attempts it took."""
    out = _synthetic_table(str(tmp_path / "t"))
    real = mf._next_version
    minted = []

    def next_version(d):
        minted.append(real(d) if minted else 1)  # first mint collides
        return minted[-1]

    monkeypatch.setattr(mf, "_next_version", next_version)
    info = commit_partition_drop(None, out, {0})
    assert minted == [1, 2]
    assert info["snapshot"] == 2 and info["attempts"] == 2
    assert commit_stats_update(None, out, {1: ("{}", None)})["attempts"] == 1
