"""fsio — the pyarrow.fs object-store seam for Python-side metadata IO.

These tests prove every metadata read/write path (manifest fragments,
key-count stats, summary JSON, manifest/snapshot parquet) routes through
the RESOLVED filesystem, not through local-path interpretation: a
``testfs://`` scheme is registered as a SubTreeFileSystem rooted at a
tmpdir, the metadata functions are called with ``testfs://`` dataset
URIs, and the assertions check the bytes landed under the subtree root
(a local interpretation of the URI would fail to write anywhere near
it). The chunk payloads themselves go through Spark's own
parquet sink, which speaks object stores via the Hadoop filesystems —
out of scope here by design.
"""

from __future__ import annotations

import os
import threading

import pytest
from pyarrow import fs as pafs

from fhirflat_spark import fsio


@pytest.fixture()
def testfs(tmp_path):
    root = tmp_path / "store"
    root.mkdir()
    fsio.register_filesystem(
        "testfs", pafs.SubTreeFileSystem(str(root), pafs.LocalFileSystem())
    )
    yield str(root)
    fsio.register_filesystem("testfs", None)


def test_resolve_local_and_file_prefix(tmp_path):
    for p in (str(tmp_path), f"file:{tmp_path}"):
        fs, inner = fsio.resolve(p)
        assert isinstance(fs, pafs.LocalFileSystem)
        assert inner == str(tmp_path)


def test_resolve_registered_scheme_and_s3a_alias(testfs):
    fs, inner = fsio.resolve("testfs://ds/manifest")
    assert isinstance(fs, pafs.SubTreeFileSystem)
    assert inner == "ds/manifest"
    # the Hadoop s3a:// scheme (what Spark uses for the chunk files)
    # must resolve to the same pyarrow filesystem as s3:// — tested via
    # the registry so no real S3 client is constructed
    fsio.register_filesystem("s3", fsio.resolve("testfs://x")[0])
    try:
        fs2, inner2 = fsio.resolve("s3a://bucket/ds/_SUMMARY.json")
        assert isinstance(fs2, pafs.SubTreeFileSystem)
        assert inner2 == "bucket/ds/_SUMMARY.json"
    finally:
        fsio.register_filesystem("s3", None)


def test_atomic_write_replaces_and_leaves_no_tmp(tmp_path):
    p = str(tmp_path / "meta" / "hint.txt")
    fsio.write_bytes_atomic(p, b"1")
    fsio.write_bytes_atomic(p, b"22")
    assert fsio.read_bytes(p) == b"22"
    assert os.listdir(tmp_path / "meta") == ["hint.txt"]


def test_list_files_and_dirs_missing_dir(tmp_path):
    assert fsio.list_files(str(tmp_path / "nope")) == []
    assert fsio.list_dirs(str(tmp_path / "nope")) == []


def test_key_counts_roundtrip_through_registered_fs(testfs):
    from fhirflat_spark.manifest import load_key_counts, write_key_counts

    out = "testfs://ds"
    write_key_counts(out, [("v:repoA", 10), ("n:", 3), ("o:", 99)],
                     label="000000000000")
    write_key_counts(out, [("v:repoA", 5)], label="000000000007")
    # physically under the subtree root — proves fs routing
    assert os.path.isdir(
        os.path.join(testfs, "ds", "stats", "key_count_parts")
    )
    merged = dict(load_key_counts(out))
    assert merged == {"repoA": 15, None: 3}


def test_fragment_commit_and_merge_through_registered_fs(testfs):
    from fhirflat_spark.encode import _write_fragment
    from fhirflat_spark.manifest import load_fragments

    frag_dir = "testfs://ds/manifest_parts"
    frag = [{"part_id": 7, "chunk_seq": 0, "n_rows": 5, "content_sha": "x",
             "raw_bytes": 10, "encoded_bytes": 4,
             "repo_min": "a", "repo_max": "b"}]
    _write_fragment(frag_dir, 7, frag)
    _write_fragment(frag_dir, 7, frag)  # retried task: replaces, not dups
    assert os.listdir(os.path.join(testfs, "ds", "manifest_parts")) == [
        "000007.json"
    ]
    assert load_fragments(frag_dir) == frag


def test_manifest_commit_and_summary_through_registered_fs(spark, testfs):
    from fhirflat_spark.manifest import (
        current_snapshot,
        read_summary,
        snapshot_part_ids,
        table_view,
        write_manifest,
        write_summary,
    )

    out = "testfs://ds"
    rows = [
        {"part_id": 0, "chunk_seq": 0, "n_rows": 4, "content_sha": "aa",
         "raw_bytes": 40, "encoded_bytes": 12, "repo_min": "r1",
         "repo_max": "r1"},
        {"part_id": 1, "chunk_seq": 0, "n_rows": 6, "content_sha": "bb",
         "raw_bytes": 60, "encoded_bytes": 20, "repo_min": "r2",
         "repo_max": "r2"},
    ]
    stats = write_manifest(spark, out, rows)
    assert stats["rows"] == 10 and stats["snapshot"] == 1
    assert os.path.exists(
        os.path.join(testfs, "ds", "manifest", "manifest.parquet")
    )
    assert os.path.exists(
        os.path.join(testfs, "ds", "snapshots", "version-hint.txt")
    )
    assert current_snapshot(out) == 1
    assert snapshot_part_ids(out, 1) == [0, 1]
    assert table_view(out).part_ids == [0, 1]

    write_summary(spark, out, ["a", "b"])
    assert os.path.exists(os.path.join(testfs, "ds", "_SUMMARY.json"))
    assert read_summary(spark, out)["rows"] == 10


def test_same_token_writers_in_threads_do_not_collide(tmp_path):
    """Threads of one process pass the same token (the pid) to the
    atomic and exclusive writers. An atomic write must never fail or
    leave a tmp file behind, and each exclusive create must publish
    exactly its winner's bytes while every loser sees FileExistsError."""
    target = str(tmp_path / "summary.json")
    errs, wins = [], []

    def run(i):
        try:
            for k in range(100):
                fsio.write_bytes_atomic(target, str(i).encode(), token="7")
                try:
                    fsio.write_bytes_exclusive(str(tmp_path / f"v{k}"),
                                               str(i).encode(), token="7")
                    wins.append((k, str(i).encode()))
                except FileExistsError:
                    pass
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    ts = [threading.Thread(target=run, args=(i,)) for i in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in ts)
    assert not errs
    assert sorted(k for k, _ in wins) == list(range(100))
    for k, data in wins:
        assert fsio.read_bytes(str(tmp_path / f"v{k}")) == data
    assert sorted(os.listdir(tmp_path)) == sorted(
        ["summary.json", *(f"v{k}" for k in range(100))]
    )
