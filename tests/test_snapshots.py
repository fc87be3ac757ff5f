"""Snapshot lifecycle: versioned manifest commits, time-travel decode,
rollback, expiry, vacuum — the Iceberg-style metadata layer over the
chunk store (manifest.py). Committed chunk partitions are immutable
(appends mint fresh part ids), which is the invariant every test here
leans on: an old snapshot's part-id set IS the old table.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture()
def ds(spark, docs, tmp_path):
    """base (even doc_id) encoded as snapshot 1, delta (odd) appended as
    snapshot 2."""
    from fhirflat_spark.encode import append_table, encode_table

    out = str(tmp_path / "ds")
    base = docs.where(F.col("doc_id") % 2 == 0)
    delta = docs.where(F.col("doc_id") % 2 == 1)
    encode_table(base, out, rows_per_bucket=500)
    append_table(delta, out, rows_per_bucket=500)
    return out, base, delta


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_time_travel_decode(spark, ds):
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.manifest import current_snapshot, list_snapshots

    out, base, delta = ds
    assert current_snapshot(out) == 2
    assert _same_rows(decode_table(spark, out, snapshot=1), base)
    assert _same_rows(decode_table(spark, out, snapshot=2),
                      base.unionByName(delta))
    log = {r["version"]: r for r in list_snapshots(spark, out).collect()}
    assert log[1]["rows"] == base.count() and not log[1]["is_current"]
    assert log[2]["rows"] == base.count() + delta.count()
    assert log[2]["is_current"]


def test_snapshot_decode_composes_with_column_pruning(spark, ds):
    from fhirflat_spark.decode import decode_table

    out, base, _ = ds
    one = decode_table(spark, out, columns=["lang"], snapshot=1)
    assert one.columns == ["lang"]
    assert one.count() == base.count()


def test_rollback_restores_and_preserves_history(spark, ds):
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.manifest import current_snapshot, rollback

    out, base, delta = ds
    info = rollback(spark, out, 1)
    assert info["restored"] == 1 and info["snapshot"] == 3
    assert current_snapshot(out) == 3
    # current view = snapshot-1 contents, even though the rolled-back
    # chunk dirs still exist on disk (not yet vacuumed)
    assert _same_rows(decode_table(spark, out), base)
    # history is preserved: the rolled-back snapshot stays readable
    assert _same_rows(decode_table(spark, out, snapshot=2),
                      base.unionByName(delta))


def test_metadata_commits_record_the_previous_head_as_parent(spark, ds):
    """A delete, a partition drop, a stats update and a rollback each
    record the head they were built on as their parent — not the parent
    stamped in the manifest they recommit (which made a metadata commit
    on v1 record no parent at all)."""
    from fhirflat_spark.manifest import (
        commit_partition_drop,
        commit_stats_update,
        delete_rows,
        list_snapshots,
        rollback,
        snapshot_part_ids,
    )

    out, base, _ = ds
    pids = snapshot_part_ids(out, 2)
    doc = base.select("doc_id").first()["doc_id"]
    commits = [
        lambda: delete_rows(spark, out, "doc_id", [doc]),
        lambda: commit_partition_drop(spark, out, {pids[-1]}),
        lambda: commit_stats_update(spark, out, {pids[0]: (None, None)}),
        lambda: rollback(spark, out, 1),
    ]
    infos = [commit() for commit in commits]
    parents = {r["version"]: r["parent"]
               for r in list_snapshots(spark, out).collect()}
    assert parents == {1: None, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5}
    assert [i["snapshot"] for i in infos] == [3, 4, 5, 6]
    assert all(i["attempts"] == 1 for i in infos)


def test_append_after_rollback_does_not_rewrite_history(spark, ds):
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.encode import append_table
    from fhirflat_spark.manifest import (
        current_snapshot,
        rollback,
        snapshot_part_ids,
    )

    out, base, delta = ds
    dropped = set(snapshot_part_ids(out, 2)) - set(snapshot_part_ids(out, 1))
    rollback(spark, out, 1)
    delta2 = delta.where(F.col("doc_id") < 100)
    res = append_table(delta2, out, rows_per_bucket=500)
    # the re-merged manifest covers base + new delta only — the
    # rolled-back partitions' fragments must not resurrect
    assert res.rows == base.count() + delta2.count()
    cur_ids = set(snapshot_part_ids(out, current_snapshot(out)))
    # new ids minted PAST every snapshot-referenced id: reusing a
    # dropped-but-retained id would overwrite snapshot-2's history
    assert not (cur_ids & dropped)
    assert _same_rows(decode_table(spark, out),
                      base.unionByName(delta2))
    assert _same_rows(decode_table(spark, out, snapshot=2),
                      base.unionByName(delta))


def test_vacuum_reclaims_expired_fragments(spark, ds):
    """Fragments outlive rollbacks (rollback-forward needs them) but not
    their last referencing snapshot: expire + vacuum must reclaim them
    with the chunk dirs."""
    import glob

    from fhirflat_spark.manifest import (
        expire_snapshots,
        rollback,
        snapshot_part_ids,
        vacuum,
    )

    out, base, delta = ds
    dropped = set(snapshot_part_ids(out, 2)) - set(snapshot_part_ids(out, 1))
    rollback(spark, out, 1)
    # rolled back but still retained → fragments must survive
    frags = {int(p.split("/")[-1][:-5])
             for p in glob.glob(f"{out}/manifest_parts/*.json")}
    assert dropped <= frags
    expire_snapshots(out, keep_last=1)
    vacuum(spark, out)
    frags = {int(p.split("/")[-1][:-5])
             for p in glob.glob(f"{out}/manifest_parts/*.json")}
    assert not (dropped & frags)  # expired with their snapshot
    assert frags == set(snapshot_part_ids(out, 3))  # current head intact


def test_append_after_rollback_forward_preserves_partitions(spark, ds):
    """Rollback BACK then FORWARD, then append: the append's fragment
    merge must reproduce the forward-restored snapshot's partitions.
    Found by the lifecycle fuzzer: the old rollback sweep deleted the
    fragments of every partition outside the restored set, so a later
    rollback onto a retained snapshot left its unique partitions with
    no chunk-level metadata and the next append silently dropped them.
    Fragments now live as long as ANY retained snapshot references
    them; appends filter to head-reachable pids at merge time."""
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.encode import append_table
    from fhirflat_spark.manifest import rollback

    out, base, delta = ds  # v1 = base, v2 = base+delta
    rollback(spark, out, 1)   # v3: back to base
    rollback(spark, out, 2)   # v4: FORWARD onto base+delta
    assert _same_rows(decode_table(spark, out), base.unionByName(delta))
    delta2 = delta.where(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 100_000
    )
    res = append_table(delta2, out, rows_per_bucket=500)
    assert res.rows == base.count() + delta.count() + delta2.count()
    assert _same_rows(
        decode_table(spark, out),
        base.unionByName(delta).unionByName(delta2),
    )


def test_append_heals_crashed_rollback_fragment_sweep(spark, ds):
    """Rollback commits first, sweeps fragments second; a crash between
    the two leaves fragments for rolled-back pids that OLDER retained
    snapshots still reference (so the ≥offset/unreferenced rule never
    catches them). The next append must sweep by reachability from the
    current head, or the fragment merge silently resurrects the
    rolled-back rows (round-4 advice, manifest.py rollback)."""
    import glob

    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.encode import append_table
    from fhirflat_spark.manifest import rollback

    out, base, delta = ds
    # snapshot every fragment, roll back, then restore the pre-rollback
    # fragment set = exactly the on-disk state of a crashed sweep
    frag_dir = f"{out}/manifest_parts"
    saved = {
        p: open(p, "rb").read() for p in glob.glob(f"{frag_dir}/*.json")
    }
    rollback(spark, out, 1)
    for p, blob in saved.items():
        with open(p, "wb") as f:
            f.write(blob)
    delta2 = delta.where(F.col("doc_id") < 100)
    res = append_table(delta2, out, rows_per_bucket=500)
    assert res.rows == base.count() + delta2.count()
    assert _same_rows(decode_table(spark, out), base.unionByName(delta2))


def test_expire_and_vacuum_reclaim_unreferenced_partitions(spark, ds):
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.manifest import (
        expire_snapshots,
        rollback,
        snapshot_part_ids,
        vacuum,
    )

    out, base, delta = ds
    dropped = sorted(
        set(snapshot_part_ids(out, 2)) - set(snapshot_part_ids(out, 1))
    )
    rollback(spark, out, 1)
    # nothing reclaimable while snapshot 2 still references the parts
    assert vacuum(spark, out) == []
    expired = expire_snapshots(out, keep_last=1)
    assert 2 in expired
    assert vacuum(spark, out) == dropped
    for pid in dropped:
        assert not os.path.exists(f"{out}/chunks/part_id={pid}")
    assert _same_rows(decode_table(spark, out), base)


def test_expire_keeps_current(spark, ds):
    from fhirflat_spark.manifest import (
        current_snapshot,
        expire_snapshots,
        snapshot_manifest_path,
    )
    from fhirflat_spark import fsio

    out, *_ = ds
    expire_snapshots(out, keep_last=1)
    assert fsio.exists(snapshot_manifest_path(out, current_snapshot(out)))
    assert not fsio.exists(snapshot_manifest_path(out, 1))


def test_uncommitted_chunk_dir_is_invisible(spark, ds):
    """The table IS what the manifest says: a chunk directory from a
    crashed run (present on disk, absent from the manifest) must not
    leak into decode."""
    from fhirflat_spark.decode import decode_table

    out, base, delta = ds
    n = decode_table(spark, out).count()
    src = f"{out}/chunks/part_id=0"
    shutil.copytree(src, f"{out}/chunks/part_id=9000")
    assert decode_table(spark, out).count() == n
    shutil.rmtree(f"{out}/chunks/part_id=9000")


def test_transcode_after_rollback_excludes_orphans(spark, ds, tmp_path):
    """transcode must honor the manifest like decode does: chunk dirs a
    rollback orphaned (still on disk pre-vacuum) must not resurrect
    into the destination table."""
    from fhirflat_spark.decode import decode_table, transcode_table
    from fhirflat_spark.manifest import read_summary, rollback

    out, base, delta = ds
    rollback(spark, out, 1)
    dst = str(tmp_path / "ds9")
    transcode_table(spark, out, dst, profile="archive")
    assert _same_rows(decode_table(spark, dst), base)
    assert read_summary(spark, dst)["rows"] == base.count()


def test_rollback_drops_stale_key_count_stats(spark, tmp_path):
    """The dropped append's key-count stats fragment must go with it —
    otherwise the next append plans buckets against phantom keys."""
    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.encode import append_table, encode_table
    from fhirflat_spark.manifest import load_key_counts, rollback

    out = str(tmp_path / "ds")
    df1 = gen_spark(spark, 2000, seed=71)
    df2 = gen_spark(spark, 1000, seed=72)
    encode_table(df1, out, rows_per_bucket=500)
    append_table(df2, out, rows_per_bucket=500)
    assert sum(c for _, c in load_key_counts(out)) == 3000
    rollback(spark, out, 1)
    assert sum(c for _, c in load_key_counts(out)) == 2000


def test_fresh_encode_resets_snapshot_history(spark, docs, tmp_path):
    from fhirflat_spark.encode import encode_table
    from fhirflat_spark.manifest import current_snapshot, list_snapshots

    out = str(tmp_path / "ds")
    encode_table(docs.limit(100), out, rows_per_bucket=500)
    encode_table(docs.limit(200), out, rows_per_bucket=500)
    # overwrite = a new table: exactly one snapshot, version restarts
    assert current_snapshot(out) == 1
    assert list_snapshots(spark, out).count() == 1


# ---------------------------------------------------------------- tags


def test_tag_create_resolve_decode(spark, ds):
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.manifest import create_tag, list_refs, resolve_snapshot

    out, base, delta = ds
    assert create_tag(out, "corpus-v1", 1) == 1
    assert create_tag(out, "latest.cut") == 2  # default = current
    assert list_refs(out) == {"corpus-v1": 1, "latest.cut": 2}
    assert resolve_snapshot(out, "corpus-v1") == 1
    assert resolve_snapshot(out, "2") == 2  # int-string stays a version
    assert _same_rows(decode_table(spark, out, snapshot="corpus-v1"), base)
    assert _same_rows(
        decode_table(spark, out, snapshot="latest.cut"),
        base.unionByName(delta),
    )
    # named source honors tag options too
    from fhirflat_spark.sources.datasource import register

    register(spark)
    via_source = (
        spark.read.format("fhirflat")
        .option("snapshot", "corpus-v1")
        .load(out)
    )
    assert _same_rows(via_source.select(*base.columns), base)


def test_tags_are_immutable_and_validated(spark, ds):
    from fhirflat_spark.manifest import create_tag, drop_tag, resolve_snapshot

    out, _, _ = ds
    create_tag(out, "pin", 1)
    create_tag(out, "pin", 1)  # idempotent re-tag of the same version
    with pytest.raises(ValueError, match="drop it first"):
        create_tag(out, "pin", 2)
    with pytest.raises(ValueError, match="invalid tag name"):
        create_tag(out, "bad name!", 1)
    with pytest.raises(ValueError, match="no such snapshot to tag"):
        create_tag(out, "ghost", 99)
    with pytest.raises(ValueError, match="no such snapshot tag"):
        resolve_snapshot(out, "never-made")
    with pytest.raises(ValueError, match="no such tag"):
        drop_tag(out, "never-made")


def test_tagged_snapshot_survives_expiry(spark, ds):
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.manifest import (
        create_tag,
        drop_tag,
        expire_snapshots,
        list_snapshots,
    )

    out, base, _ = ds
    create_tag(out, "keep-forever", 1)
    assert expire_snapshots(out, keep_last=1) == []  # tag protects v1
    versions = [r["version"] for r in list_snapshots(spark, out).collect()]
    assert versions == [1, 2]
    assert _same_rows(decode_table(spark, out, snapshot="keep-forever"), base)
    drop_tag(out, "keep-forever")
    assert expire_snapshots(out, keep_last=1) == [1]  # released
    versions = [r["version"] for r in list_snapshots(spark, out).collect()]
    assert versions == [2]


def test_expire_older_than_restricts(spark, ds):
    """Time-based expiry (Iceberg older_than): the age cutoff RESTRICTS
    the count-based set — a snapshot committed after the cutoff
    survives even outside the keep window; unstamped ages never
    expire; keep_last stays the floor."""
    import datetime as dt

    from fhirflat_spark.manifest import (
        expire_snapshots,
        list_snapshots,
        snapshot_committed_at,
    )

    out, _base, _delta = ds
    t1 = snapshot_committed_at(out, 1)
    assert t1 is not None
    # cutoff BEFORE snapshot 1's commit: nothing is old enough
    before = dt.datetime.fromtimestamp(
        (t1 - 5_000_000) / 1e6, tz=dt.timezone.utc
    )
    assert expire_snapshots(out, keep_last=1, older_than=before) == []
    # epoch-seconds and ISO forms parse too
    assert expire_snapshots(out, keep_last=1,
                            older_than=(t1 - 5_000_000) / 1e6) == []
    # cutoff in the future: the count-based rule applies unchanged,
    # but keep_last still floors retention
    future = dt.datetime.now(dt.timezone.utc) + dt.timedelta(days=1)
    assert expire_snapshots(out, keep_last=2, older_than=future) == []
    assert expire_snapshots(out, keep_last=1, older_than=future) == [1]
    versions = [r["version"] for r in list_snapshots(spark, out).collect()]
    assert versions == [2]
