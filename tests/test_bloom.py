"""Per-chunk Bloom filters (fhirflat_spark/bloom.py): point-lookup chunk
pruning for unsorted high-cardinality keys, probed in the reader task
over the hex bit set in chunk stats before any payload is read.

Invariants: never a false negative (pruning is always safe), probe
positions computed by the driver's pure-python path are byte-identical
to the numpy encode path, and the reader's chunk probe agrees with the
python ``might_contain`` oracle.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from fhirflat_spark import bloom as B


def test_np_py_hash_parity():
    vals = [f"k-{i:06d}" + "x" * (i % 90) for i in range(3000)]
    from fhirflat_spark.codecs.core import string_parts

    lengths, data = string_parts(pa.array(vals))
    h_np = B._fnv1a_np(lengths, data)
    for i in range(0, len(vals), 97):
        assert int(h_np[i]) == B._fnv1a_py(vals[i].encode())


def test_no_false_negatives_and_bounded_fpr():
    vals = [f"commit-{i:08x}" for i in range(16384)]
    hx = B.bloom_hex(pa.array(vals))
    assert all(B.might_contain(hx, v) for v in vals[::37])
    absent = [f"absent-{i:08x}" for i in range(4000)]
    fpr = sum(B.might_contain(hx, a) for a in absent) / len(absent)
    assert fpr < 0.1  # design point ~2% at 8 bits/key


def test_hex_probe_maps_bits_exactly():
    # set exactly the probe bits of one value; every probed char must
    # contain its bit and a single-bit flip must break membership
    hx = B.bloom_hex(pa.array(["only-value"]))
    for pos in B.probe_positions("only-value"):
        char_idx, chars = B.hex_probe(pos)
        assert hx[char_idx] in chars
    assert B.might_contain(hx, "only-value")


def test_nulls_and_empty_chunks():
    assert B.bloom_hex(pa.array([], type=pa.string())) is None
    assert B.bloom_hex(pa.array([None, None], type=pa.string())) is None
    hx = B.bloom_hex(pa.array(["a", None, "b"]))
    assert B.might_contain(hx, "a") and B.might_contain(hx, "b")


@pytest.fixture()
def bloomed(spark, tmp_path):
    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.encode import encode_table

    df = gen_spark(spark, 12000, seed=55)
    out = str(tmp_path / "ds")
    encode_table(df, out, rows_per_bucket=2000, bloom_columns=["commit"])
    return out, df


def test_point_filter_exact_and_conservative(spark, bloomed):
    from fhirflat_spark.decode import decode_table

    out, df = bloomed
    probe = df.select("commit").limit(1).collect()[0][0]
    truth = df.where(F.col("commit") == probe).count()
    hit = decode_table(spark, out, point_filter=("commit", probe))
    # conservative: residual filter gives the exact answer
    assert hit.where(F.col("commit") == probe).count() == truth
    # and the pruned read is a strict subset of the table
    assert hit.count() < df.count()


def test_point_filter_absent_key_prunes_hard(spark, bloomed):
    from fhirflat_spark.decode import decode_table

    out, df = bloomed
    miss = decode_table(
        spark, out, point_filter=("commit", "0000-definitely-absent")
    )
    # every chunk is a true negative or one of the ~2% false positives
    assert miss.count() < df.count() * 0.3


def test_point_filter_requires_bloomed_column(spark, bloomed):
    from fhirflat_spark.decode import decode_table

    out, _ = bloomed
    with pytest.raises(ValueError, match="no Bloom filter"):
        decode_table(spark, out, point_filter=("lang", "x"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from fhirflat_spark.encode import encode_table

    with pytest.raises(ValueError, match="must be a string"):
        encode_table(docs.limit(10), "/tmp/_bloom_bad",
                     bloom_columns=["n_chars"])
    with pytest.raises(ValueError, match="not in encoded columns"):
        encode_table(docs.limit(10), "/tmp/_bloom_bad",
                     bloom_columns=["nope"])


def test_append_and_transcode_preserve_blooms(spark, bloomed, tmp_path):
    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.decode import decode_table, transcode_table
    from fhirflat_spark.encode import append_table

    out, df = bloomed
    delta = gen_spark(spark, 4000, seed=56)
    append_table(delta, out, rows_per_bucket=2000)
    probe = delta.select("commit").limit(1).collect()[0][0]
    truth = (
        df.where(F.col("commit") == probe).count()
        + delta.where(F.col("commit") == probe).count()
    )
    hit = decode_table(spark, out, point_filter=("commit", probe))
    assert hit.where(F.col("commit") == probe).count() == truth

    dst = str(tmp_path / "ds9")
    transcode_table(spark, out, dst, profile="archive")
    h2 = decode_table(spark, dst, point_filter=("commit", probe))
    assert h2.where(F.col("commit") == probe).count() == truth


def test_direct_append_inherits_blooms(spark, bloomed):
    """The streaming sink appends via encode_table directly with no
    bloom_columns — the dataset's bloom columns must be inherited, not
    silently dropped from the new chunks and the rewritten summary."""
    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.encode import encode_table
    from fhirflat_spark.manifest import read_summary

    out, df = bloomed
    delta = gen_spark(spark, 3000, seed=57)
    encode_table(delta, out, rows_per_bucket=2000, append=True,
                 part_offset=10_000)
    assert read_summary(spark, out)["bloom_columns"] == ["commit"]
    probe = delta.select("commit").limit(1).collect()[0][0]
    truth = (
        df.where(F.col("commit") == probe).count()
        + delta.where(F.col("commit") == probe).count()
    )
    hit = decode_table(spark, out, point_filter=("commit", probe))
    assert hit.where(F.col("commit") == probe).count() == truth


def test_compaction_preserves_blooms(spark, bloomed, tmp_path):
    """A maintenance rewrite must not delete the point-lookup
    capability."""
    from fhirflat_spark.decode import compact_table, decode_table
    from fhirflat_spark.manifest import read_summary

    out, df = bloomed
    dst = str(tmp_path / "compacted")
    compact_table(spark, out, dst, rows_per_bucket=4000)
    assert read_summary(spark, dst)["bloom_columns"] == ["commit"]
    probe = df.select("commit").limit(1).collect()[0][0]
    hit = decode_table(spark, dst, point_filter=("commit", probe))
    assert (
        hit.where(F.col("commit") == probe).count()
        == df.where(F.col("commit") == probe).count()
    )


def test_bloom_predicate_agrees_with_python_oracle(spark, bloomed):
    """The reader task's chunk probe (``_bloom_keeps``) and might_contain
    must agree chunk-by-chunk for present and absent probes, and the
    reader keeps exactly the chunks the oracle keeps."""
    import json

    from fhirflat_spark.decode import read_chunks
    from fhirflat_spark.manifest import table_view
    from fhirflat_spark.sources.datasource import _bloom_keeps

    out, df = bloomed
    pids = table_view(out).part_ids

    def chunks(prune=None):
        return [
            (pid, seq, json.loads(st))
            for pid in pids
            for b in read_chunks(out, pid, meta=["chunk_seq", "stats"],
                                 prune=prune)
            for seq, st in zip(b.column("chunk_seq").to_pylist(),
                               b.column("stats").to_pylist())
        ]

    every = chunks()
    assert every
    for probe in [df.select("commit").limit(1).collect()[0][0], "nope-123"]:
        keep = [_bloom_keeps(s, "commit", [probe]) for _, _, s in every]
        oracle = [B.might_contain(s["commit"]["bloom"], probe)
                  for _, _, s in every]
        assert keep == oracle
        kept = [(p, q) for p, q, _ in
                chunks({"points": [("commit", [probe])]})]
        assert kept == [(p, q) for (p, q, _), k in zip(every, oracle) if k]