"""Self-check of the correctness gates: they must catch a corrupted chunk.

Encodes a small table, runs the read gates on it (no check may fail),
then runs them on a copy in which one chunk's ``content`` payload was
replaced by a valid encoding of different text, and feeds the codec gate
a blob with one flipped byte. Passes only if the clean table has an error
rate of 0 and both corruptions drive it above 0.
"""

from __future__ import annotations

import glob
import os
import shutil

from workloads import (Run, decode_checked, expected_fingerprints, read_once,
                       read_round)

ROWS = 8192


def corrupt_one_chunk(table: str) -> str:
    """Re-encode the first ``content`` value in one chunk file of
    ``table`` with different text; the chunk stays decodable. Returns the
    file it changed."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fhirflat_spark.codecs import decode_array, encode_array

    with open(os.path.join(table, "_SUMMARY.json")) as f:
        field = f"__c{json.load(f)['columns'].index('content')}"
    path = sorted(glob.glob(os.path.join(table, "chunks", "part_id=*", "*.parquet")))[0]
    t = pq.read_table(path)
    payload = t.column("payload").combine_chunks()
    blobs = payload.field(field).to_pylist()
    values = decode_array(blobs[0])
    text = values.to_pylist()
    text[0] = "corrupted " + text[0]
    blobs[0] = encode_array(pa.array(text, values.type))
    children = [pa.array(blobs, pa.binary()) if f.name == field else payload.field(f.name)
                for f in payload.type]
    i = t.schema.get_field_index("payload")
    t = t.set_column(i, t.schema.field(i),
                     pa.StructArray.from_arrays(children, fields=list(payload.type)))
    pq.write_table(t, path)
    # drop the local file system's checksum sidecar, so that the read
    # succeeds and only the engine's own checks can notice the change
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return path


def _gates(run: Run, table: str, expect: dict, repo: str) -> tuple[int, int]:
    before = (run.attempted, run.failed)
    read_round(run, table, expect, repo)
    read_once(run, table, expect, ROWS)
    return run.attempted - before[0], run.failed - before[1]


def main(run: Run) -> int:
    import pyarrow as pa

    from fhirflat_spark.codecs import encode_array
    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.encode import encode_table
    from fhirflat_spark.sources.datasource import register

    spark = run.start_spark(min(run.cores, 2))
    src, table, bad = run.path("source"), run.path("table"), run.path("corrupted")
    gen_spark(spark, ROWS, seed=run.seed, partitions=2).write.parquet(src)
    df = spark.read.parquet(src)
    encode_table(df, table)
    register(spark)
    expect = expected_fingerprints(df)
    repo = sorted(expect["repo"])[0]

    clean = _gates(run, table, expect, repo)
    shutil.copytree(table, bad)
    changed = corrupt_one_chunk(bad)
    corrupted = _gates(run, bad, expect, repo)

    arr = pa.array(["def f():\n    return 1\n"] * 512)
    blob = bytearray(encode_array(arr))
    blob[len(blob) // 2] ^= 0xFF
    before = (run.attempted, run.failed)
    with run.guarded("decode_array of a corrupted blob"):
        decode_checked(run, "content", arr, bytes(blob))
    codec = (run.attempted - before[0], run.failed - before[1])

    ok = clean[1] == 0 and corrupted[1] > 0 and codec[1] > 0
    for name, (attempted, failed) in (("clean table", clean),
                                      ("corrupted chunk copy", corrupted),
                                      ("corrupted codec blob", codec)):
        print(f"selfcheck {name}: error_rate = {failed / max(attempted, 1):.3f} "
              f"({failed} of {attempted} checks failed)")
    print(f"selfcheck changed {os.path.relpath(changed, run.work)}")
    print("selfcheck " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1
