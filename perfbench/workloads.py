"""The benchmark's three workloads and the run state they share.

Each workload builds its inputs from the run's seed, calls the library's
public functions inside spans, checks every result, and fills three dicts
on the ``Run``: ``e2e`` (the end-to-end metrics), ``layers`` (per-layer
metrics, traced runs only) and ``info`` (reported, never bounded).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

from procstat import ProcessTree
from tracing import (IDLE_GROUP, Tracer, encode_phases, read_event_logs,
                     read_stats, wall)

# Input sizes. They are fixed, so only the seed changes the data. Each
# library call has a fixed CPU cost (task launch, Python workers, JIT),
# so a small table measures that cost instead of the codecs. The CPU per
# raw GB levels off at about 131k rows for decode and falls slowly for
# encode (93 s/GB at 131k rows, 60 at 262k, 46 at 524k on a 4-core
# host); these are about the largest sizes at which the 70 runs of a full
# measurement still fit their 57 minutes on such a host.
# perfbench/README.md has the measurements.
ENCODE_ROWS = 196_608
READ_ROWS = 131_072
APPEND_DELTA_ROWS = 16_384
APPEND_DELTAS = 2
CHUNK_ROWS = 16_384  # the engine's chunk size (session.ARROW_BATCH_ROWS)
CODEC_ROWS = 2 * CHUNK_ROWS
SCATTER_FILES = 16
LOCAL1_ROUNDS = 1  # one-slot encodes in a traced run, for scaling efficiency
SETUP_REPS = 3
MIN_ROUNDS = 3  # measured rounds: a median of at least three
# Unmeasured rounds first. One warms the codecs. The decode path keeps
# warming for longer: one session's back-to-back full decodes of a
# 131k-row table cost 81, 66, 55, 53, then 38 to 48 s/GB of CPU from the
# fifth on. The one-repo reads between them warm it too, so three read
# rounds are enough. Encode has none: its cold first round costs about
# 1.5 times a warm one, so the median of three leaves it out, and a
# warm-up encode would add 6 to 8 s to each of the 22 runs of a full
# measurement, which has to fit in 57 minutes.
WARMUP_ROUNDS = 1
READ_WARMUP_ROUNDS = 3
ENCODE_WARMUP_ROUNDS = 0
DRIVER_MEMORY = "2g"
SORT_KEY = ["repo", "path", "commit"]
COLUMNS = ["repo", "path", "commit", "lang", "content"]


class Run:
    """State of one benchmark run: session, spans, checks and results."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.event_dir = os.path.join(work, "eventlog")
        self.cores = len(os.sched_getaffinity(0))
        self.procs = ProcessTree()
        clock = time.process_time if workload == "codec_kernels" else self.procs.cpu_s
        self.tracer = Tracer(clock)
        self.spark = None
        self.java = "not started"
        self.attempted = 0
        self.failed = 0
        self.session_start_s = 0.0
        self.session_start_cpu_s = 0.0
        self.setup_s: list[float] = []
        self.setup_cpu_s: list[float] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.info: dict = {}
        self.appends: list[dict] = []

    # --- correctness gates ------------------------------------------------

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what} {detail}", file=sys.stderr, flush=True)

    @contextmanager
    def guarded(self, what: str):
        """Count an operation that raises as one failed check and go on."""
        try:
            yield
        except Exception:  # noqa: BLE001 - the run reports it as a failure
            traceback.print_exc()
            self.check(what, False, "raised")

    # --- session ----------------------------------------------------------

    def start_spark(self, cores: int):
        from fhirflat_spark.session import get_spark

        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
        }
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0, cpu0 = time.time(), self.procs.cpu_s()
        self.spark = get_spark(f"perfbench-{self.workload}", cores=cores,
                               extra_conf=conf)
        self.tracer.sc = self.spark.sparkContext
        self.tracer.sc.setJobGroup(IDLE_GROUP, "")
        self.java = self.spark._jvm.System.getProperty("java.version")
        if not self.session_start_s:
            self.session_start_s = time.time() - t0
            self.session_start_cpu_s = self.procs.cpu_s() - cpu0
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.tracer.sc = None

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, then wait for every child to end."""
        self.stop_spark()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        self.procs.wait_for_children()

    # --- loop helpers -----------------------------------------------------

    def setup(self, build):
        """Run ``build`` SETUP_REPS times (each replaces the last one's
        output) and keep the last result; set-up time is their median."""
        state = None
        for _ in range(SETUP_REPS):
            t0, cpu0 = time.time(), self.procs.cpu_s()
            state = build()
            self.setup_s.append(time.time() - t0)
            self.setup_cpu_s.append(self.procs.cpu_s() - cpu0)
        return state

    def rounds(self, warmup: int = WARMUP_ROUNDS):
        """``warmup`` rounds, then measured rounds until ``seconds`` have
        passed, at least MIN_ROUNDS. Yields whether the round is measured;
        the warm-up rounds' spans are left out of every median."""
        self.tracer.phase = "warmup"
        for _ in range(warmup):
            yield False
        self.tracer.phase = "run"
        end = time.time() + self.seconds
        i = 0
        while i < MIN_ROUNDS or time.time() < end:
            yield True
            i += 1

    def path(self, name: str) -> str:
        p = os.path.join(self.work, name)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def timed(self, name: str) -> list[dict]:
        """Spans of ``name`` in the measured phase that ended without error."""
        return [s for s in self.tracer.spans
                if s["name"] == name and s["phase"] == "run" and s.get("ok")]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def dir_bytes(path: str, skip: str | None = None) -> tuple[int, int]:
    """(bytes, files) under ``path``, leaving out the subtree ``skip``."""
    total = files = 0
    for root, dirs, names in os.walk(path):
        if skip is not None and os.path.samefile(root, path):
            dirs[:] = [d for d in dirs if d != skip]
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _row_hash(columns: list[str]):
    """Per-row hash of ``columns``, with ``content`` as its sha256."""
    from pyspark.sql import functions as F

    return F.xxhash64(*[F.sha2(c, 256) if c == "content" else F.col(c) for c in columns])


def fingerprint(df) -> tuple[int, int]:
    """Row count and an order-free xor fold of the per-row hash of every
    column, ``content`` as sha256. Computed JVM-side, so the check costs
    no per-row Python."""
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)), F.bit_xor(_row_hash(df.columns))).first()
    return (r[0], r[1])


def expected_fingerprints(df) -> dict:
    """The fingerprints the read checks compare against, from one
    aggregation of the source: whole table, each repo, and ``lang`` alone."""
    from pyspark.sql import functions as F

    rows = df.groupBy("repo").agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(_row_hash(COLUMNS)).alias("x"),
        F.bit_xor(_row_hash(["lang"])).alias("lang")).collect()
    fold = {"all": [0, 0], "lang": [0, 0]}
    for r in rows:
        for key, x in (("all", r["x"]), ("lang", r["lang"])):
            fold[key][0] += r["n"]
            fold[key][1] ^= x
    return {"all": tuple(fold["all"]), "lang": tuple(fold["lang"]),
            "repo": {r["repo"]: (r["n"], r["x"]) for r in rows}}


# --- encode_recluster -------------------------------------------------------

def encode_recluster(run: Run) -> None:
    from pyspark.sql import functions as F

    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.decode import codec_report
    from fhirflat_spark.encode import encode_table
    from fhirflat_spark.manifest import read_summary

    spark = run.start_spark(run.cores)
    tr = run.tracer

    def build():
        src = run.path("scattered")
        with tr.span("gen_spark", "setup"):
            (gen_spark(spark, ENCODE_ROWS, seed=run.seed, partitions=run.cores)
             .repartition(SCATTER_FILES, F.xxhash64("path", "content"))
             .write.parquet(src))
        return src

    src = run.setup(build)
    # the footprint reference, written once: the same rows in row order as
    # parquet/zstd (the session's parquet codec)
    ref = run.path("reference")
    with tr.span("gen_spark", "setup"):
        gen_spark(spark, ENCODE_ROWS, seed=run.seed,
                  partitions=run.cores).write.parquet(ref)
    parquet_bytes, _ = dir_bytes(ref)

    def encode_level(label: str, rounds) -> dict:
        """Encode the scattered table round after round; check that every
        encode writes all rows and the same bytes."""
        df = run.spark.read.parquet(src)
        out = os.path.join(run.work, f"table_{label}")
        first = None
        for _ in rounds:
            shutil.rmtree(out, ignore_errors=True)
            with run.guarded(f"encode_table {label}"):
                with tr.span(f"encode_table.{label}") as s:
                    res = encode_table(df, out)
                with tr.span("read_summary"):
                    sha = read_summary(run.spark, out)["dataset_sha256"]
                s["raw_bytes"] = res.raw_bytes
                layout = (sha, dir_bytes(out)[0], res.encoded_bytes)
                first = first or layout
                run.check("encode rows", res.rows == ENCODE_ROWS,
                          f"{res.rows} != {ENCODE_ROWS}")
                run.check("encode is deterministic", layout == first,
                          f"{layout} != {first}")
        spans = run.timed(f"encode_table.{label}")
        return {"out": out, "spans": spans, "layout": first,
                "mbps": median(s["raw_bytes"] / 1e6 / wall(s) for s in spans)}

    level = f"local{run.cores}"
    full = encode_level(level, run.rounds(ENCODE_WARMUP_ROUNDS))
    spans = full["spans"]
    raw_gb = spans[0]["raw_bytes"] / 1e9 if spans else 1.0
    sha, disk, encoded = full["layout"] or ("", 0, 0)
    run.e2e.update(
        cpu_s_per_gb=median(s["cpu_s"] for s in spans) / raw_gb,
        footprint_vs_parquet_zstd=disk / parquet_bytes,
    )
    run.info["op_mbps"] = full["mbps"]
    run.info[level] = {"encoded_bytes": encoded, "disk_bytes": disk,
                       "dataset_sha256": sha, "encodes": len(spans)}
    run.info["parquet_zstd_bytes"] = parquet_bytes
    if run.trace:
        # what feeds only the per-layer table runs in traced runs: the
        # codec report, small appends to the encoded table, and the encode
        # at one task slot
        with tr.span("codec_report"):
            report = codec_report(spark, full["out"]).collect()
        for r in report:
            run.layers[f"codecs.{r['column']}.{r['codec']}.chunks"] = r["chunks"]
        append_rounds(run, full["out"])
        # the same encode with one task slot gives the scaling efficiency
        run.stop_spark()
        run.start_spark(1)
        with tr.span("gen_spark", "setup"):  # starts the new session's Python workers
            gen_spark(run.spark, CHUNK_ROWS, seed=run.seed).count()
        one = encode_level("local1", range(LOCAL1_ROUNDS))
        run.info["local1"] = dict(zip(("dataset_sha256", "disk_bytes", "encoded_bytes"),
                                      one["layout"] or ("", 0, 0)))
        run.layers["encode.local1_mbps"] = one["mbps"]
        run.layers["encode.scaling_eff"] = full["mbps"] / (run.cores * one["mbps"])
    run.stop_spark()
    if run.trace:
        groups = read_event_logs(run.event_dir)
        _encode_layers(run, spans, groups)
        _append_layers(run, groups)
        run.layers["trace.op_mbps"] = full["mbps"]


def call_phases(run: Run, spans: list[dict], groups: dict) -> list[tuple]:
    """(span, phases) of each ``encode_table``/``append_table`` span whose
    stages the event log attributes to it; one failed check for each span
    it does not."""
    found = []
    for s in spans:
        p = encode_phases(s, groups.get(s["group"], {"jobs": [], "stages": []}))
        run.check(f"{s['name']} has a shuffle-writing stage in its job group",
                  p is not None)
        if p is not None:
            found.append((s, p))
    return found


def _encode_layers(run: Run, spans: list[dict], groups: dict) -> None:
    found = call_phases(run, spans, groups)
    if not found:
        return
    phases = [p for _, p in found]
    for key in ("placement_s", "stage1_run_s", "stage1_cpu_s", "stage2_run_s",
                "stage2_cpu_s", "other_s", "driver_s", "accounted_share",
                "gc_s", "spill_bytes", "tasks"):
        run.layers[f"encode.{key}"] = median(p[key] for p in phases)
    run.layers["encode.exchange_bytes_per_raw_byte"] = median(
        p["exchange_bytes"] / s["raw_bytes"] for s, p in found)
    run.info["encode_phases"] = phases


# --- read_verify ------------------------------------------------------------

def read_round(run: Run, out: str, expect: dict, repo: str) -> None:
    """One round of read checks on the table at ``out``: full decode with
    per-row sha256 equality, and a one-repo read through the named source."""
    from pyspark.sql import functions as F

    from fhirflat_spark.decode import decode_table

    spark, tr = run.spark, run.tracer
    with run.guarded("decode_table"):
        with tr.span("decode_table"):
            got = fingerprint(decode_table(spark, out))
        run.check("decoded rows and sha256(content)", got == expect["all"],
                  f"{got} != {expect['all']}")
    with run.guarded("source read"):
        with tr.span("source.read"):
            got = fingerprint(spark.read.format("fhirflat").option("path", out)
                              .load().where(F.col("repo") == repo))
        run.check(f"source read of {repo}", got == expect["repo"][repo],
                  f"{got} != {expect['repo'][repo]}")


def read_once(run: Run, out: str, expect: dict, rows: int) -> None:
    """The read checks that feed only the per-layer table and ``info``:
    ``verify_table`` and a 1-of-5-column decode."""
    from pyspark.sql import functions as F

    from fhirflat_spark.decode import decode_table, verify_table

    spark, tr = run.spark, run.tracer
    with run.guarded("verify_table"):
        with tr.span("verify_table"):
            v = verify_table(spark, out).agg(
                F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("bad"),
                F.sum("n_rows").alias("rows")).first()
        run.check("verify_table bad chunks", v["bad"] == 0, f"{v['bad']} bad")
        run.check("verify_table rows", v["rows"] == rows, f"{v['rows']} != {rows}")
    with run.guarded("decode_table column"):
        with tr.span("decode_table.column"):
            got = fingerprint(decode_table(spark, out, columns=["lang"]))
        run.check("one-column decode", got == expect["lang"],
                  f"{got} != {expect['lang']}")


def read_verify(run: Run) -> None:
    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.encode import encode_table
    from fhirflat_spark.sources.datasource import register

    spark = run.start_spark(run.cores)
    tr = run.tracer

    def build():
        # the source table, in row order; it doubles as the parquet/zstd
        # footprint reference (the session's parquet codec is zstd)
        src = run.path("source")
        with tr.span("gen_spark", "setup"):
            gen_spark(spark, READ_ROWS, seed=run.seed,
                      partitions=run.cores).write.parquet(src)
        return src

    src = run.setup(build)
    df = spark.read.parquet(src)
    out = run.path("table")
    with tr.span("encode_table", "setup"):
        res = encode_table(df, out)
    # what the checks compare against, computed once from the source
    with tr.span("fingerprint", "setup"):
        expect = expected_fingerprints(df)
    with tr.span("register", "setup"):
        register(spark)
    repos = sorted(expect["repo"])
    rng = random.Random(run.seed)
    for _ in run.rounds(READ_WARMUP_ROUNDS):
        read_round(run, out, expect, rng.choice(repos))
    # after the rounds, so that the decode path is warm
    read_once(run, out, expect, READ_ROWS)

    raw_mb = res.raw_bytes / 1e6
    decodes = run.timed("decode_table")
    verifies = run.timed("verify_table")
    reads = run.timed("source.read")
    run.e2e.update(
        cpu_s_per_gb=median(s["cpu_s"] for s in decodes) / (raw_mb / 1e3),
        footprint_vs_parquet_zstd=dir_bytes(out)[0] / dir_bytes(src)[0],
    )
    run.info.update(
        op_mbps=median(raw_mb / wall(s) for s in decodes),
        verify_mbps=median(raw_mb / wall(s) for s in verifies),
        selective_read_s=median(wall(s) for s in reads),
        selective_reads=len(reads),
        decodes=len(decodes),
    )
    run.stop_spark()
    if not run.trace:
        return
    groups = read_event_logs(run.event_dir)
    empty = {"jobs": [], "stages": []}

    def stats(spans):
        return [read_stats(s, groups.get(s["group"], empty)) for s in spans]

    columns = run.timed("decode_table.column")
    run.layers.update({
        "decode.decode_s": median(wall(s) for s in decodes),
        "decode.cpu_s": median(s["cpu_s"] for s in decodes),
        "decode.input_bytes_per_raw_byte":
            median(x["input_bytes"] for x in stats(decodes)) / res.raw_bytes,
        "decode.verify_s": median(wall(s) for s in verifies),
        "decode.verify_cpu_s": median(s["cpu_s"] for s in verifies),
        "decode.column_decode_s": median(wall(s) for s in columns),
        "decode.column_input_bytes": median(x["input_bytes"] for x in stats(columns)),
        "sources.plan_s": median(x["plan_s"] for x in stats(reads)),
        "sources.exec_s": median(x["exec_s"] for x in stats(reads)),
        "sources.partitions_read": median(x["first_stage_tasks"] for x in stats(reads)),
        "trace.op_mbps": run.info["op_mbps"],
    })


# --- small appends (traced encode_recluster runs) -----------------------------

def _table_usage(out: str) -> tuple[int, int, int]:
    """(all bytes, all files, bytes outside chunk data) of a table."""
    total, files = dir_bytes(out)
    return total, files, dir_bytes(out, skip="chunks")[0]


def append_rounds(run: Run, out: str) -> None:
    """Append small deltas to the table at ``out``, each from its own seed,
    one file, rows in row order; check each write with reads: the returned
    row total, ``read_summary``'s row total and a decoded row count of the
    new snapshot."""
    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.encode import append_table
    from fhirflat_spark.manifest import read_summary

    spark, tr = run.spark, run.tracer
    deltas = [run.path(f"delta{i}") for i in range(APPEND_DELTAS)]
    with tr.span("gen_spark", "setup"):
        for i, d in enumerate(deltas):
            gen_spark(spark, APPEND_DELTA_ROWS, seed=run.seed * 1009 + i + 1,
                      partitions=1).write.parquet(d)
    summary = read_summary(spark, out)
    rows, raw = summary["rows"], summary["raw_bytes"]
    appends = []
    for delta in deltas:
        before = _table_usage(out)
        with run.guarded("append_table"):
            with tr.span("append_table") as s:
                res = append_table(spark.read.parquet(delta), out)
            rows += APPEND_DELTA_ROWS
            s["raw_bytes"], raw = res.raw_bytes - raw, res.raw_bytes
            run.check("append_table rows", res.rows == rows, f"{res.rows} != {rows}")
            with tr.span("read_summary"):
                total = read_summary(spark, out)["rows"]
            run.check("read_summary rows after append", total == rows,
                      f"{total} != {rows}")
            # counting rows needs every chunk but only one column
            with tr.span("decode_table.count"):
                n = decode_table(spark, out, columns=["repo"]).count()
            run.check("decoded rows after append", n == rows, f"{n} != {rows}")
            after = _table_usage(out)
            appends.append({
                "user_bytes": s["raw_bytes"], "parquet_bytes": dir_bytes(delta)[0],
                "growth": after[0] - before[0], "files": after[1] - before[1],
                "metadata_bytes": after[2] - before[2]})
    walls = [wall(s) for s in run.timed("append_table")]
    growth = sum(a["growth"] for a in appends)
    run.info.update(
        append_s=median(walls),
        append_s_max=max(walls, default=0.0),
        appends=len(walls),
        append_bytes_per_user_byte=growth / max(sum(a["user_bytes"] for a in appends), 1),
        append_footprint_vs_parquet_zstd=growth
        / max(sum(a["parquet_bytes"] for a in appends), 1),
    )
    run.appends = appends


def _append_layers(run: Run, groups: dict) -> None:
    appends = run.appends
    found = call_phases(run, run.timed("append_table"), groups)
    run.layers.update({
        "manifest.commit_s": median(p["commit_s"] for _, p in found),
        "manifest.read_summary_s": median(wall(s) for s in run.timed("read_summary")),
        "manifest.metadata_bytes_per_append": median(a["metadata_bytes"] for a in appends),
        "manifest.files_per_append": median(a["files"] for a in appends),
    })


# --- codec_kernels ----------------------------------------------------------

def decode_checked(run: Run, col: str, arr, blob: bytes) -> dict:
    """Decode ``blob`` in a span and check that it gives back ``arr``."""
    from fhirflat_spark.codecs import decode_array

    with run.tracer.span("decode_array") as d:
        back = decode_array(blob)
    run.check(f"decode_array(encode_array({col})) equals input", back.equals(arr))
    return d


def codec_kernels(run: Run) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fhirflat_spark.codecs import encode_array
    from fhirflat_spark.codecs.core import unpack_chunk
    from fhirflat_spark.datagen import gen_pandas
    from fhirflat_spark.selector import choose_codec

    tr = run.tracer

    def build():
        with tr.span("gen_pandas", "setup"):
            pdf = gen_pandas(CODEC_ROWS, seed=run.seed)
        table = pa.Table.from_pandas(pdf.sort_values(SORT_KEY, kind="stable"),
                                     preserve_index=False)
        chunks = [(c, table.column(c).slice(off, CHUNK_ROWS).combine_chunks())
                  for off in range(0, table.num_rows, CHUNK_ROWS) for c in COLUMNS]
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink, compression="zstd", row_group_size=CHUNK_ROWS)
        return chunks, sink.getvalue().size

    chunks, parquet_bytes = run.setup(build)
    raw = sum(a.nbytes for _, a in chunks)
    passes, pairs = [], {}
    for measured in run.rounds():
        enc_s = dec_s = 0.0
        enc_bytes = 0
        for i, (col, arr) in enumerate(chunks):
            with run.guarded(f"codec round trip {col}"):
                with tr.span("encode_array") as e:
                    blob = encode_array(arr)
                d = decode_checked(run, col, arr, blob)
                enc_s += e["cpu_s"]
                dec_s += d["cpu_s"]
                enc_bytes += len(blob)
                if not measured:
                    continue
                p = pairs.setdefault((col, unpack_chunk(blob)[0]), {
                    "enc_s": 0.0, "dec_s": 0.0, "raw": 0, "enc": 0, "chunks": set()})
                p["enc_s"] += e["cpu_s"]
                p["dec_s"] += d["cpu_s"]
                p["raw"] += arr.nbytes
                p["enc"] += len(blob)
                p["chunks"].add(i)
        if measured:
            passes.append({"enc_s": enc_s, "dec_s": dec_s, "enc_bytes": enc_bytes})

    mb = raw / 1e6
    run.e2e.update(
        cpu_s_per_gb=median((p["enc_s"] + p["dec_s"]) / (mb / 1e3) for p in passes),
        footprint_vs_parquet_zstd=passes[-1]["enc_bytes"] / parquet_bytes if passes else 0.0,
    )
    run.info.update(
        op_mbps=median(mb / p["enc_s"] for p in passes),
        codec_decode_mbps=median(mb / p["dec_s"] for p in passes),
        codec_ratio=passes[-1]["enc_bytes"] / raw if passes else 0.0,
        passes=len(passes), raw_bytes=raw, parquet_zstd_bytes=parquet_bytes,
    )
    if not run.trace:
        return
    for (col, codec), p in pairs.items():
        key = f"codecs.{col}.{codec}"
        run.layers[f"{key}.encode_mbps"] = p["raw"] / 1e6 / p["enc_s"]
        run.layers[f"{key}.decode_mbps"] = p["raw"] / 1e6 / p["dec_s"]
        run.layers[f"{key}.ratio"] = p["enc"] / p["raw"]
        run.layers[f"{key}.chunks"] = len(p["chunks"])
    choose_s = encode_s = 0.0
    for _, arr in chunks:
        with tr.span("choose_codec") as c:
            choose_codec(arr)
        with tr.span("encode_array") as e:
            encode_array(arr)
        choose_s += c["cpu_s"]
        encode_s += e["cpu_s"]
    run.layers["selector.choose_codec_s_share"] = choose_s / encode_s
    run.layers["trace.op_mbps"] = run.info["op_mbps"]


WORKLOADS = {
    "encode_recluster": encode_recluster,
    "read_verify": read_verify,
    "codec_kernels": codec_kernels,
}
