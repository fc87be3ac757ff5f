#!/usr/bin/env python
"""Round-6 optimization harness (bench.py is FROZEN for measurement —
this file carries the extra isolation benchmarks the optimization guide
§1 calls for: per-query noop-sink timing, .count() timing that mirrors
bench.py's protocol, and `.explain("formatted")` capture).

Usage:
  python bench_extra.py queries [name ...]   # time headline queries
  python bench_extra.py plans TAG [name ...] # write plans/r06/<q>_TAG.txt
  python bench_extra.py encode               # encode-path decomposition

Env: SPARK_GRAFT_SF_DIR (default: bench.py's, the sf0.1 scale),
SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)
os.environ["PYTHONPATH"] = (
    _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)

from bench import SF_DIR  # noqa: E402  (one default for both harnesses)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("SPARK_GRAFT_EXTRA_REPS", "3"))

HEADLINE = [
    "tpch_q1",
    "broadcast_join_revenue",
    "window_top_order",
    "minhash_signatures",
    "minhash_signatures_fast",
    "token_count",
    "dedup_exact",
    "cosine_score_all",
]

_EXTRA = {
    "spark.ui.showConsoleProgress": "false",
    "spark.local.dir": "/dev/shm/fhirflat_spark_bench_extra/local",
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
}


def _session():
    from fhirflat_spark.session import get_spark

    os.makedirs("/dev/shm/fhirflat_spark_bench_extra/local", exist_ok=True)
    return get_spark("bench_extra", cores=CPUS, extra_conf=_EXTRA)


def time_queries(names: list[str]) -> None:
    import __spark_entry__ as entrymod

    spark = _session()
    qs = entrymod.queries()
    # same JIT warmup as bench.py
    spark.read.parquet(f"{SF_DIR}/nation.parquet").groupBy(
        "n_regionkey"
    ).count().collect()
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"extra:{name}")
        cnt_walls, noop_walls = [], []
        n = None
        for _ in range(REPS):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            n = df.count()
            cnt_walls.append(round(time.time() - t0, 3))
        for _ in range(REPS):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            noop_walls.append(round(time.time() - t0, 3))
        out[name] = {
            "count_min": min(cnt_walls),
            "count_all": cnt_walls,
            "noop_min": min(noop_walls),
            "noop_all": noop_walls,
            "rows": n,
        }
        print(f"  {name}: count={cnt_walls} noop={noop_walls} rows={n}",
              flush=True)
    print(json.dumps({"sf_dir": SF_DIR, "queries": out}))
    spark.stop()


def write_plans(tag: str, names: list[str]) -> None:
    import __spark_entry__ as entrymod

    spark = _session()
    qs = entrymod.queries()
    os.makedirs(f"{_REPO_ROOT}/plans/r06", exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = f"{_REPO_ROOT}/plans/r06/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(f"-- {name} @ {SF_DIR} ({tag})\n")
            f.write(plan)
        print(f"  wrote {path}", flush=True)
    spark.stop()


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode in ("queries", "plans") and not os.path.isdir(SF_DIR):
        raise SystemExit(f"no data at {SF_DIR}: point SPARK_GRAFT_SF_DIR "
                         "at a generated scale-factor directory")
    if mode == "queries":
        names = sys.argv[2:] or HEADLINE
        time_queries(names)
    elif mode == "plans":
        tag = sys.argv[2]
        names = sys.argv[3:] or HEADLINE
        write_plans(tag, names)
    elif mode == "encode":
        encode_decompose()
    else:
        raise SystemExit(f"unknown mode {mode!r}")



def encode_decompose() -> None:
    """Isolate the encode pipeline's stages at a given core count:
    (a) parquet scan only, (b) encoded-exchange encode (the default),
    (c) layout-preserving encode. min-of-reps each."""
    import shutil

    from fhirflat_spark.encode import encode_table
    from fhirflat_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_EXTRA_CORES", "4"))
    rows = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "1000000"))
    reps = REPS
    shm = "/dev/shm/fhirflat_spark_bench_extra"
    os.makedirs(f"{shm}/local", exist_ok=True)
    spark = get_spark("bench_extra_enc", cores=cores,
                      shuffle_partitions=cores * 2, extra_conf=_EXTRA)
    src = f"/tmp/fhirflat_spark_bench/source_{rows}"
    if not os.path.exists(f"{src}/_SUCCESS"):
        from fhirflat_spark.datagen import gen_spark

        gen_spark(spark, rows, seed=42, partitions=CPUS * 2).write.mode(
            "overwrite"
        ).parquet(src)
    df = spark.read.parquet(src)
    key_counts = [(r[0], r["count"])
                  for r in df.groupBy("repo").count().collect()]
    rpb = max(rows // 64, 2000)

    def timed(label, fn):
        walls = []
        for _ in range(reps):
            spark.sparkContext._jvm.System.gc()
            time.sleep(2)
            t0 = time.time()
            fn()
            walls.append(round(time.time() - t0, 2))
        print(f"  [{cores}c] {label}: {walls} min={min(walls)}", flush=True)
        return min(walls)

    timed("scan_noop", lambda: df.write.format("noop").mode("overwrite").save())

    for tag, shuf in (("encoded", True), ("noshuffle", False)):
        out = f"{shm}/dec_{tag}"

        def _enc(out=out, shuf=shuf):
            shutil.rmtree(out, ignore_errors=True)
            encode_table(df, out, rows_per_bucket=rpb, num_partitions=64,
                         key_counts=key_counts, shuffle=shuf)

        timed(f"encode_{tag}", _enc)
        shutil.rmtree(out, ignore_errors=True)
    spark.stop()

if __name__ == "__main__":
    main()
