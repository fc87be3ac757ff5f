"""Benchmark of fhirflat_spark: encode, read/verify, small appends, codec kernels.

Run from the root of a checkout:

    python3 perfbench/run.py --workload encode_recluster --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json; ``--trace 1`` runs the
same workload with Spark's event log on and reports the per-layer metrics.
``--selfcheck`` feeds the correctness gates a corrupted table and exits 0
only if they catch it. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")


def _prepare_environment(work: str) -> None:
    """Keep every file the run writes inside ``work``, and let Spark's
    Python workers import the library from this checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)


def _host_info(run) -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": run.cores,
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": run.java,
    }


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot. Its growth during a run shows co-tenant contention."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _results_log(workload: str) -> str:
    return os.path.join(OUT_DIR, "results", f"{workload}.jsonl")


def _code_digest() -> str:
    """sha256 of the library's and the benchmark's Python sources, so that
    results of different code in one checkout are not compared."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "fhirflat_spark", "**", "*.py"),
                                 recursive=True) + glob.glob(os.path.join(HERE, "*.py"))):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _overhead_share(run) -> float:
    """Extra CPU per GB of a traced run: traced / untraced
    ``cpu_s_per_gb`` - 1, against the median of the untraced runs of this
    workload and code recorded in this checkout, on the same seed when
    there are any (0 when there are none)."""
    from workloads import median

    try:
        with open(_results_log(run.workload)) as f:
            runs = [json.loads(line) for line in f]
    except FileNotFoundError:
        runs = []
    runs = [r for r in runs if not r["trace"] and r.get("code") == run.info["code"]]
    same = [r for r in runs if r["seed"] == run.seed] or runs
    run.info["trace_baseline_runs"] = len(same)
    base = median(r["metrics"]["cpu_s_per_gb"] for r in same)
    return run.e2e["cpu_s_per_gb"] / base - 1.0 if base else 0.0


def _write_trace(run, spec: dict) -> None:
    """Spans, event-log phases and the per-layer table of a traced run."""
    stem = os.path.join(OUT_DIR, f"{run.workload}-seed{run.seed}")
    with open(f"{stem}-spans.json", "w") as f:
        json.dump({"spans": run.tracer.spans, "info": run.info}, f, indent=1, default=str)
    lines = [f"# per-layer metrics: {run.workload}, seed {run.seed}", "",
             "| metric | value | unit |", "|---|---|---|"]
    for m in spec["per_layer"]:
        lines.append(f"| {m['name']} | {run.layers[m['name']]:.6g} | {m['unit']} |")
    extra = sorted(set(run.layers) - {m["name"] for m in spec["per_layer"]})
    lines += [f"| {k} | {run.layers[k]:.6g} | (not in BENCHMARK.json) |" for k in extra]
    with open(f"{stem}-layers.md", "w") as f:
        f.write("\n".join(lines) + "\n")


def _emit(run, spec: dict) -> dict:
    """Assemble the result object and record the run."""
    if run.trace:
        run.layers["session.start_s"] = run.session_start_s
        run.layers["trace.spans"] = len(run.tracer.spans)
        run.layers["trace.overhead_share"] = _overhead_share(run)
        wanted = spec["per_layer"]
        values = {m["name"]: float(run.layers.get(m["name"], 0.0)) for m in wanted}
        run.layers = {**run.layers, **values}
    else:
        from workloads import median

        run.e2e["setup_s"] = run.session_start_cpu_s + median(run.setup_cpu_s)
        run.e2e["peak_rss_mb"] = run.procs.peak_rss_mb()
        wanted = spec["end_to_end"]
        values = {m["name"]: float(run.e2e[m["name"]]) for m in wanted}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    record = {"workload": run.workload, "seed": run.seed, "trace": run.trace,
              "code": run.info["code"], "seconds": run.seconds,
              "attempted": run.attempted, "failed": run.failed,
              "metrics": values, "setup_reps_s": run.setup_s,
              "setup_reps_cpu_s": run.setup_cpu_s,
              "info": run.info}
    os.makedirs(os.path.dirname(_results_log(run.workload)), exist_ok=True)
    with open(_results_log(run.workload), "a") as f:
        f.write(json.dumps(record, default=str) + "\n")
    if run.trace:
        _write_trace(run, spec)
    for name, m in metrics.items():
        print(f"{run.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{run.workload} error_rate = {run.failed / max(run.attempted, 1):.6g} "
          f"({run.failed} of {run.attempted} checks failed)")
    print(f"{run.workload} info = {json.dumps(run.info, default=str)}")
    return {"correct": run.failed == 0 and run.attempted > 0,
            "attempted": max(run.attempted, 1), "failed": run.failed,
            "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if not args.selfcheck and args.workload not in names:
        ap.error(f"--workload must be one of {names}")

    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    _prepare_environment(work)
    sys.path.insert(0, HERE)
    try:
        import fhirflat_spark  # noqa: F401 - the library under test
    except ImportError as e:
        print(f"cannot import the library from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    import workloads

    run = workloads.Run(args.workload or "selfcheck", args.seed, args.seconds,
                        bool(args.trace), work)
    t0, steal0 = time.time(), _steal_s()
    try:
        if args.selfcheck:
            import selfcheck

            return selfcheck.main(run)
        workloads.WORKLOADS[args.workload](run)
        run.info["host"] = _host_info(run)
        run.info["code"] = _code_digest()
        run.info["setup_wall_s"] = run.session_start_s + workloads.median(run.setup_s)
        run.info["run_wall_s"] = time.time() - t0
        run.info["steal_s"] = _steal_s() - steal0
        result = _emit(run, spec)
    finally:
        run.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
