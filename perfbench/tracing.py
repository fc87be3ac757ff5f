"""Spans around the benchmark's calls into the library, and Spark's event log.

Every call the benchmark makes into ``fhirflat_spark`` runs inside a span
(name, start, end, parent, CPU seconds). When a SparkContext is attached,
the span also becomes the Spark job group, so each job and stage in the
event log can be attributed to the call that caused it. Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import time
from contextlib import contextmanager

IDLE_GROUP = "perfbench.idle"


class Tracer:
    def __init__(self, cpu_clock):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._cpu_clock = cpu_clock
        self.sc = None  # SparkContext that receives each span's job group
        self.phase = "run"  # of spans that do not name one

    @contextmanager
    def span(self, name: str, phase: str | None = None):
        phase = phase or self.phase
        rec = {
            "id": len(self.spans),
            "name": name,
            "phase": phase,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        rec["group"] = f"{phase}.{name}#{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        cpu0 = self._cpu_clock()
        rec["start"] = time.time()
        try:
            yield rec
            rec["ok"] = True
        finally:
            rec["end"] = time.time()
            rec["cpu_s"] = self._cpu_clock() - cpu0
            self._stack.pop()
            if self.sc is not None:
                outer = self._stack[-1]["group"] if self._stack else IDLE_GROUP
                self.sc.setJobGroup(outer, "")


def wall(span: dict) -> float:
    return span["end"] - span["start"]


# --- Spark event log -------------------------------------------------------

_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.memoryBytesSpilled": "spill",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.input.bytesRead": "input_bytes",
}


def read_event_logs(log_dir: str) -> dict[str, dict]:
    """Jobs and completed stages of every application logged in
    ``log_dir``, grouped by the job group they ran under. The session
    writes one uncompressed JSON-lines file per application."""
    groups: dict[str, dict] = {}
    for app, path in enumerate(sorted(glob.glob(f"{log_dir}/*"))):
        jobs, stage_group = {}, {}
        with open(path) as f:
            events = [json.loads(line) for line in f]
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[e["Job ID"]] = {"group": g, "start": e["Submission Time"] / 1e3}
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                job = jobs[e["Job ID"]]
                job["end"] = e["Completion Time"] / 1e3
                groups.setdefault(job["group"], {"jobs": [], "stages": []})["jobs"].append(job)
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                stage_group[(app, info["Stage ID"])] = (
                    e.get("Properties") or {}).get("spark.jobGroup.id")
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = {"id": info["Stage ID"], "tasks": info["Number of Tasks"],
                      "start": info["Submission Time"] / 1e3,
                      "end": info["Completion Time"] / 1e3}
                for key in ("run_ms", "cpu_ns", "gc_ms", "shuffle_write",
                            "shuffle_read", "spill", "input_bytes"):
                    st[key] = 0
                for acc in info.get("Accumulables", ()):
                    key = _STAGE_METRICS.get(acc.get("Name"))
                    if key and acc.get("Value") is not None:
                        st[key] += int(acc["Value"])
                g = stage_group.get((app, info["Stage ID"]))
                groups.setdefault(g, {"jobs": [], "stages": []})["stages"].append(st)
    return groups


def union_s(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def encode_phases(span: dict, group: dict) -> dict | None:
    """Split one ``encode_table``/``append_table`` call into its phases by
    the shuffle edges of its stages, never by call-site names (the write
    jobs all share one generic name, and line numbers move with edits):

    - stage 1 is the stage that writes the most shuffle bytes (the data
      exchange);
    - stage 2 is every later stage that reads shuffle bytes;
    - placement is every stage that ended before stage 1 was submitted;
    - anything else is ``other``.

    ``driver_s`` is the call's wall time outside all of its jobs. Returns
    None when no stage of the call wrote shuffle bytes: then the job group
    did not reach the call's stages, and its phases are unknown."""
    stages = sorted(group["stages"], key=lambda s: s["start"])
    jobs = group["jobs"]
    if not stages or not jobs or not max(s["shuffle_write"] for s in stages):
        return None
    s1 = max(stages, key=lambda s: s["shuffle_write"])
    out = {"tasks": sum(s["tasks"] for s in stages)}
    phase = {}
    for s in stages:
        if s is s1:
            phase[id(s)] = "stage1"
        elif s["start"] >= s1["end"] and s["shuffle_read"]:
            phase[id(s)] = "stage2"
        elif s["end"] <= s1["start"]:
            phase[id(s)] = "placement"
        else:
            phase[id(s)] = "other"
    for name, key in (("placement", "placement_s"), ("stage1", "stage1_run_s"),
                      ("stage2", "stage2_run_s"), ("other", "other_s")):
        out[key] = union_s((s["start"], s["end"]) for s in stages if phase[id(s)] == name)
    out["stage1_cpu_s"] = s1["cpu_ns"] / 1e9
    out["stage2_cpu_s"] = sum(s["cpu_ns"] for s in stages if phase[id(s)] == "stage2") / 1e9
    out["exchange_bytes"] = s1["shuffle_write"]
    out["gc_s"] = sum(s["gc_ms"] for s in stages) / 1e3
    out["spill_bytes"] = sum(s["spill"] for s in stages)
    spans = [(max(j["start"], span["start"]), min(j["end"], span["end"])) for j in jobs]
    out["driver_s"] = max(wall(span) - union_s(spans), 0.0)
    out["commit_s"] = max(span["end"] - max(j["end"] for j in jobs), 0.0)
    accounted = (out["placement_s"] + out["stage1_run_s"] + out["stage2_run_s"]
                 + out["other_s"] + out["driver_s"])
    out["accounted_share"] = accounted / wall(span)
    return out


def read_stats(span: dict, group: dict) -> dict:
    """Planning time before the call's first job, execution time after
    it, bytes read from storage and the task count of its first stage."""
    jobs = sorted(group["jobs"], key=lambda j: j["start"])
    stages = sorted(group["stages"], key=lambda s: s["start"])
    first = jobs[0]["start"] if jobs else span["end"]
    return {
        "plan_s": max(first - span["start"], 0.0),
        "exec_s": max(span["end"] - first, 0.0),
        "input_bytes": sum(s["input_bytes"] for s in stages),
        "first_stage_tasks": stages[0]["tasks"] if stages else 0,
    }
