"""Spans around the benchmark's calls into the engine, and per-layer
counters read from an uncompressed Spark event log.

A span is one public call the benchmark makes, named
``<module>.<function>``. Spans are held in memory and written as JSON
when the run ends. Spark jobs are attributed to spans by the job group
the tracer sets around each call; a job without a known group (one
submitted from a pool thread, whose JVM thread does not inherit the
caller's local properties) falls back to the innermost span whose
interval contains its submission time.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

#: the per-span counter set (per call, except core_busy_frac)
COUNTERS = (
    "wall_s",
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
    "task_wait_s",
    "driver_gap_s",
    "core_busy_frac",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "python_worker_s",
    "failed_tasks",
)

#: the task accumulable PySpark's Python-runner metrics report
_PYTHON_TIME = "time to run Python workers"


class Tracer:
    """Records spans (id, name, start, end, parent, request). Disabled,
    ``span`` only yields, so untraced runs pay one context manager per
    call."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []  # spans open on the one client thread

    def _set_group(self, group: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack
        parent = stack[-1] if stack else None
        sp = {
            "id": f"span-{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
            "start": time.time(),
            "end": None,
        }
        self.spans.append(sp)
        stack.append(sp)
        self._set_group(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            self._set_group(parent["id"] if parent else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the intervals (clipped)."""
    clipped = [(max(s, start), min(e, end)) for s, e in intervals]
    return union_length([(s, e) for s, e in clipped if e > s])


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> its duration minus the part its direct children cover
    (overlapping children are counted once)."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {
        sp["id"]: (sp["end"] - sp["start"])
        - covered(sp["start"], sp["end"], kids.get(sp["id"], []))
        for sp in spans
    }


def parse_event_log(lines) -> dict:
    """Jobs, stages and tasks from Spark event-log JSON lines. Times are
    epoch seconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[tuple[int, int], dict] = {}
    tasks: list[dict] = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "id": jid,
                "submit": ev["Submission Time"] / 1000,
                "end": None,
                "group": props.get("spark.jobGroup.id"),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            st = stages.setdefault(key, {"id": key[0], "attempt": key[1]})
            if info.get("Submission Time") is not None:
                st["submit"] = info["Submission Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
            py_ms = sum(
                float(a.get("Update", 0))
                for a in info.get("Accumulables", [])
                if a.get("Name") == _PYTHON_TIME
            )
            tasks.append(
                {
                    "stage": (ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                    "launch": info["Launch Time"] / 1000,
                    "finish": info["Finish Time"] / 1000,
                    "failed": bool(info.get("Failed")),
                    "run_s": m.get("Executor Run Time", 0) / 1000,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000,
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "input_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "python_s": py_ms / 1000,
                }
            )
    for (sid, _), st in stages.items():
        st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def attribute_jobs(spans: list[dict], jobs: dict[int, dict]) -> dict[int, str | None]:
    """job id -> span id: by job group when it names a span, else the
    innermost (latest-starting) span containing the submission time."""
    ids = {sp["id"] for sp in spans}
    out = {}
    for jid, job in jobs.items():
        if job["group"] in ids:
            out[jid] = job["group"]
            continue
        inside = [sp for sp in spans if sp["start"] <= job["submit"] <= sp["end"]]
        out[jid] = max(inside, key=lambda sp: sp["start"])["id"] if inside else None
    return out


def span_counters(spans: list[dict], log: dict, cores: int) -> dict[str, dict]:
    """Counter set C per span id. A span's jobs include those of its
    descendants, so a parent's counters cover its children's work."""
    by_id = {sp["id"]: sp for sp in spans}
    owner = attribute_jobs(spans, log["jobs"])

    def lineage(sid):
        while sid is not None:
            yield sid
            sid = by_id[sid]["parent"]

    acc = {
        sp["id"]: {c: 0.0 for c in COUNTERS} | {"_jobs": [], "input_records": 0.0}
        for sp in spans
    }
    for jid, sid in owner.items():
        for a in lineage(sid):
            acc[a]["jobs"] += 1
            acc[a]["_jobs"].append(log["jobs"][jid])
    stage_span = {}
    for key, st in log["stages"].items():
        sid = owner.get(st.get("job"))
        stage_span[key] = sid
        for a in lineage(sid):
            acc[a]["stages"] += 1
    for t in log["tasks"]:
        st = log["stages"].get(t["stage"], {})
        for a in lineage(stage_span.get(t["stage"])):
            c = acc[a]
            c["tasks"] += 1
            c["executor_run_s"] += t["run_s"]
            c["executor_cpu_s"] += t["cpu_s"]
            c["jvm_gc_s"] += t["gc_s"]
            c["task_wait_s"] += max(0.0, t["launch"] - st.get("submit", t["launch"]))
            c["failed_tasks"] += t["failed"]
            c["python_worker_s"] += t["python_s"]
            c["input_records"] += t["input_records"]
            for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes"):
                c[k] += t[k]
    for sid, c in acc.items():
        sp = by_id[sid]
        wall = sp["end"] - sp["start"]
        ivals = [(j["submit"], j["end"] or sp["end"]) for j in c.pop("_jobs")]
        c["wall_s"] = wall
        c["driver_gap_s"] = wall - covered(sp["start"], sp["end"], ivals)
        c["core_busy_frac"] = c["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
    return acc


def per_name(spans: list[dict], counters: dict[str, dict], cores: int) -> dict[str, dict]:
    """Mean per call of every counter, grouped by span name;
    core_busy_frac is recomputed from the summed times."""
    groups: dict[str, list[dict]] = {}
    for sp in spans:
        groups.setdefault(sp["name"], []).append(counters[sp["id"]])
    out = {}
    for name, rows in groups.items():
        n = len(rows)
        mean = {k: sum(r[k] for r in rows) / n for k in rows[0]}
        wall = sum(r["wall_s"] for r in rows)
        run = sum(r["executor_run_s"] for r in rows)
        mean["core_busy_frac"] = run / (wall * cores) if wall else 0.0
        mean["calls"] = n
        out[name] = mean
    return out
