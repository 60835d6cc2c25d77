"""Spans around calls into the engine, and Spark stage metrics per span.

A span is one public call into an engine module, timed from the
benchmark's side: name, start, end, parent span, run id. Spans are kept
in memory and written out once at the end. While a span is open its id
is the Spark job group, so every job the call submits carries the tag in
the event log; `job_metrics` then attributes stage metrics to spans.

The event log must be plain JSON lines (see `EVENT_LOG_CONF`): Spark
4.1's default is a rolling zstd log, which the Python standard library
cannot read.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    """Records spans and tags Spark jobs with the innermost open span.

    Disabled, `span` records nothing and sets no job group, so the traced
    and untraced passes run the same engine calls."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.sc = None
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(_GROUP_KEY, None if sid is None else self.group_of(sid))

    def group_of(self, sid: int) -> str:
        return f"{self.run_id}/{sid}"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f, indent=1)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by child spans."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def span_subtree(spans: list[dict], root: int) -> set[int]:
    """Ids of `root` and every span below it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids.get(sid, []))
    return out


def event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


def read_event_log(path: str) -> list[dict]:
    """Jobs of the application, each with its stages' task totals.

    Returns dicts with keys: job, group, submit_s, stages, tasks,
    run_s, cpu_s, shuffle_read_bytes, shuffle_write_bytes, spill_bytes. A stage shared by several jobs runs its tasks in the
    first job that lists it; later jobs skip it."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    per_stage: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "job": jid,
                    "group": (ev.get("Properties") or {}).get(_GROUP_KEY),
                    "submit_s": ev["Submission Time"] / 1000.0,
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st = per_stage.setdefault(
                    ev["Stage ID"],
                    dict(tasks=0, run_s=0.0, cpu_s=0.0, shuffle_read_bytes=0,
                         shuffle_write_bytes=0, spill_bytes=0),
                )
                st["tasks"] += 1
                st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for j in jobs.values():
        j.update(stages=0, tasks=0, run_s=0.0, cpu_s=0.0, shuffle_read_bytes=0,
                 shuffle_write_bytes=0, spill_bytes=0)
    for sid, st in per_stage.items():
        j = jobs.get(stage_job.get(sid))
        if j is None:
            continue
        j["stages"] += 1
        for k, v in st.items():
            j[k] += v
    return sorted(jobs.values(), key=lambda j: j["job"])


def sum_jobs(jobs: list[dict]) -> dict:
    keys = ("stages", "tasks", "run_s", "cpu_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")
    out = {k: sum(j[k] for j in jobs) for k in keys}
    out["jobs"] = len(jobs)
    return out


def jobs_in_window(jobs: list[dict], start: float, end: float) -> list[dict]:
    """Jobs submitted while [start, end] was open (driver wall clock)."""
    return [j for j in jobs if start <= j["submit_s"] <= end]


def jobs_in_groups(jobs: list[dict], groups: set[str]) -> list[dict]:
    return [j for j in jobs if j["group"] in groups]
