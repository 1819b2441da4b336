"""Span recorder and Spark event-log reader for the traced run.

A span is one call from the benchmark into a layer of the package. It
carries a name, start, end, parent span, operation index and run id, and
runs its Spark jobs under its own job group so the event log can bill
jobs, stages and task metrics to it. Spans stay in memory and are
written out once, with the per-job records, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = -1

    def _group(self, sid: int) -> str:
        return f"{self.run_id}-s{sid}"

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobGroup(self._group(sid), name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self._sc.setJobGroup(self._group(parent["id"]), parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)


def read_event_log(log_dir: str, app_id: str) -> dict[str, list[dict]]:
    """Per job group: one record per job with its interval and the task
    metrics of its stages (event-log field names as in Spark 4)."""
    paths = ([os.path.join(log_dir, app_id)]
             + sorted(glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*")))
             + sorted(glob.glob(os.path.join(log_dir, f"{app_id}*"))))
    paths = [p for p in dict.fromkeys(paths) if os.path.isfile(p)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = {
                        "group": group, "start": ev["Submission Time"] / 1000.0,
                        "end": None, "stages": list(ev.get("Stage IDs", [])),
                        "stages_run": set(), "tasks": 0, "task_s": 0.0,
                        "gc_s": 0.0, "shuffle_read_mb": 0.0,
                        "shuffle_write_mb": 0.0, "spill_mb": 0.0}
                    for s in ev.get("Stage IDs", []):
                        stage_job[s] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics") or {}
                    if job is None or not m:
                        continue
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    job["stages_run"].add(ev["Stage ID"])
                    job["tasks"] += 1
                    job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    job["shuffle_read_mb"] += (sr.get("Local Bytes Read", 0)
                                               + sr.get("Remote Bytes Read", 0)) / 2**20
                    job["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    job["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                        + m.get("Disk Bytes Spilled", 0)) / 2**20
    by_group: dict[str, list[dict]] = {}
    for jid, job in sorted(jobs.items()):
        if job["group"] is None:
            continue
        job["id"] = jid
        job["stages_run"] = len(job["stages_run"])
        by_group.setdefault(job["group"], []).append(job)
    return by_group


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def annotate(tracer: Tracer, by_group: dict[str, list[dict]]) -> None:
    """Add self time to every span, and to every operation's root span the
    execution counters of all jobs run under it."""
    children: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in tracer.spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        s["dur_s"] = s["end"] - s["start"]
        s["self_s"] = s["dur_s"] - _covered(kids, s["start"], s["end"])
        s["jobs"] = [j["id"] for j in by_group.get(tracer._group(s["id"]), [])]

    def subtree(s):
        out = [s]
        for c in children.get(s["id"], []):
            out.extend(subtree(c))
        return out

    for s in tracer.spans:
        if s["parent"] is not None:
            continue
        jobs = [j for t in subtree(s)
                for j in by_group.get(tracer._group(t["id"]), [])]
        ivals = [(j["start"], j["end"] or j["start"]) for j in jobs]
        s["exec"] = {
            "jobs": len(jobs),
            "stages": sum(j["stages_run"] for j in jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "task_s": sum(j["task_s"] for j in jobs),
            "gc_s": sum(j["gc_s"] for j in jobs),
            "shuffle_read_mb": sum(j["shuffle_read_mb"] for j in jobs),
            "shuffle_write_mb": sum(j["shuffle_write_mb"] for j in jobs),
            "spill_mb": sum(j["spill_mb"] for j in jobs),
            "between_jobs_s": s["dur_s"] - _covered(ivals, s["start"], s["end"]),
        }
