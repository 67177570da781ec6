"""Spans recorded around calls into the engine, and Spark's event log read
back to attribute jobs, task time and shuffle bytes to them.

A span is (name, start, end, parent, op). Each span also sets a Spark job
group named after it, so every job the call submits carries the span's id
in its properties; the event log (written by the traced session, read after
it stops) then gives per-span job counts and task metrics. Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"{name}#{op}#{sid}"}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["group"] if self._stack else None
            sc.setLocalProperty("spark.jobGroup.id", parent)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class EventLog:
    """Jobs and task metrics of one application's event log, by job group."""

    def __init__(self, log_dir: str):
        logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
                if os.path.isfile(p) and not p.endswith(".inprogress")]
        if not logs:
            raise RuntimeError(f"no finished event log under {log_dir}")
        path = max(logs, key=os.path.getmtime)
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        tasks: dict[int, list] = defaultdict(list)
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    self.jobs[jid] = {
                        "id": jid,
                        "group": props.get("spark.jobGroup.id"),
                        "call_site": props.get("callSite.short") or "",
                        "stages": e["Stage IDs"],
                    }
                    for s in e["Stage IDs"]:
                        stage_job.setdefault(s, jid)
                elif kind == "SparkListenerTaskEnd":
                    tasks[e["Stage ID"]].append(e.get("Task Metrics") or {})
        for job in self.jobs.values():
            job.update(run_s=0.0, cpu_s=0.0, shuffle_write_b=0, spill_b=0)
        for stage, metrics in tasks.items():
            job = self.jobs.get(stage_job.get(stage))
            if job is None:
                continue
            for m in metrics:
                job["run_s"] += m.get("Executor Run Time", 0) / 1e3
                job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}) \
                    .get("Shuffle Bytes Written", 0)
                job["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))

    def group(self, group: str) -> list[dict]:
        return sorted((j for j in self.jobs.values() if j["group"] == group),
                      key=lambda j: j["id"])


def totals(jobs: list[dict]) -> dict:
    return {"jobs": len(jobs),
            "run_s": sum(j["run_s"] for j in jobs),
            "cpu_s": sum(j["cpu_s"] for j in jobs),
            "shuffle_write_mb": sum(j["shuffle_write_b"] for j in jobs) / 2**20,
            "spill_mb": sum(j["spill_b"] for j in jobs) / 2**20}


def runner_phases(jobs: list[dict]) -> dict[str, list[dict]]:
    """Split one run_validation call's jobs by call site. The scan write
    carries no Python call site; the fused commit+probe action is a
    ``collect`` in runner.py; the violations write follows it. Jobs before
    the first runner.py collect are the scan, jobs after the last are the
    violations write."""
    marks = [k for k, j in enumerate(jobs)
             if j["call_site"].startswith("collect at")
             and "runner.py" in j["call_site"]]
    if not marks:
        return {"scan": jobs, "commit": [], "violations": []}
    return {"scan": jobs[:marks[0]],
            "commit": jobs[marks[0]:marks[-1] + 1],
            "violations": jobs[marks[-1] + 1:]}
