"""Span recording and Spark-side measurements for the traced run.

Spans come only from the benchmark's own code, around its calls into the
library. Each span has a name, a layer, a start and an end (wall-clock
seconds), a parent and the id of the operation it belongs to. Spans
derived after the fact (Spark jobs from the status REST API, build
stages from catalog manifests) carry ``derived: true``. Everything stays
in memory until ``Tracer.dump`` writes it at exit.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    """In-memory span recorder; a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, op_id: int | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent]["op_id"]
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            "parent": parent,
            "op_id": op_id,
            "derived": False,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def derived(self, name: str, layer: str, start: float, end: float, parent: int | None, op_id):
        if self.enabled:
            self.spans.append(
                {
                    "id": len(self.spans),
                    "name": name,
                    "layer": layer,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "op_id": op_id,
                    "derived": True,
                }
            )

    def attach_jobs(self, jobs: list[dict]) -> None:
        """Add one derived span per Spark job, under the innermost span of
        its operation that contains the job's submission time."""
        for j in jobs:
            op_id = j["op_id"]
            cands = [
                s
                for s in self.spans
                if s["op_id"] == op_id
                and not s["derived"]
                and s["start"] <= j["start"] <= (s["end"] or j["start"])
            ]
            parent = max(cands, key=lambda s: s["start"])["id"] if cands else None
            self.derived(f"spark.job.{j['job_id']}", "spark", j["start"], j["end"], parent, op_id)

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the part of its
        interval covered by its children."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = _union_len(
                [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids.get(s["id"], [])]
            )
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(s["end"] - s["start"] - covered, 0.0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ---------------------------------------------------------------- Spark REST


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def spark_jobs(sc) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages) from the driver's status REST API, once two polls
    agree and no job is still running (the listener publishes late)."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs: list[dict] = []
    seen = -1
    for _ in range(50):
        jobs = _get(f"{base}/jobs")
        if len(jobs) == seen and all(j["status"] != "RUNNING" for j in jobs):
            break
        seen = len(jobs)
        time.sleep(0.2)
    stages = {}
    for st in _get(f"{base}/stages"):
        stages[(st["stageId"], st["attemptId"])] = st
    return jobs, stages


def job_rows(jobs: list[dict], stages: dict) -> list[dict]:
    """One row per job of a benchmark operation (job group ``<type>:<id>``)
    with its stage metrics summed."""
    rows = []
    for j in jobs:
        group = j.get("jobGroup") or ""
        if ":" not in group:
            continue
        op_type, op_id = group.split(":", 1)
        row = {
            "job_id": j["jobId"],
            "op_type": op_type,
            "op_id": int(op_id),
            "start": _rest_time(j.get("submissionTime")),
            "end": _rest_time(j.get("completionTime")),
            "tasks": 0,
            "failed_tasks": j.get("numFailedTasks", 0),
            "sched_wait_ms": 0.0,
            "run_ms": 0.0,
            "cpu_ms": 0.0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
            "input_bytes": 0,
        }
        for sid in j.get("stageIds", []):
            for (s_id, _att), st in stages.items():
                if s_id != sid or st.get("status") == "SKIPPED":
                    continue
                row["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                sub = _rest_time(st.get("submissionTime"))
                first = _rest_time(st.get("firstTaskLaunchedTime"))
                if sub is not None and first is not None:
                    row["sched_wait_ms"] += max(first - sub, 0.0) * 1000.0
                row["run_ms"] += st.get("executorRunTime", 0)
                row["cpu_ms"] += st.get("executorCpuTime", 0) / 1e6
                row["shuffle_bytes"] += st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
                row["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                row["input_bytes"] += st.get("inputBytes", 0)
        if row["start"] is not None and row["end"] is None:
            row["end"] = row["start"]
        if row["start"] is not None:
            rows.append(row)
    return rows
