"""Spark counters read from the driver's status store, from outside the engine.

The driver serves its status store over the monitoring REST API
(``/api/v1`` on the local UI port). ``StatusStore.fetch`` reads jobs,
stages (with the per-task list, for scheduler delay) and SQL executions
(for plan-node metrics) once, after the measured window. ``attribute``
then assigns each job to a span: by the job group the span set, or, for
jobs submitted from threads the engine starts itself (which carry no
group), to the innermost span open when the job was submitted.
"""

from __future__ import annotations

import json
import re
import urllib.parse
import urllib.request
from datetime import datetime, timezone

from spans import GROUP_PREFIX

COUNTERS = ("jobs", "stages", "tasks", "tasks_failed", "executor_run_s",
            "executor_cpu_s", "gc_s", "scheduler_delay_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes")


def parse_time(s: str | None) -> float | None:
    """Status-store timestamps look like ``2026-01-01T00:00:00.123GMT``."""
    if not s:
        return None
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def metric_number(value: str) -> float:
    """SQL metric values are strings such as ``12,345`` or ``1.2 MiB``;
    the first number, scaled by its byte unit when there is one."""
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([KMGT]i?B|B)?", value)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    scale = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
    return num * scale.get(unit, 1) if unit else num


class StatusStore:
    def __init__(self, sc):
        url = urllib.parse.urlparse(sc.uiWebUrl)
        # the UI binds every interface; talk to it over loopback
        self._base = f"http://127.0.0.1:{url.port}/api/v1/applications/{sc.applicationId}"
        self.jobs: list[dict] = []
        self.stages: list[dict] = []
        self.sql: list[dict] = []

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def fetch(self) -> None:
        self.jobs = self._get("/jobs")
        self.stages = [s for s in self._get("/stages") if s.get("status") != "SKIPPED"]
        for st in self.stages:
            tasks = self._get(f"/stages/{st['stageId']}/{st['attemptId']}/taskList?length=1000000")
            st["schedulerDelayMs"] = sum(t.get("schedulerDelay", 0) for t in tasks)
        self.sql = self._get("/sql?details=true&planDescription=false&offset=0&length=1000000")


def _innermost(spans: list[dict], t: float) -> int | None:
    best = None
    for sp in spans:
        if sp["start"] <= t <= sp["end"] and (best is None or sp["start"] >= best["start"]):
            best = sp
    return None if best is None else best["id"]


def attribute(store: StatusStore, spans: list[dict]) -> dict:
    """Per-span counters and plan-node metrics, plus each job's interval.

    Returns ``{"span": {id: {counter: value}}, "jobs": [(span, start, end)],
    "nodes": [(span, node_name, {metric: value})]}``."""
    by_group = {f"{GROUP_PREFIX}{sp['id']}": sp["id"] for sp in spans}
    job_span: dict[int, int | None] = {}
    intervals = []
    per_span: dict[int | None, dict[str, float]] = {}

    def bump(sid, key, val):
        per_span.setdefault(sid, dict.fromkeys(COUNTERS, 0.0))[key] += val

    for job in store.jobs:
        start = parse_time(job.get("submissionTime"))
        end = parse_time(job.get("completionTime")) or start
        sid = by_group.get(job.get("jobGroup") or "")
        if sid is None and start is not None:
            sid = _innermost(spans, start)
        job_span[job["jobId"]] = sid
        intervals.append((sid, start, end))
        bump(sid, "jobs", 1)
    # a stage reused by a later job is listed by both; it ran in the first
    stage_job: dict[int, int] = {}
    for job in sorted(store.jobs, key=lambda j: j["jobId"]):
        for s in job.get("stageIds", []):
            stage_job.setdefault(s, job["jobId"])
    for st in store.stages:
        sid = job_span.get(stage_job.get(st["stageId"]))
        bump(sid, "stages", 1)
        bump(sid, "tasks", st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0))
        bump(sid, "tasks_failed", st.get("numFailedTasks", 0))
        bump(sid, "executor_run_s", st.get("executorRunTime", 0) / 1e3)
        bump(sid, "executor_cpu_s", st.get("executorCpuTime", 0) / 1e9)
        bump(sid, "gc_s", st.get("jvmGcTime", 0) / 1e3)
        bump(sid, "scheduler_delay_s", st.get("schedulerDelayMs", 0) / 1e3)
        bump(sid, "shuffle_read_bytes", st.get("shuffleReadBytes", 0))
        bump(sid, "shuffle_write_bytes", st.get("shuffleWriteBytes", 0))
        bump(sid, "spill_bytes", st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0))
        bump(sid, "input_bytes", st.get("inputBytes", 0))
        bump(sid, "output_bytes", st.get("outputBytes", 0))
    nodes = []
    for ex in store.sql:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        sid = next((job_span[j] for j in ids if j in job_span), None)
        for node in ex.get("nodes", []):
            metrics = {m["name"]: metric_number(m["value"]) for m in node.get("metrics", [])}
            nodes.append((sid, node["nodeName"], metrics))
    return {"span": per_span, "jobs": intervals, "nodes": nodes}
