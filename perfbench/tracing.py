"""Spans and Spark event-log reading for the traced run.

The benchmark records a span around each call it makes into the
package (run → pass → op → build / exec for read ops; run → pass →
backfill → task for ``etl``). Spans stay in memory and are
written out when the run ends. While a leaf span is open, the Spark job
description is ``<workload>:<name>:<phase>``, so each job in the event
log can be tied back to the span that submitted it; a job submitted
without that description (for example from a driver thread) is tied
to the leaf span whose time window holds its submission time.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time

# Leaf phases whose Spark jobs count as execution of a built plan.
EXEC_PHASES = ("exec", "task")

# The formatted physical plan of a file write names its target path on
# the "Arguments:" line of the InsertIntoHadoopFsRelationCommand node.
_WRITE_RE = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: ([^,\s]+)")


class Tracer:
    """In-memory span recorder. Disabled, it records nothing and sets no
    job description, so untraced runs pay only a context-manager call."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, phase: str, op_id: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "phase": phase,
            "parent": parent["id"] if parent else None,
            "op_id": op_id if op_id is not None else (parent or {}).get("op_id"),
            "t0": time.time(),
            "t1": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobDescription(f"{self.workload}:{name}:{phase}")
        try:
            yield
        finally:
            s["t1"] = time.time()
            self._stack.pop()
            sc.setJobDescription(
                f"{self.workload}:{parent['name']}:{parent['phase']}" if parent else None
            )

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON document."""
        spans = [{**s, "self_s": self_time(self.spans, s)} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "spans": spans}, f)


def self_time(spans: list[dict], span: dict) -> float:
    """Duration of ``span`` minus the time its direct children cover."""
    kids = [s for s in spans if s["parent"] == span["id"]]
    return (span["t1"] - span["t0"]) - sum(k["t1"] - k["t0"] for k in kids)


def read_event_log(path: str) -> dict:
    """Jobs, stages, tasks and SQL executions from one uncompressed
    event log. Times are epoch seconds."""
    jobs, stages, tasks, sql = {}, {}, [], {}
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "desc": props.get("spark.job.description") or "",
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if "Submission Time" not in si:
                    continue  # skipped stage: its output was reused
                stages[si["Stage ID"]] = {
                    "s": (si.get("Completion Time", si["Submission Time"])
                          - si["Submission Time"]) / 1000.0,
                    "tasks": si["Number of Tasks"],
                }
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "failed": bool((ev.get("Task Info") or {}).get("Failed")),
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "input_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                })
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                root = ev.get("rootExecutionId", ev["executionId"])
                if root != ev["executionId"]:
                    continue  # nested execution: its root already covers it
                hit = _WRITE_RE.search(ev.get("physicalPlanDescription") or "")
                sql[ev["executionId"]] = {
                    "t0": ev["time"] / 1000.0,
                    "t1": None,
                    "target": hit.group(1) if hit else None,
                }
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in sql:
                    sql[ev["executionId"]]["t1"] = ev["time"] / 1000.0
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "sql": sql}


def attribute_jobs(spans: list[dict], workload: str, jobs: dict) -> dict:
    """Map job id → id of the span that submitted it: among the spans
    open at its submission time, the innermost one whose description
    the job carries, else the innermost one."""
    closed = [s for s in spans if s["t1"] is not None]
    out = {}
    for jid, job in jobs.items():
        t = job["submit"]
        # Job submission is stamped by the JVM, span edges by Python:
        # allow a few ms of skew at the window edges.
        window = [s for s in closed if s["t0"] - 0.005 <= t <= s["t1"] + 0.005]
        named = [s for s in window
                 if f"{workload}:{s['name']}:{s['phase']}" == job["desc"]]
        pick = named or window
        if pick:
            out[jid] = max(pick, key=lambda s: s["t0"])["id"]
    return out


def pass_layer_metrics(spans: list[dict], pass_span: dict, log: dict,
                       job_span: dict, cores: int) -> dict:
    """Per-layer numbers of one traced pass."""
    inside = {s["id"]: s for s in spans if _within(s, pass_span)}
    pass_jobs = [j for j, sid in job_span.items() if sid in inside]
    exec_jobs = {j for j in pass_jobs if inside[job_span[j]]["phase"] in EXEC_PHASES}
    build_jobs = {j for j in pass_jobs if inside[job_span[j]]["phase"] == "build"}

    stage_job = {}
    for j in pass_jobs:
        for st in log["jobs"][j]["stages"]:
            stage_job[st] = j
    exec_stages = {st for st, j in stage_job.items() if j in exec_jobs and st in log["stages"]}
    tasks = [t for t in log["tasks"] if t["stage"] in stage_job]
    exec_tasks = [t for t in tasks if stage_job[t["stage"]] in exec_jobs]

    def span_sum(phase: str) -> float:
        return sum(s["t1"] - s["t0"] for s in inside.values() if s["phase"] == phase)

    wall = pass_span["t1"] - pass_span["t0"]
    exec_s = span_sum("exec") + span_sum("task")
    task_s = sum(t["run_s"] for t in exec_tasks)
    writes: dict[str, float] = {}
    for q in log["sql"].values():
        if q["target"] and q["t1"] is not None and pass_span["t0"] <= q["t0"] <= pass_span["t1"]:
            table = q["target"].rstrip("/").rsplit("/", 1)[-1].removesuffix("__staging")
            writes[table] = writes.get(table, 0.0) + q["t1"] - q["t0"]
    mb = 1024.0 * 1024.0
    return {
        "registry.build_s": span_sum("build"),
        "registry.build_jobs": len(build_jobs),
        "registry.build_share": span_sum("build") / wall,
        "operators.exec_s": exec_s,
        "operators.jobs": len(exec_jobs),
        "operators.stages": len(exec_stages),
        "operators.tasks": len(exec_tasks),
        "operators.max_stage_s": max((log["stages"][s]["s"] for s in exec_stages), default=0.0),
        "operators.single_task_stage_s": sum(
            log["stages"][s]["s"] for s in exec_stages
            if log["stages"][s]["tasks"] == 1 and log["stages"][s]["s"] > 0.5),
        "operators.task_s": task_s,
        "operators.cpu_s": sum(t["cpu_s"] for t in exec_tasks),
        "operators.gc_s": sum(t["gc_s"] for t in exec_tasks),
        "operators.core_util": task_s / (exec_s * cores) if exec_s else 0.0,
        "operators.shuffle_write_mb": sum(t["shuffle_write"] for t in exec_tasks) / mb,
        "operators.shuffle_read_mb": sum(t["shuffle_read"] for t in exec_tasks) / mb,
        "operators.spill_mb": sum(t["spill"] for t in exec_tasks) / mb,
        "operators.failed_tasks": sum(t["failed"] for t in tasks),
        "tables.input_mb": sum(t["input_bytes"] for t in tasks) / mb,
        "tables.input_records": sum(t["input_records"] for t in tasks),
        "pipelines.bytes_written_mb": sum(t["output_bytes"] for t in tasks) / mb,
        "writes": writes,
    }


def _within(s: dict, outer: dict) -> bool:
    return outer["t0"] <= s["t0"] and s["t1"] is not None and s["t1"] <= outer["t1"]


def median_of(rows: list[dict], key: str) -> float:
    vals = [r[key] for r in rows if key in r]
    return statistics.median(vals) if vals else 0.0
