"""Spark jobs, stages and tasks read back from the event log.

A traced run writes an uncompressed event log; after the session stops
it is complete.  Jobs are joined to operations by submission time: one
client, so operations never overlap, and jobs launched from library
thread pools, which do not inherit the op's job group, still fall
inside their operation."""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

from .helpers import clip, union_length

#: per-task quantities summed over an operation
TASK_SUMS = ("executor_run_s", "executor_cpu_s", "gc_s", "scheduler_delay_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "input_bytes", "output_bytes")


def read_events(logdir: Path) -> list[list[dict]]:
    """The events of each application (one per session start)."""
    apps = []
    for path in sorted(logdir.iterdir()):
        if path.is_file() and not path.name.startswith("."):
            with open(path) as f:
                apps.append([json.loads(line) for line in f if line.strip()])
    return apps


def _task(app: int, event: dict) -> dict:
    info, m = event["Task Info"], event.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    duration = info["Finish Time"] - info["Launch Time"]
    run = m.get("Executor Run Time", 0)
    delay = max(0, duration - run - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0)
                - info.get("Getting Result Time", 0))
    return {
        "stage": (app, event["Stage ID"]), "duration_ms": duration,
        "executor_run_s": run / 1e3,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "scheduler_delay_s": delay / 1e3,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
        "accums": {(app, a["ID"]): a.get("Update")
                   for a in info.get("Accumulables", [])},
    }


def _python_scan_metrics(app: int, plan: dict, out: dict) -> None:
    """Accumulator ids of the zarr3 Python datasource scan nodes."""
    if plan.get("nodeName", "").startswith("BatchScan") \
            and "zarr3" in plan.get("simpleString", ""):
        for metric in plan.get("metrics", []):
            out.setdefault(metric["name"], set()).add(
                (app, metric["accumulatorId"]))
    for child in plan.get("children", []):
        _python_scan_metrics(app, child, out)


class SparkLog:
    """Jobs and tasks of every application; ids are ``(app, id)``."""

    def __init__(self, apps: list[list[dict]]):
        self.jobs: dict[tuple, dict] = {}
        self.tasks: dict[tuple, list[dict]] = defaultdict(list)
        self.scan: dict[str, set] = {}
        for app, events in enumerate(apps):
            self._read(app, events)

    def _read(self, app: int, events: list[dict]) -> None:
        stage_job: dict[int, tuple] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                self.jobs[app, e["Job ID"]] = {
                    "start": e["Submission Time"] / 1e3, "end": None}
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = (app, e["Job ID"])
            elif kind == "SparkListenerJobEnd":
                self.jobs[app, e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                task = _task(app, e)
                self.tasks[stage_job.get(e["Stage ID"])].append(task)
            elif kind.endswith(("SQLExecutionStart",
                                "SQLAdaptiveExecutionUpdate")):
                _python_scan_metrics(app, e.get("sparkPlanInfo", {}),
                                     self.scan)

    def op_metrics(self, start: float, end: float) -> dict:
        """Spark figures of the jobs submitted within ``[start, end]``."""
        jobs = [dict(j, id=jid) for jid, j in self.jobs.items()
                if j["end"] is not None and start <= j["start"] <= end]
        tasks = [t for j in jobs for t in self.tasks.get(j["id"], [])]
        covered = union_length(clip([(j["start"], j["end"]) for j in jobs],
                                    start, end))
        out = {"spark.jobs": len(jobs),
               "spark.stages": len({t["stage"] for t in tasks}),
               "spark.tasks": len(tasks),
               "spark.job_s": covered,
               "spark.driver_gap_s": (end - start) - covered,
               "spark.task_skew": _skew(tasks)}
        for key in TASK_SUMS:
            out[f"spark.{key}"] = sum(t[key] for t in tasks)
        rows_ids = self.scan.get("number of output rows", set())
        bytes_ids = self.scan.get("data returned from Python workers", set())
        scan_tasks = [t for t in tasks if rows_ids & t["accums"].keys()]
        out["datasource.input_partitions"] = len(scan_tasks)
        out["python.rows_received"] = sum(
            int(v) for t in scan_tasks for k, v in t["accums"].items()
            if k in rows_ids)
        out["python.bytes_received"] = sum(
            int(v) for t in scan_tasks for k, v in t["accums"].items()
            if k in bytes_ids)
        out["_intervals"] = [(j["start"], j["end"]) for j in jobs]
        return out


def _skew(tasks: list[dict]) -> float:
    """Largest max/median task duration over stages of two or more tasks
    (1.0 when no stage has two)."""
    by_stage: dict[int, list[int]] = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["duration_ms"])
    ratios = [max(d) / max(statistics.median(d), 1)
              for d in by_stage.values() if len(d) >= 2]
    return max(ratios, default=1.0)
