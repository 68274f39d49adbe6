"""Per-round Spark statistics from Spark's own event log.

The traced run starts its session with ``spark.eventLog.enabled`` writing an
uncompressed, non-rolling JSON-lines log into the run directory. Every job
is logged there whichever thread submitted it (streaming micro-batches and
the engine's pool threads included), which the driver's status tracker does
not guarantee. Jobs are assigned to a round by submission time; their stages
and tasks follow their job.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

_PYTHON_TIME = "time to run Python workers"


@dataclass
class _Job:
    start_ms: int
    end_ms: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, _Job] = field(default_factory=dict)
    # stage id → summed task metrics / Python worker seconds / attempts
    stage_tasks: dict[int, dict[str, float]] = field(default_factory=dict)
    stage_python_s: dict[int, float] = field(default_factory=dict)
    stage_attempts: dict[int, int] = field(default_factory=dict)


def _task_metrics(tm: dict) -> dict[str, float]:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    return {
        "spark.tasks": 1,
        "spark.executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "spark.executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "spark.gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "spark.shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spark.shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spark.spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        "spark.output_bytes": tm.get("Output Metrics", {}).get("Bytes Written", 0),
    }


def parse(log_dir: str) -> EventLog:
    """Read the one application log under ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    log = EventLog()
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                log.jobs[ev["Job ID"]] = _Job(ev["Submission Time"], stages=list(ev["Stage IDs"]))
            elif kind == "SparkListenerJobEnd":
                log.jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                acc = log.stage_tasks.setdefault(ev["Stage ID"], {})
                for k, v in _task_metrics(ev["Task Metrics"]).items():
                    acc[k] = acc.get(k, 0) + v
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                log.stage_attempts[sid] = log.stage_attempts.get(sid, 0) + 1
                for a in info.get("Accumulables", []):
                    if a.get("Name") == _PYTHON_TIME:
                        # a SQL timing metric, logged in milliseconds
                        log.stage_python_s[sid] = log.stage_python_s.get(sid, 0) + int(a["Value"]) / 1e3
    return log


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def window(log: EventLog, start_s: float, end_s: float) -> dict[str, float]:
    """Spark metrics of the jobs submitted in ``[start_s, end_s]`` (epoch
    seconds): counts, the union of job intervals clipped to the window, and
    the sums of their tasks' metrics."""
    lo, hi = start_s * 1e3, end_s * 1e3
    jobs = [j for j in log.jobs.values() if lo <= j.start_ms <= hi]
    stages = {s for j in jobs for s in j.stages if s in log.stage_attempts}
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": sum(log.stage_attempts[s] for s in stages),
        "spark.tasks": 0,
        "spark.executor_run_s": 0.0,
        "spark.executor_cpu_s": 0.0,
        "spark.gc_s": 0.0,
        "spark.shuffle_read_bytes": 0,
        "spark.shuffle_write_bytes": 0,
        "spark.spill_bytes": 0,
        "spark.output_bytes": 0,
        "spark.python_udf_s": sum(log.stage_python_s.get(s, 0.0) for s in stages),
    }
    for s in stages:
        for k, v in log.stage_tasks.get(s, {}).items():
            out[k] += v
    job_s = _union_s([
        (j.start_ms / 1e3, min(j.end_ms if j.end_ms is not None else hi, hi) / 1e3)
        for j in jobs
    ])
    out["spark.job_s"] = job_s
    out["spark.driver_only_s"] = max(0.0, (end_s - start_s) - job_s)
    return out
