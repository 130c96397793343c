"""Fold a Spark event log into per-bucket job, stage and task totals.

The traced run turns on ``spark.eventLog.enabled`` with an uncompressed,
non-rolling log (Spark 4.1 otherwise writes zstd-compressed rolled files).
Each line of the log is one JSON listener event. A bucket is either the
``spark.jobGroup.id`` property a job ran under, or — for work whose job
group cannot be set (threads the caller does not own) — a named time window
the job was submitted in.

Task seconds come from the task metrics: executor run time, executor CPU
time, JVM GC time, shuffle bytes, spill, and the wait between a stage's
submission and the launch of each of its tasks. The SQL metrics that
Python UDF operators report as task accumulables (worker start, init and run
time; bytes sent to and returned from the workers) are summed under their
own names, converted to seconds or MB by the metric type the SQL plan
declares for them.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "task_wait_s",
)

# Divisors from a SQL metric type to seconds or MB.
_SQL_SCALE = {"timing": 1e3, "nsTiming": 1e9, "size": 2.0**20}


@dataclass
class Bucket:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    task_wait_s: float = 0.0
    python: dict = field(default_factory=lambda: defaultdict(float))

    def add(self, other: "Bucket") -> None:
        for k in COUNTERS:
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for k, v in other.python.items():
            self.python[k] += v


@dataclass
class Fold:
    """Totals per job group, plus per-job submission time for windowing."""

    groups: dict = field(default_factory=lambda: defaultdict(Bucket))
    jobs: dict = field(default_factory=dict)  # job id -> (group, submit s)
    job_buckets: dict = field(default_factory=lambda: defaultdict(Bucket))

    def group(self, name: str) -> Bucket:
        return self.groups.get(name, Bucket())

    def window(self, start_s: float, end_s: float) -> Bucket:
        """Totals of the jobs submitted in ``[start_s, end_s)`` (epoch s)."""
        out = Bucket()
        for jid, (_, t) in self.jobs.items():
            if start_s <= t < end_s:
                out.add(self.job_buckets[jid])
        return out


def fold(lines) -> Fold:
    """Fold an iterable of event-log lines. Tasks are attributed to the job
    that submitted their stage; a stage a later job reuses is skipped there
    and runs no tasks, so nothing is counted twice."""
    out = Fold()
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    metric_type: dict[int, str] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out.jobs[jid] = (group, ev.get("Submission Time", 0) / 1000.0)
            out.job_buckets[jid].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time", 0) / 1000.0
            jid = stage_job.get(info["Stage ID"])
            if jid is not None:
                out.job_buckets[jid].stages += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            _add_task(out.job_buckets[jid], ev, stage_submit.get(ev["Stage ID"]), metric_type)
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _metric_types(ev.get("sparkPlanInfo") or {}, metric_type)
    for jid, (group, _) in out.jobs.items():
        out.groups[group].add(out.job_buckets[jid])
    return out


def _metric_types(plan: dict, out: dict[int, str]) -> None:
    stack = [plan]
    while stack:
        node = stack.pop()
        for m in node.get("metrics", []):
            out[m["accumulatorId"]] = m.get("metricType", "")
        stack.extend(node.get("children", []))


def _add_task(b: Bucket, ev: dict, stage_submit_s: float | None, metric_type: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    b.tasks += 1
    b.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
    b.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    b.gc_s += m.get("JVM GC Time", 0) / 1000.0
    sr = m.get("Shuffle Read Metrics") or {}
    b.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
    sw = m.get("Shuffle Write Metrics") or {}
    b.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
    b.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
    if stage_submit_s is not None and info.get("Launch Time"):
        b.task_wait_s += max(0.0, info["Launch Time"] / 1000.0 - stage_submit_s)
    for acc in info.get("Accumulables", []):
        name = str(acc.get("Name", ""))
        scale = _SQL_SCALE.get(metric_type.get(acc.get("ID"), ""))
        if "python" in name.lower() and scale is not None:
            b.python[name] += float(acc.get("Update", 0)) / scale


def fold_file(path: str) -> Fold:
    with open(path) as f:
        return fold(f)
