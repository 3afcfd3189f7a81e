"""Spark work counters: the status tracker per job group, and the
uncompressed event log for task metrics and job timing."""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

# per-task metrics summed per stage from SparkListenerTaskEnd
TASK_FIELDS = (
    "executor_run_ms",
    "executor_cpu_ms",
    "jvm_gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)


def tracker_counts(sc, groups: list[str]) -> dict[str, int]:
    """Jobs, stages that ran tasks, tasks and single-task stages started
    under ``groups``, read from ``SparkContext.statusTracker``."""
    tracker = sc.statusTracker()
    jobs: set[int] = set()
    for g in groups:
        jobs.update(tracker.getJobIdsForGroup(g))
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = tasks = single = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is None or info.numCompletedTasks == 0:
            continue  # skipped: its shuffle output already existed
        ran += 1
        tasks += info.numCompletedTasks
        single += info.numTasks == 1
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks, "single_task_stages": single}


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float
    stages: list[int]


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stage_metrics: dict[int, dict[str, float]] = field(default_factory=dict)

    def totals(self, stage_ids) -> dict[str, float]:
        out = dict.fromkeys(TASK_FIELDS, 0.0)
        for s in stage_ids:
            for k, v in self.stage_metrics.get(s, {}).items():
                out[k] += v
        return out

    def jobs_in(self, lo: float, hi: float) -> list[Job]:
        """Jobs submitted inside ``[lo, hi]``: one client thread, so these
        are exactly the jobs of the op that ran in that window."""
        return [j for j in self.jobs if lo <= j.submit <= hi]

    def stages_of(self, jobs: list[Job]) -> set[int]:
        """Stage ids first submitted by ``jobs`` (a stage listed again by a
        later job was skipped there and belongs to its first job)."""
        first: dict[int, int] = {}
        for j in self.jobs:
            for s in j.stages:
                first.setdefault(s, j.job_id)
        ids = {j.job_id for j in jobs}
        return {s for s, jid in first.items() if jid in ids}


def read_event_log(log_dir: str) -> EventLog:
    """Parse the single application log in ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    log = EventLog()
    open_jobs: dict[int, Job] = {}
    metrics: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0.0))
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                submit = ev["Submission Time"] / 1000.0
                job = Job(ev["Job ID"], submit, submit, list(ev.get("Stage IDs", [])))
                open_jobs[job.job_id] = job
                log.jobs.append(job)
            elif kind == "SparkListenerJobEnd":
                job = open_jobs.pop(ev["Job ID"], None)
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                m = metrics[ev["Stage ID"]]
                m["executor_run_ms"] += tm.get("Executor Run Time", 0)
                m["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                m["jvm_gc_ms"] += tm.get("JVM GC Time", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                m["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    log.stage_metrics = dict(metrics)
    return log
