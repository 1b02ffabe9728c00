"""Spark event-log parser: jobs, stages and task metrics.

Reads the JSON-lines log Spark writes with ``spark.eventLog.enabled``
(uncompressed, non-rolling: the benchmark sets both confs) and keeps
only what the per-layer metrics need.  Times are epoch milliseconds as
Spark records them.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from .stats import median

# the RDD scope Spark gives the Python stage of a mapInPandas plan
PYTHON_SCOPE = "MapInPandas"


@dataclass
class Task:
    run_ms: int
    shuffle_write_bytes: int


@dataclass
class Stage:
    stage_id: int
    name: str
    scopes: list[str]
    submit_ms: int | None = None
    complete_ms: int | None = None
    tasks: list[Task] = field(default_factory=list)

    @property
    def is_python(self) -> bool:
        return PYTHON_SCOPE in self.scopes


@dataclass
class Job:
    job_id: int
    group: str
    submit_ms: int
    stage_ids: list[int]
    end_ms: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def jobs_in(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]

    def stages_of(self, job: Job) -> list[Stage]:
        """Stages this job ran (skipped stages never submit)."""
        return [self.stages[s] for s in job.stage_ids if s in self.stages and self.stages[s].tasks]


def _scope_name(scope: str | None) -> str:
    if not scope:
        return ""
    try:
        return json.loads(scope).get("name", "")
    except ValueError:
        return ""


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id", ""),
                submit_ms=ev["Submission Time"],
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            log.stages[info["Stage ID"]] = Stage(
                stage_id=info["Stage ID"],
                name=info.get("Stage Name", ""),
                scopes=[_scope_name(r.get("Scope")) for r in info.get("RDD Info", [])],
                submit_ms=info.get("Submission Time"),
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stage = log.stages.get(info["Stage ID"])
            if stage is not None:
                stage.complete_ms = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            stage = log.stages.get(ev["Stage ID"])
            m = ev.get("Task Metrics") or {}
            if stage is None or not m:
                continue
            stage.tasks.append(
                Task(
                    run_ms=m.get("Executor Run Time", 0),
                    shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                )
            )
    return log


def parse_dir(path: str) -> EventLog:
    """Every application log in ``path`` (one per SparkContext), in
    name order.  Job and stage ids restart with each context, so each
    file is parsed alone and the results are merged under fresh ids."""
    merged = EventLog()
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if name.startswith(".") or not os.path.isfile(full):
            continue
        with open(full, encoding="utf-8") as f:
            log = parse_lines(f)
        s_off, j_off = len(merged.stages), len(merged.jobs)
        remap = {sid: s_off + k for k, sid in enumerate(sorted(log.stages))}
        for sid, st in log.stages.items():
            st.stage_id = remap[sid]
            merged.stages[remap[sid]] = st
        for k, jid in enumerate(sorted(log.jobs)):
            job = log.jobs[jid]
            job.job_id = j_off + k
            job.stage_ids = [remap[s] for s in job.stage_ids if s in remap]
            merged.jobs[job.job_id] = job
    return merged


@dataclass
class PassStats:
    """Task-level figures of one job group (one timed pass)."""

    wall_ms: int
    tasks: int  # tasks of the Python (mapInPandas) stages
    python_task_ms: int  # summed run time of those tasks
    task_ms_p50: float
    task_ms_max: int
    run_ms: int  # summed run time of every task in the group
    shuffle_write_bytes: int
    jobs: int

    @property
    def task_skew(self) -> float:
        return self.task_ms_max / self.task_ms_p50 if self.task_ms_p50 else 0.0

    def slot_occupancy(self, cores: int) -> float:
        return self.run_ms / (cores * self.wall_ms) if self.wall_ms else 0.0


def pass_stats(log: EventLog, group: str) -> PassStats:
    jobs = log.jobs_in(group)
    if not jobs:
        raise ValueError(f"no Spark job in group {group!r}")
    tasks = [t for j in jobs for s in log.stages_of(j) for t in s.tasks]
    py = [t.run_ms for j in jobs for s in log.stages_of(j) if s.is_python for t in s.tasks]
    end = max(j.end_ms or j.submit_ms for j in jobs)
    return PassStats(
        wall_ms=end - min(j.submit_ms for j in jobs),
        tasks=len(py),
        python_task_ms=sum(py),
        task_ms_p50=median(py),
        task_ms_max=max(py, default=0),
        run_ms=sum(t.run_ms for t in tasks),
        shuffle_write_bytes=sum(t.shuffle_write_bytes for t in tasks),
        jobs=len(jobs),
    )
