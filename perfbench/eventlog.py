"""Per-action Spark metrics from a Spark event log (JSON lines).

An action is the set of jobs submitted under one job group
(``SparkContext.setJobGroup``), or, for work that runs on threads the
benchmark does not own (streaming micro-batches), the jobs submitted inside
a wall-clock interval. The parser is pure: it takes the log's lines.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class _Task:
    stage: int
    run_ms: float
    sched_delay_ms: float
    gc_ms: float
    shuffle_read: int
    shuffle_write: int
    spill: int


@dataclass
class _Job:
    group: str | None
    submit_ms: int
    stages: list[int] = field(default_factory=list)


@dataclass
class ActionStats:
    """What the jobs of one action did; ``wall_ms`` is supplied by the caller."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_ms: float = 0.0
    sched_delay_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 0.0  # max / median task run time in the slowest stage
    task_runs_ms: list[float] = field(default_factory=list)

    def core_busy_ratio(self, wall_ms: float, cores: int) -> float:
        return self.task_run_ms / (wall_ms * cores) if wall_ms > 0 else 0.0


@dataclass
class EventLog:
    jobs: dict[int, _Job]
    tasks: list[_Task]
    stage_wall_ms: dict[int, float]

    def _stats(self, job_ids: list[int]) -> ActionStats:
        stages = sorted({s for j in job_ids for s in self.jobs[j].stages
                         if s in self.stage_wall_ms})
        wanted = set(stages)
        tasks = [t for t in self.tasks if t.stage in wanted]
        out = ActionStats(
            jobs=len(job_ids),
            stages=len(stages),
            tasks=len(tasks),
            task_run_ms=sum(t.run_ms for t in tasks),
            sched_delay_ms=sum(t.sched_delay_ms for t in tasks),
            gc_ms=sum(t.gc_ms for t in tasks),
            shuffle_read_bytes=sum(t.shuffle_read for t in tasks),
            shuffle_write_bytes=sum(t.shuffle_write for t in tasks),
            spill_bytes=sum(t.spill for t in tasks),
            task_runs_ms=[t.run_ms for t in tasks],
        )
        if stages:
            slowest = max(stages, key=lambda s: self.stage_wall_ms[s])
            runs = [t.run_ms for t in tasks if t.stage == slowest]
            med = statistics.median(runs) if runs else 0.0
            out.task_skew = max(runs) / med if med > 0 else 1.0
        return out

    def by_group(self, group: str) -> ActionStats:
        return self._stats([j for j, job in self.jobs.items() if job.group == group])

    def in_interval(self, start_ms: float, end_ms: float) -> ActionStats:
        return self._stats([j for j, job in self.jobs.items()
                            if start_ms <= job.submit_ms <= end_ms])


def parse(lines) -> EventLog:
    """Read the job, stage and task records of an event log."""
    jobs: dict[int, _Job] = {}
    tasks: list[_Task] = []
    stage_wall: dict[int, float] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = _Job(props.get("spark.jobGroup.id"),
                                      ev.get("Submission Time", 0),
                                      list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_wall[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"])
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            run = m.get("Executor Run Time", 0)
            busy = (m.get("Executor Deserialize Time", 0) + run
                    + m.get("Result Serialization Time", 0))
            span = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(_Task(
                stage=ev["Stage ID"],
                run_ms=run,
                sched_delay_ms=max(0, span - busy - info.get("Getting Result Time", 0)),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                shuffle_write=sw.get("Shuffle Bytes Written", 0),
                spill=m.get("Disk Bytes Spilled", 0),
            ))
    return EventLog(jobs, tasks, stage_wall)
