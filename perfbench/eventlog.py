"""Reader for Spark's uncompressed, non-rolling JSON event log.

It folds task-level metrics into the job that ran them, and each job
carries the job group it was submitted under (the benchmark runs every
traced call under a group of its own) plus its `callSite.short`, which
PySpark sets only for jobs started from the driver thread. Jobs that
AQE or broadcast exchanges start on other threads inherit the group
but have no call site, so the group is the primary key.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, fields

PY_RUN = "time to run Python workers"  # ms per task
PY_SENT = "data sent to Python workers"  # bytes per task
MB = 1024 * 1024


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    py_run_s: float = 0.0
    py_sent_mb: float = 0.0

    def add(self, other: Totals) -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


@dataclass
class Job:
    job_id: int
    group: str | None
    call_site: str | None
    submit_s: float
    end_s: float | None = None
    stage_ids: list[int] = field(default_factory=list)
    totals: Totals = field(default_factory=lambda: Totals(jobs=1))


def _accum(task_info: dict, name: str) -> float:
    return sum(
        float(a.get("Update") or 0)
        for a in task_info.get("Accumulables", ())
        if a.get("Name") == name
    )


def read_jobs(path: str) -> list[Job]:
    """Every job in the log, in submission order, with its totals."""
    jobs: dict[int, Job] = {}
    stage_job: dict[tuple[int, int], Job] = {}  # (stage, attempt) -> job

    def job_of_stage(stage_id: int) -> Job | None:
        # a shuffle stage listed by several jobs runs in the latest one
        # that was submitted before it
        owners = [j for j in jobs.values() if stage_id in j.stage_ids]
        return max(owners, key=lambda j: j.job_id) if owners else None

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = Job(
                    job_id=jid,
                    group=props.get("spark.jobGroup.id"),
                    call_site=props.get("callSite.short"),
                    submit_s=ev["Submission Time"] / 1000.0,
                    stage_ids=list(ev.get("Stage IDs", ())),
                )
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_s = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                job = job_of_stage(info["Stage ID"])
                if job is not None:
                    stage_job[(info["Stage ID"], info["Stage Attempt ID"])] = job
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                job = stage_job.get((info["Stage ID"], info["Stage Attempt ID"]))
                if job is not None:
                    job.totals.stages += 1
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if job is None:
                    continue
                t = job.totals
                m = ev.get("Task Metrics") or {}
                t.tasks += 1
                t.exec_run_s += m.get("Executor Run Time", 0) / 1000.0
                t.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                sw = m.get("Shuffle Write Metrics") or {}
                t.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
                info = ev.get("Task Info") or {}
                t.py_run_s += _accum(info, PY_RUN) / 1000.0
                t.py_sent_mb += _accum(info, PY_SENT) / MB
    return sorted(jobs.values(), key=lambda j: j.job_id)


def totals(jobs: list[Job]) -> Totals:
    out = Totals()
    for j in jobs:
        out.add(j.totals)
    return out

