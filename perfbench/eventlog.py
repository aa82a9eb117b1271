"""Reader for one Spark application's event log (uncompressed JSON lines).

Spark 4.1 writes ``eventlog_v2_<app>/events_<n>_<app>`` rolling files when
rolling is on, and a single ``<app>`` file when it is off; both are read.

Every job carries the local properties the benchmark set before the call
that launched it (``perfbench.phase``, ``perfbench.rep``), so jobs, stages
and tasks are attributed to the phase and rep that caused them. SQL metric
units come from the plan's ``metricType`` (``timing`` is ms, ``nsTiming``
is ns, ``size`` is bytes).
"""

from __future__ import annotations

import json
import pathlib
import statistics
from dataclasses import dataclass, field

PHASE_PROP = "perfbench.phase"
REP_PROP = "perfbench.rep"

_PY_START = "time to start Python workers"
_PY_INIT = "time to initialize Python workers"
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"
_SCAN = "scan time"


@dataclass
class Job:
    id: int
    submit: float
    complete: float = 0.0
    phase: str = ""
    rep: int = -1


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    shuffle_write_bytes: int
    sql: dict[str, float] = field(default_factory=dict)  # name → seconds/bytes


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stage_job: dict[int, int]
    tasks: list[Task]

    def phase_jobs(self, phase: str, rep: int) -> list[Job]:
        return [j for j in self.jobs.values() if j.phase == phase and j.rep == rep]

    def phase_tasks(self, phase: str, rep: int) -> list[Task]:
        ids = {j.id for j in self.phase_jobs(phase, rep)}
        return [t for t in self.tasks if self.stage_job.get(t.stage) in ids]


def event_files(log_dir: pathlib.Path) -> list[pathlib.Path]:
    """The event files of the single application logged under ``log_dir``,
    in write order."""
    rolled = sorted(log_dir.glob("eventlog_v2_*/events_*"),
                    key=lambda p: int(p.name.split("_")[1]))
    if rolled:
        return rolled
    return sorted(p for p in log_dir.iterdir()
                  if p.is_file() and not p.name.startswith("."))


def _metric_types(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["metricType"]
    for c in plan.get("children", []):
        _metric_types(c, out)


_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def read(log_dir: pathlib.Path) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    metric_type: dict[int, str] = {}
    raw_tasks: list[tuple[int, dict, dict]] = []
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    j = Job(e["Job ID"], e["Submission Time"] / 1e3,
                            phase=props.get(PHASE_PROP, ""),
                            rep=int(props.get(REP_PROP, -1)))
                    jobs[j.id] = j
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, j.id)
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].complete = e["Completion Time"] / 1e3
                elif ev == "SparkListenerTaskEnd":
                    raw_tasks.append(
                        (e["Stage ID"], e["Task Info"], e.get("Task Metrics") or {})
                    )
                elif ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _metric_types(e["sparkPlanInfo"], metric_type)
    tasks = []
    for stage, info, metrics in raw_tasks:
        sql: dict[str, float] = {}
        for a in info.get("Accumulables", []):
            if a.get("Metadata") != "sql" or "Update" not in a:
                continue
            scale = _SCALE.get(metric_type.get(a["ID"], ""), 1.0)
            sql[a["Name"]] = sql.get(a["Name"], 0.0) + float(a["Update"]) * scale
        sw = metrics.get("Shuffle Write Metrics") or {}
        tasks.append(Task(stage, info["Launch Time"] / 1e3,
                          info["Finish Time"] / 1e3,
                          int(sw.get("Shuffle Bytes Written", 0)), sql))
    return EventLog(jobs, stage_job, tasks)


def operator_numbers(log: EventLog, phase: str, rep: int) -> dict[str, float]:
    """Per-operator totals of one phase of one rep."""
    tasks = log.phase_tasks(phase, rep)
    durs = [t.finish - t.launch for t in tasks]

    def total(name: str) -> float:
        return sum(t.sql.get(name, 0.0) for t in tasks)

    med = statistics.median(durs) if durs else 0.0
    return {
        "spark_jobs": len(log.phase_jobs(phase, rep)),
        "tasks": len(tasks),
        "task_max_over_median": max(durs) / med if med > 0 else 0.0,
        "py_run_s": total(_PY_RUN),
        "py_init_s": total(_PY_START) + total(_PY_INIT),
        "arrow_to_py_mb": total(_PY_SENT) / 1e6,
        "arrow_from_py_mb": total(_PY_BACK) / 1e6,
        "scan_s": total(_SCAN),
        "shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / 1e6,
        "executor_busy_s": sum(durs),
    }


def task_intervals(log: EventLog, phase: str, rep: int) -> list[tuple[float, float]]:
    return [(t.launch, t.finish) for t in log.phase_tasks(phase, rep)]


def job_intervals(log: EventLog) -> list[tuple[float, float, int]]:
    """(submit, complete, rep) of every job that finished."""
    return [(j.submit, j.complete, j.rep) for j in log.jobs.values() if j.complete]
