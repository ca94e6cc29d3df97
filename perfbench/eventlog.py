"""Reader for Spark's JSON event log, as the benchmark's traced runs
write it.

Reads job, stage and task events into plain records:

* jobs carry their ``Properties``, so the ``perfbench.span`` local
  property set by the harness maps every job and stage to the span
  that issued it;
* tasks carry run time, GC, shuffle fetch wait and write bytes, spill,
  the "data sent to Python workers" SQL metric from ``Accumulables``,
  and whether the attempt failed or was a retry.

Handles both layouts Spark writes: a single file (event log v1) and
Spark 4's rolling directory ``eventlog_v2_<app>/events_<n>_<app>``,
whose parts are read in numeric order. The benchmark turns event-log
compression off, so parts are plain JSON lines.

``tools/bench_stage_decompose.py`` has a per-stage reader too; it drops
job properties and accumulables and orders rolling parts as strings
(``events_10`` before ``events_2``), so this module does not reuse it.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

SPAN_PROP = "perfbench.span"
PYTHON_IN_METRIC = "data sent to Python workers"


@dataclass
class Task:
    stage: int
    run_s: float
    gc_s: float
    fetch_wait_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    python_in_bytes: int
    failed: bool          # ended with a reason other than Success
    retry: bool           # attempt > 0 or speculative copy


@dataclass
class Stage:
    id: int
    name: str = ""
    submit_ms: int | None = None
    complete_ms: int | None = None
    span: str | None = None
    tasks: list[Task] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        if self.submit_ms is None or self.complete_ms is None:
            return 0.0
        return (self.complete_ms - self.submit_ms) / 1e3


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)
    span: str | None = None
    description: str | None = None
    succeeded: bool | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)


def log_parts(log_dir: Path) -> list[Path]:
    """Event-log files of the single application logged under
    ``log_dir``, in write order."""
    apps = [p for p in Path(log_dir).iterdir()
            if not p.name.startswith(".")]
    if len(apps) != 1:
        raise ValueError(f"expected one application log in {log_dir}, "
                         f"found {[p.name for p in apps]}")
    app = apps[0]
    if app.is_file():
        return [app]

    def index(p: Path) -> int:
        m = re.match(r"events_(\d+)_", p.name)
        return int(m.group(1)) if m else -1

    parts = sorted((p for p in app.iterdir()
                    if p.name.startswith("events_")), key=index)
    if not parts:
        raise ValueError(f"no events_* parts in {app}")
    return parts


def _accum(task_info: dict, name: str) -> int:
    total = 0
    for acc in task_info.get("Accumulables") or []:
        if acc.get("Name") == name:
            total += int(acc.get("Update") or 0)
    return total


def read_event_log(log_dir: Path) -> EventLog:
    log = EventLog()

    def stage(sid: int) -> Stage:
        if sid not in log.stages:
            log.stages[sid] = Stage(sid)
        return log.stages[sid]

    for part in log_parts(log_dir):
        with part.open() as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    log.jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"],
                        stage_ids=list(ev.get("Stage IDs") or []),
                        span=props.get(SPAN_PROP),
                        description=props.get("spark.job.description"))
                elif kind == "SparkListenerJobEnd":
                    job = log.jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end_ms = ev.get("Completion Time")
                        job.succeeded = (ev.get("Job Result") or {}).get(
                            "Result") == "JobSucceeded"
                elif kind in ("SparkListenerStageSubmitted",
                              "SparkListenerStageCompleted"):
                    info = ev["Stage Info"]
                    s = stage(info["Stage ID"])
                    s.name = info.get("Stage Name", s.name)
                    s.submit_ms = info.get("Submission Time") or s.submit_ms
                    if kind == "SparkListenerStageCompleted":
                        s.complete_ms = info.get("Completion Time")
                    props = ev.get("Properties") or {}
                    if props.get(SPAN_PROP):
                        s.span = props[SPAN_PROP]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    stage(ev["Stage ID"]).tasks.append(Task(
                        stage=ev["Stage ID"],
                        run_s=m.get("Executor Run Time", 0) / 1e3,
                        gc_s=m.get("JVM GC Time", 0) / 1e3,
                        fetch_wait_s=sr.get("Fetch Wait Time", 0) / 1e3,
                        shuffle_write_bytes=sw.get("Shuffle Bytes Written",
                                                   0),
                        spill_bytes=m.get("Disk Bytes Spilled", 0),
                        python_in_bytes=_accum(info, PYTHON_IN_METRIC),
                        failed=reason != "Success",
                        retry=bool(info.get("Attempt", 0))
                        or bool(info.get("Speculative"))))
    # a stage submitted without the span property (e.g. by a thread that
    # did not inherit it) takes the span of the job that ran it
    for job in log.jobs.values():
        for sid in job.stage_ids:
            s = log.stages.get(sid)
            if s is not None and s.span is None and job.span:
                s.span = job.span
    return log
