"""Spans for the benchmark's traced runs.

A span wraps one call the harness makes into the program (a build, a
write, a query, a layer prefix). While it is open, the span id is set
as the ``perfbench.span`` local property and as the job description,
so every Spark job and stage it issues carries the id into the event
log. Spans stay in memory; after the session stops, ``SpanStats``
hangs the jobs and stages read from the event log under their spans,
sums their task metrics per span (children included) and writes
everything out as one span file.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

from eventlog import SPAN_PROP, EventLog


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _tag(self, span: dict | None) -> None:
        self.sc.setLocalProperty(SPAN_PROP, span["id"] if span else None)
        self.sc.setJobDescription(span["name"] if span else None)

    @contextmanager
    def span(self, name: str):
        """Open a span around the calls in the ``with`` body; yields the
        span record (or None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        rec = {"id": f"{self.run_id}.{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "run_id": self.run_id, "kind": "call",
               "start": time.time(), "end": None, "wall_s": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)


@dataclass
class Stats:
    task_s: float = 0.0
    gc_s: float = 0.0
    fetch_wait_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_in_mb: float = 0.0
    stages: int = 0
    jobs: int = 0
    task_fail: int = 0

    def __add__(self, other: "Stats") -> "Stats":
        return Stats(**{k: getattr(self, k) + getattr(other, k)
                        for k in self.__dataclass_fields__})

    def __sub__(self, other: "Stats") -> "Stats":
        return Stats(**{k: getattr(self, k) - getattr(other, k)
                        for k in self.__dataclass_fields__})


def _innermost(spans: list[dict], t: float) -> str | None:
    """Id of the innermost call span open at epoch second ``t``."""
    best = None
    for rec in spans:
        if rec["start"] <= t <= (rec["end"] or rec["start"]):
            if best is None or rec["start"] >= best["start"]:
                best = rec
    return best["id"] if best else None


class SpanStats:
    """Task metrics of the event log summed per span, children
    included."""

    def __init__(self, spans: list[dict], log: EventLog):
        self.spans = spans
        self.log = log
        known = {rec["id"] for rec in spans}
        # jobs and stages without the property (e.g. issued on a thread
        # that did not inherit it) go to the innermost span open at
        # their submission time
        for job in log.jobs.values():
            if job.span not in known:
                job.span = _innermost(spans, job.submit_ms / 1e3)
        # a stage listed by several jobs ran in the first; the later
        # ones skipped it
        self.job_of_stage = {}
        for job in sorted(log.jobs.values(), key=lambda j: j.id):
            for sid in job.stage_ids:
                self.job_of_stage.setdefault(sid, job)
        for s in log.stages.values():
            if s.span not in known:
                job = self.job_of_stage.get(s.id)
                s.span = job.span if job else (
                    _innermost(spans, s.submit_ms / 1e3)
                    if s.submit_ms else None)
        self._children: dict[str | None, list[str]] = {}
        for rec in spans:
            self._children.setdefault(rec["parent"], []).append(rec["id"])

    def _subtree(self, span_id: str) -> set[str]:
        out, todo = set(), [span_id]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(self._children.get(sid, []))
        return out

    def stages_of(self, span_id: str):
        ids = self._subtree(span_id)
        return [s for s in self.log.stages.values()
                if s.span in ids and s.tasks]

    def of(self, span_id: str) -> Stats:
        ids = self._subtree(span_id)
        st = Stats()
        st.jobs = sum(1 for j in self.log.jobs.values() if j.span in ids)
        for s in self.stages_of(span_id):
            st.stages += 1
            for t in s.tasks:
                st.task_s += t.run_s
                st.gc_s += t.gc_s
                st.fetch_wait_s += t.fetch_wait_s
                st.shuffle_write_mb += t.shuffle_write_bytes / 1e6
                st.spill_mb += t.spill_bytes / 1e6
                st.python_in_mb += t.python_in_bytes / 1e6
                st.task_fail += int(t.failed or t.retry)
        return st

    def total(self) -> Stats:
        """Sum over every span root (the traced part of the run)."""
        return sum((self.of(rec["id"]) for rec in self.spans
                    if rec["parent"] is None), Stats())

    def max_task_ratio(self, span_id: str) -> float:
        """Max ÷ median task run time in the span's longest stage: the
        straggler signal."""
        stages = self.stages_of(span_id)
        if not stages:
            return 0.0
        longest = max(stages, key=lambda s: s.wall_s)
        runs = [t.run_s for t in longest.tasks]
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 0.0

    def write(self, path: Path) -> None:
        """Write the call spans plus the jobs and stages as child
        spans."""
        out = list(self.spans)
        run_id = self.spans[0]["run_id"] if self.spans else None
        for job in self.log.jobs.values():
            out.append({"id": f"job-{job.id}", "name": job.description
                        or f"job {job.id}", "parent": job.span,
                        "run_id": run_id, "kind": "job",
                        "start": job.submit_ms / 1e3,
                        "end": job.end_ms / 1e3 if job.end_ms else None,
                        "succeeded": job.succeeded})
            for sid in job.stage_ids:
                s = self.log.stages.get(sid)
                if s is None or not s.tasks \
                        or self.job_of_stage[sid] is not job:
                    continue
                out.append({"id": f"stage-{sid}", "name": s.name,
                            "parent": f"job-{job.id}", "run_id": run_id,
                            "kind": "stage",
                            "start": (s.submit_ms or 0) / 1e3,
                            "end": (s.complete_ms or 0) / 1e3,
                            "tasks": len(s.tasks),
                            "task_s": sum(t.run_s for t in s.tasks)})
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(out, indent=0))
