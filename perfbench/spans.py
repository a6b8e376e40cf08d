"""Spans recorded around the benchmark's calls into the engine, and the
Spark job and stage counters attributed to them.

A span is (name, start, end, parent). Spans live in memory and are
written once, when the run ends. Spark's own counters come from the
status REST API the driver UI serves (the same API
``sources/metrics.py`` reads): after each timed operation the tracer
pulls the jobs and stages it has not seen yet and gives each job to the
innermost span open when the job was submitted. Jobs that run at the
same time (``session.run_concurrently``) overlap in time, so a span's
Spark time is the UNION of its jobs' intervals, never their sum; its
driver time is its wall time minus that union.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals; overlapping
    parts count once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """The parts of ``intervals`` inside ``[lo, hi]``."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def _rest_time(stamp: str | None) -> float | None:
    # "2026-10-17T02:18:24.215GMT" -> epoch seconds
    if not stamp:
        return None
    return _dt.datetime.strptime(stamp[:-3], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=_dt.timezone.utc
    ).timestamp()


class Tracer:
    """Span recorder. Disabled, ``span`` only yields, so the untraced run
    pays nothing; the end-to-end timings never depend on it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        self._rest = None

    def attach(self, spark) -> None:
        """Point the tracer at a live session's status API."""
        sc = spark.sparkContext
        if self.enabled and sc.uiWebUrl:
            self._rest = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1].id if self._stack else None,
            start=time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def _get(self, what: str) -> list[dict]:
        with urllib.request.urlopen(f"{self._rest}/{what}", timeout=30) as r:
            return json.load(r)

    def collect(self) -> None:
        """Pull finished jobs and stages not seen yet and attribute each
        new job to the innermost span that was open at its submission.
        Call between operations: the UI keeps only its latest 1000 jobs."""
        if not self.enabled or self._rest is None:
            return
        new = [
            j for j in self._get("jobs")
            if j["jobId"] not in self.jobs and j.get("completionTime")
        ]
        for st in self._get("stages"):
            if st["status"] in ("COMPLETE", "SKIPPED", "FAILED"):
                self.stages[(st["stageId"], st["attemptId"])] = st
        for j in new:
            j["_start"] = _rest_time(j["submissionTime"])
            j["_end"] = _rest_time(j["completionTime"])
            self.jobs[j["jobId"]] = j
            owner = None
            for sp in self.spans:
                if sp.start <= j["_start"] <= (sp.end or float("inf")):
                    if owner is None or sp.start >= owner.start:
                        owner = sp
            if owner is not None:
                owner.jobs.append(j["jobId"])

    # ------------------------------------------------------------ queries
    def descendants(self, sp: Span) -> list[Span]:
        out, todo = [], [sp.id]
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        while todo:
            for c in kids.get(todo.pop(), []):
                out.append(c)
                todo.append(c.id)
        return out

    def span_jobs(self, sp: Span) -> list[dict]:
        """Jobs of ``sp`` and every span under it."""
        ids = list(sp.jobs)
        for d in self.descendants(sp):
            ids.extend(d.jobs)
        return [self.jobs[i] for i in ids if i in self.jobs]

    def spark_s(self, sp: Span) -> float:
        """Wall time of ``sp`` during which at least one of its jobs ran."""
        ivs = [(j["_start"], j["_end"]) for j in self.span_jobs(sp)]
        return union_length(clip(ivs, sp.start, sp.end))

    def driver_s(self, sp: Span) -> float:
        return sp.wall - self.spark_s(sp)

    def self_s(self, sp: Span) -> float:
        """Wall time of ``sp`` not covered by its direct children."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == sp.id]
        return sp.wall - union_length(clip(kids, sp.start, sp.end))

    def stage_sum(self, jobs: list[dict], key: str) -> float:
        """Sum of a stage counter over the stages ``jobs`` ran (skipped
        stages ran nothing; every attempt of a retried stage counts)."""
        total = 0.0
        for j in jobs:
            for sid in j["stageIds"]:
                attempt = 0
                while (sid, attempt) in self.stages:
                    st = self.stages[(sid, attempt)]
                    if st["status"] != "SKIPPED":
                        total += st.get(key) or 0
                    attempt += 1
        return total

    def as_dict(self) -> dict:
        """Spans and jobs, JSON-ready."""
        return {
            "spans": [
                {"id": s.id, "name": s.name, "parent": s.parent,
                 "start": s.start, "end": s.end, "jobs": s.jobs}
                for s in self.spans
            ],
            "jobs": [
                {"id": j["jobId"], "start": j["_start"], "end": j["_end"],
                 "stages": j["stageIds"], "tasks": j["numTasks"]}
                for j in self.jobs.values()
            ],
        }
