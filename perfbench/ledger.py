"""Spark event-log ledger: jobs, tasks and their cost per request.

Reads an uncompressed, non-rolling event log (one JSON object per
line) with the standard library only, and attributes every job, and
the tasks of the stages it ran, to one benchmark request.

A job belongs to the request named by its local property ``TAG_PROP``,
which the benchmark sets on the thread that issues the request (for a
streaming micro-batch, Spark's query thread). A job without it, e.g.
one submitted from a helper thread the program started, falls to the
innermost request whose wall-clock window contains its submission
time. The benchmark drives the program from one client thread, so the
window rule is exact.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

TAG_PROP = "perfbench.request"


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int | None = None
    tag: str | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Cost:
    """What Spark did for one request."""

    jobs: int = 0
    tasks: int = 0
    job_busy_s: float = 0.0
    driver_s: float = 0.0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0


class EventLog:
    """Jobs and per-stage task totals parsed from one event log."""

    def __init__(self, lines) -> None:
        self.jobs: dict[int, Job] = {}
        #: stage id -> id of the job that ran it: the latest job to list
        #: the stage before it was submitted (a stage listed again by a
        #: later job is skipped there, as its output is reused)
        self.stage_job: dict[int, int] = {}
        self._listed: dict[int, int] = {}
        #: stage id -> [tasks, run ms, cpu ns, shuffle bytes written]
        self.stage_cost: dict[int, list[int]] = {}
        for line in lines:
            if line.strip():
                self._event(json.loads(line))

    @classmethod
    def from_file(cls, path: str) -> EventLog:
        with open(path) as f:
            return cls(f)

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(
                job_id=ev["Job ID"],
                start_ms=ev["Submission Time"],
                tag=(ev.get("Properties") or {}).get(TAG_PROP),
                stage_ids=list(ev.get("Stage IDs") or []),
            )
            self.jobs[job.job_id] = job
            for s in job.stage_ids:
                self._listed[s] = job.job_id
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in self._listed:
                self.stage_job[sid] = self._listed[sid]
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            c = self.stage_cost.setdefault(ev["Stage ID"], [0, 0, 0, 0])
            c[0] += 1
            c[1] += m.get("Executor Run Time", 0)
            c[2] += m.get("Executor CPU Time", 0)
            c[3] += sw.get("Shuffle Bytes Written", 0)

    def attribute(self, windows: dict[str, tuple[float, float]]) -> dict[str, Cost]:
        """Cost of each request in ``windows`` (tag -> (start, end)
        wall-clock seconds). Jobs whose tag names no request and whose
        submission falls in no window are left out."""
        by_tag: dict[str, list[Job]] = {t: [] for t in windows}
        # latest start first: the innermost of nested windows wins
        ordered = sorted(windows.items(), key=lambda kv: -kv[1][0])
        for job in self.jobs.values():
            tag = job.tag if job.tag in by_tag else None
            if tag is None:
                t = job.start_ms / 1000.0
                for name, (lo, hi) in ordered:
                    if lo <= t <= hi:
                        tag = name
                        break
            if tag is not None:
                by_tag[tag].append(job)
        runs: dict[int, list[int]] = {}
        for sid, jid in self.stage_job.items():
            runs.setdefault(jid, []).append(sid)
        out = {}
        for tag, jobs in by_tag.items():
            lo, hi = windows[tag]
            cost = Cost(jobs=len(jobs))
            spans = []
            for job in jobs:
                end = job.end_ms if job.end_ms is not None else job.start_ms
                spans.append((job.start_ms / 1000.0, end / 1000.0))
                for sid in runs.get(job.job_id, ()):
                    n, run_ms, cpu_ns, sw = self.stage_cost.get(sid, (0, 0, 0, 0))
                    cost.tasks += n
                    cost.task_run_s += run_ms / 1000.0
                    cost.task_cpu_s += cpu_ns / 1e9
                    cost.shuffle_write_bytes += sw
            cost.job_busy_s = union_length(spans, lo, hi)
            cost.driver_s = max(0.0, (hi - lo) - cost.job_busy_s)
            out[tag] = cost
        return out


def union_length(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
