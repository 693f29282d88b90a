"""Spans recorded around calls into the engine, and the attribution of
Spark's event-log task metrics to them.

A span sets the Spark job group to its id, so every job the engine
submits inside it carries ``spark.jobGroup.id`` in the event log.
Streaming queries run on their own thread under their own job group;
their jobs are attributed to the innermost span open at the job's
submission time instead. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(f"kgbench-span-{len(self.spans)}", name,
                 parent.sid if parent else None, time.time())
        self.spans.append(s)
        self._open.append(s)
        self.sc.setJobGroup(s.sid, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.sid, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


@dataclass
class JobStats:
    jobs: int = 0
    run_s: float = 0.0  # executor run time summed over tasks
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0


_WANTED = tuple(f'{{"Event":"SparkListener{k}"' for k in ("JobStart", "TaskEnd"))


def _parse_event_log(path: str):
    """-> (jobs [(job_id, submit_s, group)], {job_id: JobStats})."""
    jobs = []
    stage_job: dict[int, int] = {}
    stats: dict[int, JobStats] = {}
    with open(path) as f:
        for line in f:
            # only job starts and task ends matter; skip decoding the
            # (large) SQL plan events
            if not line.startswith(_WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs.append((jid, ev["Submission Time"] / 1000.0,
                             props.get("spark.jobGroup.id")))
                stats[jid] = JobStats(jobs=1)
                for st in ev["Stage IDs"]:
                    stage_job.setdefault(st, jid)
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                js = stats[jid]
                js.run_s += m["Executor Run Time"] / 1000.0
                js.shuffle_mb += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
                )
                js.spill_mb += m["Disk Bytes Spilled"] / 1e6
    return jobs, stats


def attribute(spans: list[Span], event_log: str) -> dict[str, JobStats]:
    """Job metrics summed per span id over the jobs attributed to that
    span itself (not its children)."""
    jobs, stats = _parse_event_log(event_log)
    by_id = {s.sid: s for s in spans}
    out = {s.sid: JobStats() for s in spans}
    for jid, submit, group in jobs:
        s = by_id.get(group)
        if s is None:
            inside = [x for x in spans if x.start <= submit <= x.end]
            if not inside:
                continue  # outside every span: counts, checks, set-up
            s = max(inside, key=lambda x: x.start)
        acc, js = out[s.sid], stats[jid]
        acc.jobs += 1
        acc.run_s += js.run_s
        acc.shuffle_mb += js.shuffle_mb
        acc.spill_mb += js.spill_mb
    return out


def self_wall(span: Span, spans: list[Span]) -> float:
    """Span wall minus the part its child spans cover."""
    return span.wall - sum(c.wall for c in spans if c.parent == span.sid)
