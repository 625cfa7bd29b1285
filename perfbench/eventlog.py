"""Spark task metrics from the event log, grouped by benchmark spans.

The benchmark wraps each call into the engine in a :class:`Spans` span,
which sets a Spark job group for the call. After the session stops, the
event log is folded per job and then per span: a job belongs to the span
whose group it carries, or, for jobs the engine submits from its own
threads (which do not inherit the group), to the span whose wall interval
contains the job's submission.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Span:
    name: str
    group: str
    start_ms: float
    end_ms: float = 0.0

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms


class Spans:
    """In-memory span recorder; one job group per span."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        group = f"pb{len(self.spans)}:{name}"
        s = Span(name, group, time.time() * 1000)
        self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000
            self.sc.setLocalProperty(GROUP_KEY, None)
            self.spans.append(s)


@dataclass
class Job:
    group: str | None
    start_ms: float
    end_ms: float = 0.0
    stages: list[int] = field(default_factory=list)


_COUNTERS = ("cpu_ns", "shuffle_write_b", "spill_b", "input_b", "input_rows", "python_b")


class EventLog:
    def __init__(self, events_dir: str) -> None:
        files = [f for f in glob.glob(os.path.join(events_dir, "*")) if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {events_dir}, found {files}")
        self.jobs: dict[int, Job] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_totals: dict[int, dict[str, float]] = {}
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job = Job(props.get(GROUP_KEY), float(ev["Submission Time"]), stages=ev["Stage IDs"])
            self.jobs[jid] = job
            for sid in job.stages:
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]].end_ms = float(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                return
            t = self.stage_totals.setdefault(ev["Stage ID"], dict.fromkeys(_COUNTERS, 0.0))
            t["cpu_ns"] += m.get("Executor CPU Time", 0)
            t["spill_b"] += m.get("Disk Bytes Spilled", 0)
            t["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            inp = m.get("Input Metrics") or {}
            t["input_b"] += inp.get("Bytes Read", 0)
            t["input_rows"] += inp.get("Records Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in (PY_SENT, PY_RECV):
                    t["python_b"] += float(acc.get("Update") or 0)

    def jobs_of(self, span: Span) -> list[int]:
        return [
            jid
            for jid, j in self.jobs.items()
            if j.group == span.group
            or (j.group is None and span.start_ms <= j.start_ms <= span.end_ms)
        ]

    def totals(self, job_ids: list[int]) -> dict[str, float]:
        out = dict.fromkeys(_COUNTERS, 0.0)
        wanted = set(job_ids)
        for sid, jid in self.stage_job.items():
            if jid in wanted and sid in self.stage_totals:
                for k, v in self.stage_totals[sid].items():
                    out[k] += v
        out["jobs"] = float(len(job_ids))
        return out

    def span_totals(self, span: Span) -> dict[str, float]:
        jids = self.jobs_of(span)
        out = self.totals(jids)
        out["job_covered_ms"] = self._covered_ms(jids, span)
        return out

    def window_totals(self, span: Span) -> dict[str, float]:
        """Totals of every job submitted during ``span``, whatever its group:
        for a span that encloses spans of its own."""
        jids = [j for j, job in self.jobs.items() if span.start_ms <= job.start_ms <= span.end_ms]
        out = self.totals(jids)
        out["job_covered_ms"] = self._covered_ms(jids, span)
        return out

    def _covered_ms(self, job_ids: list[int], span: Span) -> float:
        """Wall time of ``span`` during which at least one of its jobs ran."""
        iv = sorted(
            (max(self.jobs[j].start_ms, span.start_ms), min(self.jobs[j].end_ms or span.end_ms, span.end_ms))
            for j in job_ids
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered
