"""Spans recorded around calls into the engine, and the offline reader
of the Spark event log they are joined with.

A span is (name, start, end, parent).  The benchmark opens one around
every call into a public engine function and every Spark action it
triggers; with labelling on, each span also becomes the Spark job
description of the jobs it starts, which is how stages in the event log
are attributed to spans afterwards.  Spans are kept in memory only.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    label: str
    start: float
    end: float = 0.0
    parent: int | None = None
    # CPU seconds of the Python workers during the span, where recorded
    python_cpu_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``label_jobs`` each span's label is set as the
    Spark job description while the span is open."""

    def __init__(self, spark, label_jobs: bool) -> None:
        self.sc = spark.sparkContext
        self.label_jobs = label_jobs
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, label: str | None = None):
        parent = self._open[-1] if self._open else None
        label = label or name
        if self.label_jobs:
            self.sc.setJobDescription(label)
        sp = Span(name=name, label=label, start=time.time(), parent=parent)
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._open.pop()
            if self.label_jobs:
                self.sc.setJobDescription(self.spans[parent].label if parent is not None else None)


@dataclass
class Stage:
    stage_id: int
    label: str | None
    submitted: float = 0.0
    completed: float = 0.0
    num_tasks: int = 0
    accums: dict[str, float] = field(default_factory=dict)
    task_seconds: list[float] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.completed - self.submitted

    @property
    def python(self) -> bool:
        """True for a stage that ran a MapInArrow Python operator."""
        return "data sent to Python workers" in self.accums

    def acc(self, name: str) -> float:
        return self.accums.get(name, 0.0)

    def task_max_over_median(self) -> float:
        if not self.task_seconds:
            return 0.0
        med = statistics.median(self.task_seconds)
        return max(self.task_seconds) / med if med > 0 else 0.0


def read_stages(eventlog_dir: str) -> list[Stage]:
    """Completed stages of every application logged under
    ``eventlog_dir``, with the job description that submitted them,
    wall interval (epoch seconds), accumulables and task durations."""
    files = [p for p in glob.glob(os.path.join(eventlog_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(".")
             and not os.path.basename(p).startswith("appstatus")]
    stages: dict[tuple[str, int, int], Stage] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (path, info["Stage ID"], info["Stage Attempt ID"])
                    label = (ev.get("Properties") or {}).get("spark.job.description")
                    stages[key] = Stage(info["Stage ID"], label, num_tasks=info["Number of Tasks"])
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get((path, ev["Stage ID"], ev["Stage Attempt ID"]))
                    if st is not None:
                        ti = ev["Task Info"]
                        st.task_seconds.append((ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.get((path, info["Stage ID"], info["Stage Attempt ID"]))
                    if st is None or "Completion Time" not in info:
                        continue
                    st.submitted = info["Submission Time"] / 1000.0
                    st.completed = info["Completion Time"] / 1000.0
                    for acc in info.get("Accumulables", []):
                        try:
                            st.accums[acc["Name"]] = st.accums.get(acc["Name"], 0.0) + float(acc["Value"])
                        except (KeyError, TypeError, ValueError):
                            continue
    return [s for s in stages.values() if s.completed > 0]


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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
