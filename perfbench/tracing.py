"""Spans recorded around the benchmark's calls into the program, and the
Spark event-log fold that attributes jobs, stages and task metrics to them.

A span stores the range of Spark job ids submitted while it was open
(``jobs_before``, ``jobs_after``]: ids are sequential per SparkContext, so
the range catches jobs submitted from any thread, including the pool
threads ``CrawlEngine._write_state`` submits its writes from (a job group
set on the calling thread would not reach those).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def last_job_id(spark) -> int:
    """Highest job id the context has submitted so far (-1 before any)."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup()
    return max(ids) if ids else -1


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    jobs_before: int = -1
    jobs_after: int = -1

    @property
    def wall(self) -> float:
        return self.end - self.start

    def job_ids(self) -> range:
        return range(self.jobs_before + 1, self.jobs_after + 1)


@dataclass
class Tracer:
    """Records spans when ``enabled``; a disabled tracer only times."""

    spark: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        """Time a block; when enabled, also record it with its job-id range
        (a span opened before the session exists starts at job -1)."""
        sp = Span(name, self._stack[-1] if self._stack else None, time.perf_counter())
        if self.enabled and self.spark is not None:
            sp.jobs_before = last_job_id(self.spark)
        self._stack.append(name)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()
            if self.enabled:
                sp.jobs_after = last_job_id(self.spark)
                self.spans.append(sp)

    def to_json(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "parent": s.parent,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "jobs": [s.jobs_before + 1, s.jobs_after],
            }
            for s in self.spans
        ]


@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0

    def add(self, other: "StageTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    job_stages: dict[int, list[int]]
    stage_totals: dict[int, StageTotals]

    def totals(self, job_ids) -> StageTotals:
        """Executed stages of ``job_ids`` (skipped stages have no tasks)."""
        out = StageTotals()
        seen: set[int] = set()
        for j in job_ids:
            for s in self.job_stages.get(j, ()):
                if s in self.stage_totals and s not in seen:
                    seen.add(s)
                    out.add(self.stage_totals[s])
        return out


def read_event_log(log_dir: str) -> EventLog:
    """Fold an uncompressed Spark event log (one JSON event per line)."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    files = [f for f in files if os.path.isfile(f) and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    job_stages: dict[int, list[int]] = {}
    stage_totals: dict[int, StageTotals] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job_stages[ev["Job ID"]] = list(ev["Stage IDs"])
            elif kind == "SparkListenerStageCompleted":
                stage_totals.setdefault(ev["Stage Info"]["Stage ID"], StageTotals()).stages = 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                st = stage_totals.setdefault(ev["Stage ID"], StageTotals())
                st.tasks += 1
                if not m:
                    continue
                st.run_s += m["Executor Run Time"] / 1e3
                st.cpu_s += m["Executor CPU Time"] / 1e9
                st.gc_s += m["JVM GC Time"] / 1e3
                sr = m["Shuffle Read Metrics"]
                st.shuffle_read_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                st.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                st.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                st.output_bytes += m["Output Metrics"]["Bytes Written"]
    return EventLog(job_stages, stage_totals)
