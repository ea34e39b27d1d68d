"""Parser for Spark's JSON event log, and the driver-time rule.

Two rules matter and are pinned by ``test_eventlog.py``:

- Driver time of an op is its wall time minus the *union* of the
  intervals of the jobs it ran, clipped to the op. Jobs may overlap
  (a probe job submitted beside a build job), so summing or chaining
  them by job id would count some time twice or go negative.
- A job with no ``SparkListenerJobEnd`` is flagged, not read as 0 s:
  it is taken to run until the end of its op, so its time is never
  credited to the driver.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    start: float  # epoch seconds
    end: float | None  # None: the log has no SparkListenerJobEnd for it
    group: str | None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageTasks:
    tasks: int = 0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    spill_bytes: int = 0
    shuffle_bytes: int = 0
    input_records: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageTasks] = field(default_factory=dict)

    def stage_tasks(self, job: Job) -> StageTasks:
        """Task totals over the stages of ``job`` (skipped stages ran
        no tasks and add nothing)."""
        out = StageTasks()
        for sid in job.stage_ids:
            st = self.stages.get(sid)
            if st is None:
                continue
            out.tasks += st.tasks
            out.cpu_ns += st.cpu_ns
            out.gc_ms += st.gc_ms
            out.spill_bytes += st.spill_bytes
            out.shuffle_bytes += st.shuffle_bytes
            out.input_records += st.input_records
        return out


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                start=ev["Submission Time"] / 1000.0,
                end=None,
                group=props.get("spark.jobGroup.id"),
                stage_ids=list(ev.get("Stage IDs", [])),
            )
            log.jobs[job.job_id] = job
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            st = log.stages.setdefault(ev["Stage ID"], StageTasks())
            st.tasks += 1
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return log


def parse_dir(log_dir: str) -> EventLog:
    """Parse the single application log Spark wrote under ``log_dir``
    (finished or still ``.inprogress``)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        return parse_lines(f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``intervals``: sort by start, merge
    overlaps, sum the merged runs."""
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


def driver_time(op_start: float, op_end: float, jobs: list[Job]) -> tuple[float, int]:
    """``(driver seconds, unfinished jobs)`` for one op: its wall minus
    the union of its jobs' intervals clipped to ``[op_start, op_end]``.
    A job without an end counts as running until ``op_end`` and is
    returned in the unfinished count."""
    intervals = []
    unfinished = 0
    for j in jobs:
        end = j.end
        if end is None:
            unfinished += 1
            end = op_end
        intervals.append((max(j.start, op_start), min(end, op_end)))
    return (op_end - op_start) - union_length(intervals), unfinished
