"""Pins the event-log parser's two rules on a synthetic log.

Run with ``python3 -m pytest perfbench/test_eventlog.py -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import driver_time, parse_lines, union_length  # noqa: E402


def _ev(kind: str, **fields) -> str:
    return json.dumps({"Event": kind, **fields})


def _job_start(job_id: int, t_ms: int, group: str, stages: list[int]) -> str:
    return _ev(
        "SparkListenerJobStart",
        **{"Job ID": job_id, "Submission Time": t_ms, "Stage IDs": stages,
           "Properties": {"spark.jobGroup.id": group}},
    )


def _job_end(job_id: int, t_ms: int) -> str:
    return _ev("SparkListenerJobEnd", **{"Job ID": job_id, "Completion Time": t_ms})


def _task_end(stage: int, launch: int, finish: int, cpu_ns: int) -> str:
    return _ev(
        "SparkListenerTaskEnd",
        **{"Stage ID": stage,
           "Task Info": {"Launch Time": launch, "Finish Time": finish},
           "Task Metrics": {"Executor Run Time": finish - launch,
                            "Executor CPU Time": cpu_ns, "JVM GC Time": 1,
                            "Input Metrics": {"Records Read": 10}}},
    )


# One op over [0 s, 10 s]. Job 1 runs 1-4 s, job 2 overlaps it at
# 3-6 s, and job 3 starts at 8 s and never logs an end.
SYNTHETIC = [
    _job_start(1, 1_000, "op7:merge", [1]),
    _job_start(2, 3_000, "op7:merge", [2]),
    _task_end(1, 1_100, 3_900, 2_000_000),
    _task_end(2, 3_100, 5_900, 1_000_000),
    _job_end(1, 4_000),
    _job_end(2, 6_000),
    _job_start(3, 8_000, "op7:merge", [3]),
]


def test_parse_reads_jobs_groups_and_tasks():
    log = parse_lines(SYNTHETIC)
    assert sorted(log.jobs) == [1, 2, 3]
    assert log.jobs[1].group == "op7:merge"
    assert (log.jobs[1].start, log.jobs[1].end) == (1.0, 4.0)
    assert log.jobs[3].end is None
    tasks = log.stage_tasks(log.jobs[1])
    assert (tasks.tasks, tasks.cpu_ns, tasks.input_records) == (1, 2_000_000, 10)


def test_union_merges_overlapping_jobs():
    assert union_length([(3, 6), (1, 4)]) == pytest.approx(5.0)
    assert union_length([(1, 2), (3, 4)]) == pytest.approx(2.0)
    assert union_length([]) == 0.0


def test_driver_time_uses_union_and_flags_unfinished_job():
    log = parse_lines(SYNTHETIC)
    driver_s, unfinished = driver_time(0.0, 10.0, list(log.jobs.values()))
    # jobs cover [1, 6] and [8, 10]: 7 s of the 10 s op; reading the open
    # job 3 as 0 s would give 5 s
    assert driver_s == pytest.approx(3.0)
    assert unfinished == 1


def test_jobs_are_clipped_to_the_op_window():
    log = parse_lines(SYNTHETIC)
    driver_s, _ = driver_time(2.0, 5.0, [log.jobs[1], log.jobs[2]])
    assert driver_s == pytest.approx(0.0)
