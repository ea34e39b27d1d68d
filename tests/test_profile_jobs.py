"""The job-gap rule of scripts/profile_jobs.py: gaps are measured
against the union of earlier job intervals, so overlapping jobs never
yield a negative gap, and a job with no end event is never read as a
0 s job."""

from __future__ import annotations

import importlib.util
import os

_SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "profile_jobs.py",
)


def _profile_jobs():
    spec = importlib.util.spec_from_file_location("profile_jobs", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _job(t0_ms, sec=None):
    j = {"t0": t0_ms, "desc": "", "stages": 1}
    if sec is not None:
        j["sec"] = sec
    return j


def test_gaps_use_the_union_of_overlapping_jobs():
    # job 1 runs 0-4 s; job 2 (2-3 s) overlaps it; job 3 starts at 5 s:
    # its gap is 1 s after job 1's end, not 2 s after job 2's end
    jobs = {1: _job(0, 4.0), 2: _job(2000, 1.0), 3: _job(5000, 0.5)}
    assert _profile_jobs().job_gaps(jobs) == [(1, 0.0), (2, 0.0), (3, 1.0)]


def test_gaps_follow_submission_order_not_job_id():
    jobs = {7: _job(3000, 1.0), 5: _job(0, 1.0)}
    assert _profile_jobs().job_gaps(jobs) == [(5, 0.0), (7, 2.0)]


def test_unfinished_job_opens_no_gap():
    # job 2 has no end event: it covers the rest of the log, so the job
    # after it shows no driver gap (read as 0 s it would show 2 s)
    jobs = {1: _job(0, 1.0), 2: _job(1000), 3: _job(3000, 1.0)}
    assert _profile_jobs().job_gaps(jobs) == [(1, 0.0), (2, 0.0), (3, 0.0)]
