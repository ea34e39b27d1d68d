"""Per-layer metrics of a traced run.

Inputs are the run's op records (kind, epoch start/end, latency), the
spans the wrappers recorded and Spark's event log, whose jobs carry the
op's job group. Every metric in :data:`LAYER_METRICS` is reported for
every workload; a layer a workload does not reach reads 0. The
end-to-end metric each one should move is listed in perfbench/README.md.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

from common import median, metric
from eventlog import driver_time, parse_dir
from gateway_bi import KINDS as GATEWAY_KINDS
from lakehouse import KINDS as LAKEHOUSE_KINDS
from lakehouse import REPORT_QUERY
from tracing import parse_job_group

# kinds that run Spark jobs (explain only plans)
JOB_KINDS = tuple(k for k in GATEWAY_KINDS if k != "explain") + LAKEHOUSE_KINDS

# (name, unit, better) of every per-layer metric
LAYER_METRICS = (
    [
        ("engine.open_s", "s", "lower"),
        ("engine.load_s", "s", "lower"),
        ("engine.pin_s", "s", "lower"),
        ("trace.ops_per_s", "1/s", "higher"),
    ]
    + [(f"rest.frontend_ms_p50.{k}", "ms", "lower") for k in ("point", "agg", "explain")]
    + [
        ("rest.response_kb_p50.extract", "KB", "lower"),
        ("rest.fetch_calls_per_extract", "count", "lower"),
        ("rest.session_clones", "count", "lower"),
        ("auth.check_us_p50", "us", "lower"),
        ("doctor.scale_risks_ms_p50", "ms", "lower"),
    ]
    + [(f"sql.plan_ms_p50.{k}", "ms", "lower") for k in GATEWAY_KINDS]
    + [(f"sql.exec_ms_p50.{k}", "ms", "lower") for k in ("point", "agg")]
    + [
        ("operators.merge_ms_p50", "ms", "lower"),
        ("operators.catalog_ddl_ms_per_merge", "ms", "lower"),
        ("operators.vacuum_ms_p50", "ms", "lower"),
        ("operators.zappend_dirty_frac", "ratio", "lower"),
        ("operators.probe_bits_ms_p50", "ms", "lower"),
        ("operators.probe_read_ms_p50", "ms", "lower"),
        ("operators.files_skipped_frac", "ratio", "higher"),
    ]
    + [(f"operators.bytes_written.{k}", "B", "lower") for k in ("merge", "zappend", "bappend")]
    + [
        (f"plans.build_s.{REPORT_QUERY}", "s", "lower"),
        (f"plans.run_s.{REPORT_QUERY}", "s", "lower"),
    ]
    + [(f"spark.jobs.{k}", "count", "lower") for k in GATEWAY_KINDS + LAKEHOUSE_KINDS]
    + [(f"spark.driver_ms_p50.{k}", "ms", "lower") for k in JOB_KINDS]
    + [
        ("spark.tasks_per_op", "count", "lower"),
        ("spark.task_cpu_ms_per_op", "ms", "lower"),
        ("spark.gc_ms_per_op", "ms", "lower"),
        ("spark.spill_mb_per_op", "MB", "lower"),
        ("spark.shuffle_mb_per_op", "MB", "lower"),
        ("spark.scan_rows_per_result.point", "count", "lower"),
        ("spark.jobs_unfinished", "count", "lower"),
    ]
)


def _ms(spans: list[dict]) -> list[float]:
    return [(s["end"] - s["start"]) * 1000 for s in spans]


def _under(spans: list[dict], ancestor_name: str) -> list[dict]:
    """Spans that have an ancestor called ``ancestor_name``."""
    by_id = {s["id"]: s for s in spans}

    def has_ancestor(s):
        p = by_id.get(s["parent"])
        while p is not None:
            if p["name"] == ancestor_name:
                return True
            p = by_id.get(p["parent"])
        return False

    return [s for s in spans if has_ancestor(s)]


def _spark(out: dict, timed_ops: list[dict], log) -> dict[str, float]:
    jobs_by_op = defaultdict(list)
    for job in log.jobs.values():
        tag = parse_job_group(job.group)
        if tag is not None:
            jobs_by_op[tag[0]].append(job)
    m: dict[str, float] = {}
    for kind in GATEWAY_KINDS + LAKEHOUSE_KINDS:
        ops = [o for o in timed_ops if o["kind"] == kind]
        if ops:
            m[f"spark.jobs.{kind}"] = median([len(jobs_by_op[o["op"]]) for o in ops])
    unfinished = 0
    for kind in JOB_KINDS:
        drivers = []
        for o in (o for o in timed_ops if o["kind"] == kind):
            d, u = driver_time(o["start"], o["end"], jobs_by_op[o["op"]])
            drivers.append(d * 1000)
            unfinished += u
        if drivers:
            m[f"spark.driver_ms_p50.{kind}"] = median(drivers)
    m["spark.jobs_unfinished"] = unfinished

    totals = defaultdict(float)
    point_rows = 0
    for o in timed_ops:
        for job in jobs_by_op[o["op"]]:
            t = log.stage_tasks(job)
            totals["tasks"] += t.tasks
            totals["cpu_ms"] += t.cpu_ns / 1e6
            totals["gc_ms"] += t.gc_ms
            totals["spill_mb"] += t.spill_bytes / 2**20
            totals["shuffle_mb"] += t.shuffle_bytes / 2**20
            if o["kind"] == "point":
                point_rows += t.input_records
    n = len(timed_ops)
    m["spark.tasks_per_op"] = totals["tasks"] / n
    m["spark.task_cpu_ms_per_op"] = totals["cpu_ms"] / n
    m["spark.gc_ms_per_op"] = totals["gc_ms"] / n
    m["spark.spill_mb_per_op"] = totals["spill_mb"] / n
    m["spark.shuffle_mb_per_op"] = totals["shuffle_mb"] / n
    points = [o for o in timed_ops if o["kind"] == "point" and o.get("rows")]
    if points:
        m["spark.scan_rows_per_result.point"] = point_rows / sum(len(o["rows"]) for o in points)
    return m


def _gateway(timed_ops: list[dict], spans: list[dict]) -> dict[str, float]:
    m: dict[str, float] = {}
    by_op = defaultdict(list)
    for s in spans:
        if s["op"] is not None:
            by_op[s["op"]].append(s)
    for kind in GATEWAY_KINDS:
        ops = [o for o in timed_ops if o["kind"] == kind]
        plan = [s for o in ops for s in by_op[o["op"]] if s["name"] == "sql.plan"]
        m[f"sql.plan_ms_p50.{kind}"] = median(_ms(plan))
        if kind in ("point", "agg"):
            ex = [s for o in ops for s in by_op[o["op"]] if s["name"] == "sql.exec"]
            m[f"sql.exec_ms_p50.{kind}"] = median(_ms(ex))
        if kind != "extract":
            # client latency minus the engine's planning / execution / doctor
            # spans for the statement: HTTP, JSON and handler time
            front = [
                o["lat_s"] * 1000
                - sum(_ms([s for s in by_op[o["op"]] if s["parent"] is None]))
                for o in ops
            ]
            m[f"rest.frontend_ms_p50.{kind}"] = median(front)
    extracts = [o for o in timed_ops if o["kind"] == "extract" and "fetches" in o]
    m["rest.response_kb_p50.extract"] = median([o["bytes"] / 1024 for o in extracts])
    m["rest.fetch_calls_per_extract"] = (
        sum(o["fetches"] for o in extracts) / len(extracts) if extracts else 0.0
    )
    m["rest.session_clones"] = sum(1 for s in spans if s["name"] == "rest.session_clone")
    m["auth.check_us_p50"] = median(
        [v * 1000 for v in _ms([s for s in spans if s["name"] == "auth.check"])]
    )
    m["doctor.scale_risks_ms_p50"] = median(
        _ms([s for s in spans if s["name"] == "doctor.scale_risks"])
    )
    return m


def _lakehouse(timed_ops: list[dict], spans: list[dict]) -> dict[str, float]:
    timed_ids = {o["op"] for o in timed_ops}
    spans = [s for s in spans if s["op"] in timed_ids]
    named = defaultdict(list)
    for s in spans:
        named[s["name"]].append(s)
    merges = named["operators.merge"]
    ddl = [s for s in _under(spans, "operators.merge") if s["name"] == "sql.plan"]
    bits = {s["op"]: s for s in named["operators.probe_bits"]}
    probes = [o for o in timed_ops if o["kind"] == "probe"]
    m = {
        "operators.merge_ms_p50": median(_ms(merges)),
        "operators.catalog_ddl_ms_per_merge": sum(_ms(ddl)) / max(1, len(merges)),
        "operators.vacuum_ms_p50": median(_ms(named["operators.vacuum"])),
        "operators.zappend_dirty_frac": median(
            [o["dirty_frac"] for o in timed_ops if o["kind"] == "zappend"]
        ),
        "operators.probe_bits_ms_p50": median(_ms(list(bits.values()))),
        "operators.probe_read_ms_p50": median(
            [o["lat_s"] * 1000 - _ms([bits[o["op"]]])[0] for o in probes if o["op"] in bits]
        ),
        "operators.files_skipped_frac": median([o["skipped_frac"] for o in probes]),
    }
    m[f"plans.build_s.{REPORT_QUERY}"] = median(_ms(named["plans.build"])) / 1000
    m[f"plans.run_s.{REPORT_QUERY}"] = median(_ms(named["plans.run"])) / 1000
    for kind in ("merge", "zappend", "bappend"):
        m[f"operators.bytes_written.{kind}"] = median(
            [o["bytes"] for o in timed_ops if o["kind"] == kind]
        )
    return m


def compute(workload: str, out: dict, run_dir: str) -> dict[str, dict]:
    """name → {value, unit} for every metric in :data:`LAYER_METRICS`."""
    timed_ops = [o for o in out["ops"] if o["timed"]]
    if workload == "gateway_bi":
        with open(out["spans_path"]) as f:
            spans = json.load(f)
        values = _gateway(timed_ops, spans)
    else:
        spans = out["tracer"].spans
        values = _lakehouse(timed_ops, spans)
    values.update(_spark(out, timed_ops, parse_dir(os.path.join(run_dir, "eventlog"))))
    values.update({f"engine.{k}": v for k, v in out["engine"].items()})
    values["trace.ops_per_s"] = out["ops_per_s"]
    return {name: metric(float(values.get(name, 0.0)), unit) for name, unit, _ in LAYER_METRICS}
