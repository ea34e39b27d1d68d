"""Plan doctor: the scale rules as a user-facing API.

``scale_risks(df)`` inspects a DataFrame's EXECUTED physical plan and
returns the anti-patterns that break at cluster scale — the same
rules ``tests/test_plan_lint.py`` enforces over the whole query
registry, packaged so a user can vet their own plans before running
them against 100 TB:

- ``cartesian``: an unbounded ``CartesianProduct`` — O(|L|·|R|) rows;
  at fact-table sizes this never finishes. Re-express as an equi-join
  or bound one side and broadcast it.
- ``nested-loop``: ``BroadcastNestedLoopJoin`` — fine when the
  broadcast side is a constant-size frame (a 1-row total, a bounded
  dimension), quadratic wall otherwise. The doctor can't see row
  counts, so it reports the shape and leaves the bounded/unbounded
  call to the caller.
- ``global-window``: a ``Window`` with an EMPTY partition spec and a
  non-empty order spec moves the ENTIRE input to one task ("No
  Partition Defined for Window operation"). Suppressed when the
  window's subtree contains a ``TakeOrderedAndProject``/
  ``GlobalLimit`` (the rank-after-top-k pattern: the window sees ≤N
  rows). Fix with ``plans._util.ranked_prefix`` (distributed rank /
  prefix-sum) or rank after a top-k limit.
- ``row-python``: ``BatchEvalPython`` — row-at-a-time Python UDF in
  the hot path, ~10-100× slower than an Arrow-batched pandas UDF
  (``ArrowEvalPython`` / ``MapInPandas`` are the fast shapes and are
  not flagged).
- ``unpruned-scan``: a ``FileScan`` of a PARTITIONED table whose
  ``PartitionFilters`` is empty while a ``Filter`` node elsewhere in
  the plan references one of that scan's partition-column attributes
  — at 100 TB the scan reads every partition even though the query
  only wants a few; the filter was blocked from reaching the scan
  (a limit between them, a Python-UDF predicate, a non-deterministic
  expression). Partition columns are derived from the scan line
  itself (in the output list, absent from ``ReadSchema``).

Detection is plan-text based and versioned against Spark 4's
``treeString`` format: a ``Window`` line prints
``Window [exprs], [partitionSpec], [orderSpec]`` and OMITS empty
specs, so 2 top-level bracket groups whose last group carries a sort
direction = unpartitioned+ordered, while 2 groups without one is the
harmless partitionBy-without-orderBy; ``WindowGroupLimit`` lines are
excluded (their 2-group form is the partitioned one).
"""

from __future__ import annotations

import re
import threading
from contextlib import contextmanager
from dataclasses import dataclass

_WINDOW_NODE = re.compile(r"(?:^|[\s:+-])Window \[")


@dataclass(frozen=True)
class Finding:
    """One scale risk: a ``kind`` from the module docstring, the plan
    line that triggered it, and a one-line remediation hint."""

    kind: str
    line: str
    hint: str


def top_level_groups(line: str) -> list[str]:
    """Top-level ``[...]`` groups of one plan line."""
    groups, depth, start = [], 0, -1
    for i, ch in enumerate(line):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(line[start : i + 1])
    return groups


def node_col(line: str) -> int:
    """Column where the node starts in one treeString line (first char
    that is not tree-drawing: space, ':', '+', '-'). A codegen star
    ``*(3) Node`` counts from the star — it sits at the node's indent
    column, keeping starred and plain siblings comparable. Greater
    column = deeper in the tree."""
    for i, ch in enumerate(line):
        if ch not in " :+-":
            return i
    return len(line)


_BINARY_NODE = re.compile(r"Join\b|CartesianProduct|Union")


def feeding_chain(lines: list[str], idx: int) -> str:
    """The part of ``lines[idx]``'s subtree that provably FEEDS it:
    the subtree truncated at the first binary node (join / cartesian /
    union) below the root. A ``GlobalLimit`` under a join could sit
    on the BUILD side — bounding that side only, while the node's
    actual input stays unbounded (r10 ADVICE finding) — so a limit
    only counts as bounding when no binary node stands between it and
    the root. Conservative direction: truncating can only ADD
    findings (a limit genuinely bounding a join's streamed side is no
    longer seen), never hide one."""
    root_col = node_col(lines[idx])
    out = [lines[idx]]
    for line in lines[idx + 1 :]:
        if line.strip() and node_col(line) <= root_col:
            break
        out.append(line)
        if _BINARY_NODE.search(line):
            break
    return "\n".join(out)


def _struct_field_names(schema: str) -> set[str] | None:
    """Top-level field names of a ``struct<name:type,...>`` rendering
    (nested structs stay inside their ``<>`` depth). Returns ``None``
    when the struct never CLOSES — plan metadata strings are truncated
    at ``spark.sql.maxMetadataStringLength`` (default 100) chars, and a
    cut-off schema would make every later column look like a partition
    column (the false positive this guard killed on q1's 7-column
    lineitem scan)."""
    inner = schema.partition("<")[2]
    names, depth, start, expect_name = set(), 0, 0, True
    for i, ch in enumerate(inner):
        if ch in "<(":
            # '(' counts like '<': decimal(p,s) carries a comma at
            # struct depth, and ignoring parens made a TRAILING
            # decimal field add a phantom name "s)" (caught by
            # tests/test_doctor_parsers_property.py — mid-struct
            # decimals happened to self-heal at the next real comma)
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == ">":
            if depth == 0:
                if expect_name and inner[start:i].strip():
                    names.add(inner[start:i].split(":")[0].strip())
                return names
            depth -= 1
        elif ch == "," and depth == 0:
            start, expect_name = i + 1, True
        elif ch == ":" and depth == 0 and expect_name:
            names.add(inner[start:i].strip())
            expect_name = False
    return None  # truncated: never saw the closing '>'


def unpruned_partition_scans(plan: str) -> list[tuple[int, list[str]]]:
    """``(line_idx, partition_attr_tokens)`` for every ``FileScan`` of
    a PARTITIONED table that reads every partition
    (``PartitionFilters: []``) while some ``Filter`` node elsewhere in
    the plan references one of that scan's partition-column attributes
    — the filter exists but never reached the scan (pushdown blocked
    by a limit, a Python UDF, a non-deterministic expression, ...),
    the one §4 scale-killer class pruning regressions produce.

    Partition columns are recovered from the scan line itself: they
    appear in the scan's OUTPUT attribute list but not in
    ``ReadSchema`` (their values come from directory names, not file
    bytes). Attribute tokens (``name#id`` with any type suffix) are
    matched exactly, so a filter on a same-named column of a
    DIFFERENT scan cannot false-positive."""
    out = []
    lines = plan.splitlines()
    filter_lines = [
        ln for ln in lines if re.search(r"\bFilter\b", ln)
    ]
    for idx, line in enumerate(lines):
        if "FileScan" not in line or "PartitionFilters: []" not in line:
            continue
        groups = top_level_groups(line)
        if not groups or "ReadSchema: struct" not in line:
            continue
        if "more fields" in groups[0]:
            continue  # output list truncated (>maxToStringFields cols)
        attrs = [a.strip() for a in groups[0][1:-1].split(",") if a.strip()]
        read_names = _struct_field_names(
            line.partition("ReadSchema: ")[2]
        )
        if read_names is None:
            continue  # schema truncated — can't tell data from partition
        part_attrs = [
            a
            for a in attrs
            if a.split("#")[0] not in read_names and "#" in a
        ]
        filtered = [
            a
            for a in part_attrs
            if any(
                re.search(
                    r"(?<![#\w])" + re.escape(a) + r"(?![0-9A-Za-z])", ln
                )
                for ln in filter_lines
            )
        ]
        if filtered:
            out.append((idx, filtered))
    return out


def unpartitioned_window_lines(plan: str) -> list[int]:
    """Indices of ``Window`` plan lines with an EMPTY partition spec
    and a non-empty order spec (the single-partition shape)."""
    out = []
    for idx, line in enumerate(plan.splitlines()):
        if not _WINDOW_NODE.search(line):
            continue
        groups = top_level_groups(line)
        if len(groups) == 2 and (
            " ASC" in groups[-1] or " DESC" in groups[-1]
        ):
            out.append(idx)
    return out


def scale_risks_in_plan(plan: str) -> list[Finding]:
    """The rule engine over an already-rendered physical-plan string
    (``df._jdf.queryExecution().executedPlan().toString()``)."""
    findings: list[Finding] = []
    lines = plan.splitlines()
    for idx, line in enumerate(lines):
        stripped = line.strip()
        if "CartesianProduct" in line:
            findings.append(
                Finding(
                    "cartesian",
                    stripped,
                    "O(|L|*|R|) rows — re-express as an equi-join, or "
                    "bound one side and broadcast it",
                )
            )
        if "BroadcastNestedLoopJoin" in line:
            findings.append(
                Finding(
                    "nested-loop",
                    stripped,
                    "fine only if the broadcast side is constant-size "
                    "(1-row total / bounded dimension); otherwise add an "
                    "equi-join key",
                )
            )
        if "BatchEvalPython" in line:
            findings.append(
                Finding(
                    "row-python",
                    stripped,
                    "row-at-a-time Python UDF — use a pandas_udf / "
                    "mapInPandas (Arrow-batched) instead",
                )
            )
    for idx in unpartitioned_window_lines(plan):
        below = feeding_chain(lines, idx)
        if "TakeOrderedAndProject" in below or "GlobalLimit" in below:
            continue  # rank-after-top-k: the window sees <= N rows
        findings.append(
            Finding(
                "global-window",
                lines[idx].strip(),
                "Window.orderBy without partitionBy single-partitions "
                "the input — use plans._util.ranked_prefix or rank "
                "after a top-k limit",
            )
        )
    for idx, part_attrs in unpruned_partition_scans(plan):
        findings.append(
            Finding(
                "unpruned-scan",
                lines[idx].strip()[:200],
                "partitioned scan reads EVERY partition while the "
                "query filters on partition column(s) "
                f"{', '.join(a.split('#')[0] for a in part_attrs)} "
                "elsewhere — pushdown was blocked (limit / Python UDF "
                "/ non-deterministic expr between filter and scan); "
                "restructure so PartitionFilters is non-empty",
            )
        )
    # AQE plans print Final AND Initial sections — the same operator
    # appears twice; report each distinct risk once
    return list(dict.fromkeys(findings))


#: Serializes every set-render-restore of the truncation confs below:
#: they are SESSION-scoped, so two concurrent renders on the same
#: session (e.g. parallel REST ``explain:true`` requests on the shared
#: gateway session) would otherwise interleave — one request rendering
#: with the defaults back in place (truncated ReadSchema → the
#: unpruned-scan rule silently skips) and the other "restoring" the
#: inflated values permanently.
_PLAN_RENDER_LOCK = threading.Lock()

_RENDER_CONFS = {
    "spark.sql.maxMetadataStringLength": "100000",
    "spark.sql.debug.maxToStringFields": "10000",
}


@contextmanager
def untruncated_plan_confs(spark):
    """Raise the plan-rendering truncation confs for the duration of
    one render, restoring them after — under the module lock, so
    concurrent renders on a shared session serialize instead of
    tearing each other's conf values. A conf the session had not set is
    unset again, so a render leaves the session's conf text (the fetch
    caches' key) as it found it."""
    with _PLAN_RENDER_LOCK:
        jconf = spark._jsparkSession.sessionState().conf()  # noqa: SLF001
        old = {k: spark.conf.get(k) if jconf.contains(k) else None for k in _RENDER_CONFS}
        for k, v in _RENDER_CONFS.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def full_plan(df) -> str:
    """``df``'s executed physical plan rendered with metadata strings
    and field lists long enough to PARSE: the defaults
    (``spark.sql.maxMetadataStringLength`` = 100,
    ``spark.sql.debug.maxToStringFields`` = 25) truncate
    ``ReadSchema``/output lists mid-token on any real fact-table scan,
    which would blind the unpruned-scan rule (it conservatively skips
    truncated lines). Both confs are restored after rendering; nothing
    executes."""
    with untruncated_plan_confs(df.sparkSession):
        return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001, E501


def scale_risks(df) -> list[Finding]:
    """Inspect ``df``'s executed physical plan for scale
    anti-patterns. Returns [] when the plan is clean. Building the
    plan does not execute the query (AQE plans render their initial
    plan; both Final and Initial sections are scanned, so a risk in
    either is reported)."""
    return scale_risks_in_plan(full_plan(df))
