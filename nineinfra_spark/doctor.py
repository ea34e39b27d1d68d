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
  expression).

Detection reads the executed plan's text, rendered once by
:func:`render` with ``treeString``'s field limit passed as an argument
(:data:`MAX_FIELDS`), so no output list is cut short. The cartesian,
nested-loop, row-python and global-window rules read only that text;
no rule reads ``ReadSchema`` or ``PushedFilters``, which Spark still
cuts at its default metadata length. The unpruned-scan rule also
asks the plan itself which filtered attributes of a full scan are
partition columns (:func:`partition_attrs`). Nothing sets a conf or takes a lock:
the caller's session, whose conf text keys the fetch caches, is left
as it was.

The window rule is versioned against Spark 4's
``treeString`` format: a ``Window`` line prints
``Window [exprs], [partitionSpec], [orderSpec]`` and OMITS empty
specs, so 2 top-level bracket groups whose last group carries a sort
direction = unpartitioned+ordered, while 2 groups without one is the
harmless partitionBy-without-orderBy; ``WindowGroupLimit`` lines are
excluded (their 2-group form is the partitioned one).
"""

from __future__ import annotations

import json
import re
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


def _mentions(text: str, attr: str) -> bool:
    """Whether ``text`` holds the attribute token ``attr`` (``name#id``
    with any type suffix) exactly: not a longer id, not another name."""
    return bool(
        re.search(r"(?<![#\w])" + re.escape(attr) + r"(?![0-9A-Za-z])", text)
    )


def filtered_full_scans(plan: str) -> list[tuple[int, list[str]]]:
    """``(line_idx, attr_tokens)`` for every ``FileScan`` that reads
    every partition (``PartitionFilters: []``): the tokens of its
    output list that some ``Filter`` line of the plan references. When
    one of them is a partition column, the filter exists but never
    reached the scan (pushdown blocked by a limit, a Python UDF, a
    non-deterministic expression, ...) — the unpruned-scan finding.
    Tokens are matched exactly, so a filter on a same-named column of
    a DIFFERENT scan cannot false-positive."""
    out = []
    lines = plan.splitlines()
    filter_lines = [
        ln for ln in lines if re.search(r"\bFilter\b", ln)
    ]
    for idx, line in enumerate(lines):
        if "FileScan" not in line or "PartitionFilters: []" not in line:
            continue
        output = [
            t.strip() for g in top_level_groups(line)[:1] for t in g[1:-1].split(",")
        ]
        filtered = [
            a for a in output if any(_mentions(ln, a) for ln in filter_lines)
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


def scale_risks_in_plan(
    plan: str, partition_attrs: frozenset[str]
) -> list[Finding]:
    """The rule engine over one :func:`render` result: the physical
    plan's text and the plan's partition-column attributes."""
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
    for idx, attrs in filtered_full_scans(plan):
        part_attrs = [a for a in attrs if a in partition_attrs]
        if not part_attrs:
            continue
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


#: ``treeString``'s field limit: operator output lists print up to this
#: many attributes, so a wide scan's partition columns are never cut to
#: "... N more fields". Passed per render, so no session conf is set.
MAX_FIELDS = 10_000


def partition_attrs(qe, among: set[str]) -> frozenset[str]:
    """The members of ``among`` (attribute tokens of ``FileScan``
    lines) that are partition columns: read from the
    ``partitionSchema`` of the file relation that outputs them, a
    ``LogicalRelation`` in ``qe``'s optimized plan or one of its
    subqueries. Only a relation whose printed output holds a member is
    asked, which keeps the py4j round trips few: each one waits for the
    GIL behind every busy thread of a serving process."""
    plan = qe.optimizedPlan()
    subqueries = plan.subqueriesAll()
    out = set()
    for p in [plan, *(subqueries.apply(i) for i in range(subqueries.length()))]:
        leaves = p.collectLeaves()
        for i, desc in enumerate(leaves.mkString("\0").split("\0")):
            if not desc.startswith("Relation "):
                continue
            if "more fields" in desc:  # cut at the session's field limit
                desc = leaves.apply(i).simpleString(MAX_FIELDS)
            held = [a for a in among if _mentions(desc, a)]
            if held:
                schema = leaves.apply(i).relation().partitionSchema().json()
                names = {f["name"] for f in json.loads(schema)["fields"]}
                out.update(a for a in held if a.rpartition("#")[0] in names)
    return frozenset(out)


def render(qe) -> tuple[str, frozenset[str]]:
    """One render of a ``QueryExecution`` for :func:`scale_risks_in_plan`:
    the executed plan's text (its AQE final plan once the query ran)
    and the partition attributes among the filtered attributes of its
    full scans. Nothing executes and no session state is touched."""
    text = qe.executedPlan().treeString(False, False, MAX_FIELDS, False, False)
    among = {a for _, attrs in filtered_full_scans(text) for a in attrs}
    return text, partition_attrs(qe, among) if among else frozenset()


def scale_risks(df) -> list[Finding]:
    """Inspect ``df``'s executed physical plan for scale
    anti-patterns. Returns [] when the plan is clean. Building the
    plan does not execute the query (AQE plans render their initial
    plan; both Final and Initial sections are scanned, so a risk in
    either is reported)."""
    return scale_risks_in_plan(*render(df._jdf.queryExecution()))  # noqa: SLF001
