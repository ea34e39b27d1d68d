"""Bounded result fetch for the SQL frontends, with a short circuit for
single-table parquet point statements and a result cache for repeated
statements.

The REST and MySQL frontends FETCH a window of at most ``limit`` rows
(:func:`collect_bounded`). Spark answers it as ``df.limit(limit + 1)
.collect()``; one row past the window reports truncation without a
count pass. A point statement (``SELECT * FROM orders WHERE
o_orderkey = 42``) pays a whole Spark job for that: scheduling, a task
per file split, and a scan of every row group. Doris 2.0 answers such
statements through a short-circuit plan; here the driver answers them
with ``pyarrow.dataset`` over the files Spark itself would read, and no
Spark job runs.

Spark still parses, analyzes, resolves access and optimizes the
statement (``sess.sql`` and the optimizer run as before); only the
execution of the optimized plan is replaced, and only when its result
is provably the same. The optimized plan of ``df.limit(limit + 1)``
qualifies when every rule below holds; each rule names what it rules
out. (A plan whose analyzed form has more than one leaf, a leaf that is
not a ``LogicalRelation`` or an aggregate is refused before the
optimizer runs, unless it has a CTE; that check only refuses.)

- Shape: ``GlobalLimit``/``LocalLimit`` of ``limit + 1`` over at most
  one ``Project`` of plain columns over at most one ``Filter`` over one
  ``LogicalRelation``. A join, aggregate, sort, window, expression
  column or a SQL ``LIMIT`` below the fetch window changes the answer
  in ways only Spark computes. A pinned table reads an
  ``InMemoryRelation``, so it keeps Spark (and its cache).
- Relation: a ``HadoopFsRelation`` of exactly ``ParquetFileFormat``,
  with no partition columns (their values live in directory names), no
  bucketing and no options beyond ``path`` (reader options such as
  ``mergeSchema`` or ``datetimeRebaseMode`` change what is read).
- Filter: a conjunction of column-vs-literal ``=``, ``<``, ``<=``,
  ``>``, ``>=``, ``IN`` (kept as a list of literals; the optimizer's
  ``InSet`` above ten values is refused), ``IS NULL``, ``IS NOT NULL``
  and a bare boolean column. The literal must already have the
  column's type: the optimizer has done the coercion, so a cast left on
  the column means the comparison is not in the column's type, and is
  refused. Binary literals are refused (their plan form carries no
  value). Comparisons on double columns are refused: Spark prunes row
  groups and pages by parquet min/max statistics, which leave NaN out
  and may order -0.0 below 0.0, so its answer for ``x > 5`` or
  ``x = NaN`` depends on how the file was written.
- Types: every column of the relation is one of boolean, byte, short,
  integer, long, double, decimal, string (the default collation),
  binary, date, timestamp and timestamp_ntz, as the parquet footers
  give it; nested, unsigned, float, nanosecond, CHAR/VARCHAR and
  collated columns are refused. These are the types whose values
  ``tests/test_shortcircuit.py`` proves identical to Spark's after the
  frontends serialize them.
- Files: ``df.inputFiles()`` are local files whose footer schema
  equals the table schema (same names, no extra columns, each column
  mapped as Spark's parquet reader maps it) and agree with each other.
  A table declared over other files, or a file rewritten since, keeps
  Spark's answer or Spark's error. Footers are cached by
  (path, size, mtime) in a bounded LRU.
- Calendar: Spark's reader rebases old dates and timestamps from the
  hybrid Julian calendar in files written by Spark 2 or marked
  ``legacyDateTime``/``legacyINT96``; the driver cannot. In such a file
  every date column's row-group minimum must be on or after 1582-10-15
  and every timestamp column's on or after 1900-01-02 UTC, where no
  rebase changes a value. Other files are read as written (the
  ``CORRECTED`` default).
- Session: ``spark.sql.caseSensitive``,
  ``spark.sql.files.ignoreCorruptFiles``/``ignoreMissingFiles`` and the
  two parquet read rebase modes are at their defaults.

The read honours the window: at most ``limit + 1`` matching rows are
taken. Spark answers instead, with the unchanged
``df.limit(limit + 1).collect()``, when the plan does not qualify, when
anything on the short-circuit path raises (so error messages stay
Spark's: a file deleted since ``CREATE TABLE`` fails in Spark the way
it always did), and when more than ``limit`` rows match (a truncated
window always comes from Spark, whose row choice under a limit is its
own). Rows are built by the same ``StructType.fromInternal`` that
``collect()`` applies to Spark's internal values, so dates, timestamps
(in the driver's local time zone) and decimals come out identical.

A REST cursor wants every row, not a window: :func:`collect_served`
runs the same check and read on ``df.limit(bound + 1)``, with the
one-shot cap as ``bound``. When the plan qualifies and at most
``bound`` rows match, the cursor pages over those rows; otherwise it
streams from Spark's ``toLocalIterator`` as before.

Result cache. A dashboard sends the same statement again and again;
Doris answers a repeat from its SQL cache until the data's version
changes. When the short circuit declines a window,
:func:`collect_bounded` looks it up in one process-wide cache before
``limited.collect()``: a hit returns a copy of the stored window and
runs no Spark job; a miss runs Spark exactly as before and stores its
answer. Short-circuited statements are neither looked up nor stored,
and cursors never use the cache. An answer is reusable when every rule
below holds:

- Plan: the lookup reads ``withCachedData`` (the analyzed plan after
  Spark's own cache substitution) of the QueryExecution ``collect()``
  runs. It must be ``deterministic`` and contain no ``CURRENT_LIKE``
  (``current_timestamp()``, ``current_user()``), ``PLAN_EXPRESSION``
  (subqueries), ``EXPRESSION_WITH_RANDOM_SEED``, ``COMMAND`` or Python
  or Scala UDF pattern. Every leaf is a ``LogicalRelation`` over a
  ``HadoopFsRelation`` of at most ``_RESULT_FILES_MAX`` local files,
  an ``InMemoryRelation`` whose column buffers are loaded, a
  ``LocalRelation``, ``OneRowRelation`` or ``Range``; any other leaf
  (a ``LogicalRDD``, a catalog or JDBC relation, a CTE reference)
  keeps Spark.
- Key: the plan's ``semanticHash`` and the text of the session's SQL
  conf, so sessions whose confs differ (time zone, ANSI mode, a doAs
  session's ``spark.nineinfra.effective.user``) never share an entry.
  A hit also needs ``sameResult`` against the stored plan: a hash
  collision is a miss. Canonical plans drop column names, so a hit's
  rows take the asking statement's names.
- Input versions: a file relation's version is ``(path, size,
  mtime_ns)`` of every file its listing holds, from ``os.stat`` (the
  footer cache's identity rule), so a Spark write, a ``REFRESH`` and
  an external rewrite all change it. A pinned relation's version is the
  application id and the id of its column-buffer RDD: a re-pin builds
  a new RDD, and a new SparkContext, which restarts RDD ids, has a new
  application id. A hit needs the stored versions to equal the current
  ones.
- Store: the versions are read before the Spark run and again after
  it; the answer is stored only when both readings agree and it is a
  complete window (at most ``limit`` rows). A truncated window and an
  error are never stored, and anything that raises on the cache path
  is a miss, so errors stay Spark's.
- Bounds: the cache is LRU over at most ``_RESULTS_MAX`` entries
  holding at most ``_RESULT_ROWS_MAX`` rows in all.

:func:`fetch_metrics` counts the statements each path answered:
``served`` (short circuit), ``hits`` and ``spark`` sum to the
statements fetched; ``misses`` and ``refused`` split the one-shot
windows Spark answered by whether the plan was reusable; ``stored`` and
``evicted`` follow the cache.
"""

from __future__ import annotations

import datetime as _dt
import json
import operator
import os
import pickle
import threading
from collections import OrderedDict
from decimal import Decimal
from functools import partial
from typing import NamedTuple
from urllib.parse import unquote, urlsplit

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, Row

_EXPR = "org.apache.spark.sql.catalyst.expressions."
_LOGICAL = "org.apache.spark.sql.catalyst.plans.logical."
_RELATION = "org.apache.spark.sql.execution.datasources.LogicalRelation"
_FS_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"
_PARQUET = "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat"
_PINNED = "org.apache.spark.sql.execution.columnar.InMemoryRelation"
_TREE_PATTERN = "org.apache.spark.sql.catalyst.trees.TreePattern"

#: Session confs that must be at these values (their defaults).
_DEFAULT_CONFS = {
    "spark.sql.caseSensitive": "false",
    "spark.sql.files.ignoreCorruptFiles": "false",
    "spark.sql.files.ignoreMissingFiles": "false",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
}

_INT_TYPES = ("byte", "short", "integer", "long")
_TEMPORAL = ("date", "timestamp", "timestamp_ntz")
_PROVEN = _INT_TYPES + _TEMPORAL + ("boolean", "double", "string", "binary")

#: Earliest values that no calendar rebase touches (Spark's reader
#: rebases a legacy file's dates before the Gregorian switch and its
#: timestamps before 1900-01-01Z; one day of margin on the timestamp
#: side).
_MIN_SAFE_DAY = (_dt.date(1582, 10, 15) - _dt.date(1970, 1, 1)).days
_MIN_SAFE_MICROS = -2208902400 * 1_000_000  # 1900-01-02T00:00:00Z

_COMPARE = {
    _EXPR + "EqualTo": operator.eq,
    _EXPR + "LessThan": operator.lt,
    _EXPR + "LessThanOrEqual": operator.le,
    _EXPR + "GreaterThan": operator.gt,
    _EXPR + "GreaterThanOrEqual": operator.ge,
}
#: the comparison with its operands swapped (``5 < x`` is ``x > 5``)
_FLIP = {
    operator.eq: operator.eq,
    operator.lt: operator.gt,
    operator.le: operator.ge,
    operator.gt: operator.lt,
    operator.ge: operator.le,
}

#: Plans whose answer the result cache never stores (module docstring).
_UNCACHEABLE = (
    "CURRENT_LIKE", "PLAN_EXPRESSION", "EXPRESSION_WITH_RANDOM_SEED", "COMMAND",
    "PYTHON_UDF", "SCALA_UDF", "EVAL_PYTHON_UDF", "EVAL_PYTHON_UDTF",
)
#: Leaves whose rows the plan itself holds: no input version.
_PLAN_LEAVES = {_LOGICAL + n for n in ("LocalRelation", "OneRowRelation", "Range")}

#: Result cache bounds: entries, and rows summed over the entries.
_RESULTS_MAX = 256
_RESULT_ROWS_MAX = 50_000
#: A file relation with more files than this is not cached: every
#: lookup stats every file.
_RESULT_FILES_MAX = 256

_FOOTERS_MAX = 512


class _Lru:
    """A thread-safe map that drops its least recently used entries
    once it holds more than ``max_entries`` or their ``weight`` sums
    past ``max_weight``."""

    def __init__(self, max_entries: int, max_weight: float = float("inf"), weight=None):
        self.max_entries = max_entries
        self.max_weight = max_weight
        self._weigh = weight or (lambda value: 0)
        self._items: OrderedDict = OrderedDict()
        self._lock = threading.Lock()
        self.weight = 0

    def __len__(self) -> int:
        return len(self._items)

    def get(self, key):
        with self._lock:
            value = self._items.get(key)
            if value is not None:
                self._items.move_to_end(key)
            return value

    def put(self, key, value) -> int:
        """Store ``value`` as the most recent entry; returns how many
        entries were evicted to make room."""
        with self._lock:
            old = self._items.pop(key, None)
            if old is not None:
                self.weight -= self._weigh(old)
            self._items[key] = value
            self.weight += self._weigh(value)
            evicted = 0
            while len(self._items) > self.max_entries or self.weight > self.max_weight:
                self.weight -= self._weigh(self._items.popitem(last=False)[1])
                evicted += 1
            return evicted

    def clear(self) -> None:
        with self._lock:
            self._items.clear()
            self.weight = 0


#: Footer cache shared by every session and frontend in the process: a
#: key is a file's identity (path, size, mtime), so a rewritten file is
#: a miss, never a stale schema.
_footers = _Lru(_FOOTERS_MAX)


class _Entry(NamedTuple):
    """A stored window: the plan it answers, the input versions it was
    read at, and its rows' values, pickled so every hit gets a copy."""

    plan: object
    versions: tuple
    values: bytes
    rows: int


#: Result cache shared by every session and frontend in the process.
_results = _Lru(_RESULTS_MAX, _RESULT_ROWS_MAX, weight=lambda e: e.rows)

_COUNTERS = ("served", "hits", "misses", "refused", "stored", "evicted", "spark")
_counts = dict.fromkeys(_COUNTERS, 0)
_counts_lock = threading.Lock()


def _count(name: str, n: int = 1) -> None:
    with _counts_lock:
        _counts[name] += n


def fetch_metrics() -> dict:
    """A snapshot of the fetch-path counters (module docstring) and of
    the result cache's size."""
    with _counts_lock:
        out = dict(_counts)
    out["cacheEntries"] = len(_results)
    out["cacheRows"] = _results.weight
    return out


class _Refused(Exception):
    """The plan does not qualify; Spark answers."""


def collect_bounded(df: DataFrame, limit: int) -> tuple[list, bool]:
    """At most ``limit`` rows of ``df`` and whether more exist. A
    qualifying point statement is read on the driver with no Spark job,
    and a repeated statement over unchanged inputs comes from the
    result cache (module docstring); everything else, and every
    truncated window, is ``df.limit(limit + 1).collect()``."""
    limited = df.limit(limit + 1)
    rows = _served(limited, limit)
    if rows is None:
        rows = _cached_collect(limited, limit)
    return rows[:limit], len(rows) > limit


def collect_served(df: DataFrame, bound: int) -> list | None:
    """Every row of ``df`` when the short circuit answers it and at
    most ``bound`` rows match; ``None`` otherwise, and the caller runs
    Spark. No Spark job runs either way."""
    rows = _served(df.limit(bound + 1), bound)
    if rows is None:
        _count("spark")
    return rows


def _served(limited: DataFrame, limit: int) -> list | None:
    """The driver-side answer to ``limited`` (``df.limit(limit + 1)``):
    at most ``limit`` rows, or ``None`` when the plan does not qualify,
    more than ``limit`` rows match, or anything raises."""
    try:
        point = _point_read(limited, limit)
        rows = None if point is None else point.rows(limit)
    except Exception:
        # any failure on the driver-side path (py4j, pyarrow, a file
        # gone) is not reported from here: Spark answers, with its own
        # result or its own error
        return None
    if rows is not None:
        _count("served")
    return rows


def _cached_collect(limited: DataFrame, limit: int) -> list:
    """``limited.collect()``, or a copy of the stored answer when the
    result cache holds it (module docstring). Tests replace this
    function to force Spark."""
    try:
        probe = _Probe(limited)
        before = probe.versions()
        entry = _results.get(probe.key)
        if (entry is not None and entry.versions == before
                and entry.plan.sameResult(probe.plan)):
            make = Row(*limited.columns)
            values = pickle.loads(entry.values)
            _count("hits")
            return [make(*v) for v in values]
    except _Refused:
        _count("refused")
        return _spark_collect(limited)
    except Exception:
        probe = None
    _count("misses")
    rows = _spark_collect(limited)
    if probe is not None and len(rows) <= limit:
        try:
            if probe.versions() == before:
                values = pickle.dumps([tuple(r) for r in rows], pickle.HIGHEST_PROTOCOL)
                evicted = _results.put(probe.key, _Entry(probe.plan, before, values, len(rows)))
                _count("stored")
                _count("evicted", evicted)
        except Exception:
            pass  # an input gone or unreadable: the answer is not stored
    return rows


def _spark_collect(limited: DataFrame) -> list:
    _count("spark")
    return limited.collect()


class _Probe:
    """A reusable plan (module docstring): its cache key, the plan, and
    one version reader per input. Raises :class:`_Refused` for a plan
    whose answer is never stored."""

    def __init__(self, limited: DataFrame):
        qe = limited._jdf.queryExecution()  # noqa: SLF001
        jplan = qe.withCachedData()
        if not jplan.deterministic():
            raise _Refused("nondeterministic")
        if jplan.containsAnyPattern(_uncacheable(qe._gateway_client)):  # noqa: SLF001
            raise _Refused("an expression whose answer is not reusable")
        jsession = limited.sparkSession._jsparkSession  # noqa: SLF001
        leaves = jplan.collectLeaves()
        self.inputs = []
        for i in range(leaves.size()):
            jleaf = leaves.apply(i)
            cls = jleaf.getClass().getName()
            if cls == _RELATION:
                jrel = jleaf.relation()
                if jrel.getClass().getName() != _FS_RELATION:
                    raise _Refused("not a file relation")
                self.inputs.append(partial(_file_version, jrel.location()))
            elif cls == _PINNED:
                app = jsession.sparkContext().applicationId()
                self.inputs.append(partial(_pin_version, app, jleaf.cacheBuilder()))
            elif cls not in _PLAN_LEAVES:
                raise _Refused(f"a {cls} leaf")
        conf = jsession.sessionState().conf().getAllConfs().toString()
        self.key = (jplan.semanticHash(), conf)
        self.plan = jplan

    def versions(self) -> tuple:
        return tuple(read() for read in self.inputs)


def _file_version(jindex) -> tuple:
    """``(path, size, mtime_ns)`` of every file a relation's listing
    holds."""
    jfiles = jindex.inputFiles()
    if len(jfiles) > _RESULT_FILES_MAX:
        raise _Refused("too many files")
    out = []
    for path in _local_paths(jfiles):
        st = os.stat(path)
        out.append((path, st.st_size, st.st_mtime_ns))
    return tuple(out)


def _pin_version(app: str, jbuilder) -> tuple:
    """The application id and column-buffer RDD id of a pinned
    relation, refused while its buffers are not loaded."""
    # checked first: asking an unloaded builder for its buffers would
    # build (and persist) a new RDD
    if not jbuilder.isCachedColumnBuffersLoaded():
        raise _Refused("pinned relation not loaded")
    return (app, jbuilder.cachedColumnBuffers().id())


_uncacheable_seq: tuple = (None, None)


def _uncacheable(client):
    """The ``_UNCACHEABLE`` tree patterns as the Scala sequence
    ``containsAnyPattern`` takes, built once per JVM gateway."""
    global _uncacheable_seq
    owner, seq = _uncacheable_seq
    if owner is not client:
        patterns = JavaClass(_TREE_PATTERN, client)
        jlist = JavaClass("java.util.ArrayList", client)()
        for name in _UNCACHEABLE:
            jlist.add(getattr(patterns, name)())
        converters = JavaClass("scala.jdk.javaapi.CollectionConverters", client)
        seq = converters.asScala(jlist).toList()
        _uncacheable_seq = (client, seq)
    return seq


def _tree(nodes: list, i: int = 0) -> tuple[tuple, int]:
    """Rebuild one preorder ``toJSON`` expression list into
    ``(node, children)``; returns it and the next index."""
    node = nodes[i]
    i += 1
    children = []
    for _ in range(node["num-children"]):
        child, i = _tree(nodes, i)
        children.append(child)
    return (node, children), i


def _attr(expr: tuple) -> dict | None:
    node, _ = expr
    return node if node["class"] == _EXPR + "AttributeReference" else None


def _point_read(limited: DataFrame, limit: int) -> "_PointRead | None":
    """The short-circuit read for ``limited`` (``df.limit(limit + 1)``)
    or ``None`` when its optimized plan does not qualify (module
    docstring). Tests replace this function to force Spark."""
    try:
        return _plan_point(limited, limit)
    except _Refused:
        return None


def _plan_point(limited: DataFrame, limit: int) -> "_PointRead":
    qe = limited._jdf.queryExecution()  # noqa: SLF001
    # refusals on the analyzed plan, which exists already, spare a
    # refused statement the optimizer run: a join or union has several
    # leaves, a range() or local relation is no file, and an aggregate
    # never optimizes into the accepted shape. A CTE reference is a leaf
    # until the optimizer inlines it, so a plan with a CTE skips them.
    # Acceptance is decided on the optimized plan alone.
    jplan = qe.analyzed()
    patterns = JavaClass(_TREE_PATTERN, qe._gateway_client)  # noqa: SLF001
    if not jplan.containsPattern(patterns.CTE()):
        _single_relation(jplan)
        if jplan.containsPattern(patterns.AGGREGATE()):
            raise _Refused("an aggregate")
    jplan = _optimized(qe)
    # cheap refusals first: pinned (InMemoryRelation) or local reads are
    # decided before the plan is serialized
    jleaf = _single_relation(jplan)
    chain = json.loads(jplan.toJSON())
    head, rest = chain[:2], chain[2:]
    if [n["class"] for n in head] != [_LOGICAL + "GlobalLimit", _LOGICAL + "LocalLimit"]:
        raise _Refused("not under the fetch limit")
    for n in head:
        (lim,) = n["limitExpr"]
        if lim["class"] != _EXPR + "Literal" or int(lim["value"]) != limit + 1:
            raise _Refused("a SQL LIMIT below the fetch window")
    project = cond = None
    if rest[0]["class"] == _LOGICAL + "Project":
        project, rest = rest[0], rest[1:]
    if rest[0]["class"] == _LOGICAL + "Filter":
        cond, rest = rest[0]["condition"], rest[1:]
    if len(rest) != 1 or rest[0]["isStreaming"]:
        raise _Refused("an operator other than Project/Filter")
    table = [_one_attr(a) for a in rest[0]["output"]]
    types = {a["name"]: a["dataType"] for a in table}
    if len(types) != len(table) or not all(map(_proven, table)):
        raise _Refused("column type outside the proven set")
    out = [_one_attr(a) for a in project["projectList"]] if project else table
    jrel = jleaf.relation()
    _check_relation(jrel)
    jconf = limited.sparkSession._jsparkSession.conf()  # noqa: SLF001
    for key, want in _DEFAULT_CONFS.items():
        if jconf.get(key).lower() != want.lower():
            raise _Refused(f"{key} is not at its default")
    paths = _local_paths(jrel.location().inputFiles())
    footers = [_footer(p) for p in paths]
    if not footers:
        raise _Refused("no files")
    arrow_schema = footers[0].arrow_schema
    for f in footers:
        if f.spark_types != types or not f.calendar_safe:
            raise _Refused("file schema differs from the table schema")
        if not f.arrow_schema.equals(arrow_schema):
            raise _Refused("files disagree on their schema")
    expr = None
    if cond is not None:
        # the Filter sits just above the relation in the unary chain
        def jcond():
            node = jplan
            for _ in range(len(chain) - 2):
                node = node.child()
            return node.condition()

        expr = _Translator(types, arrow_schema, cond, jcond).pred(_tree(cond)[0])
    return _PointRead(paths, arrow_schema, out, expr)


def _optimized(qe):
    """The optimized plan of a query execution: the one optimizer run
    the short circuit pays for."""
    return qe.optimizedPlan()


def _single_relation(jplan):
    """The plan's one leaf, refused unless it is a ``LogicalRelation``."""
    leaves = jplan.collectLeaves()
    if leaves.size() != 1:
        raise _Refused("more than one relation")
    jleaf = leaves.head()
    if jleaf.getClass().getName() != _RELATION:
        raise _Refused("not a file relation")
    return jleaf


def _proven(attr: dict) -> bool:
    t = attr["dataType"]
    return (t in _PROVEN or t.startswith("decimal(")) and (
        "__CHAR_VARCHAR_TYPE_STRING" not in attr["metadata"]
    )


def _one_attr(expr_nodes: list) -> dict:
    if len(expr_nodes) != 1 or expr_nodes[0]["class"] != _EXPR + "AttributeReference":
        raise _Refused("a computed column")
    return expr_nodes[0]


def _check_relation(jrel) -> None:
    if jrel.getClass().getName() != _FS_RELATION:
        raise _Refused("not a file relation")
    if jrel.fileFormat().getClass().getName() != _PARQUET:
        raise _Refused("not parquet")
    if jrel.partitionSchema().length() or jrel.bucketSpec().isDefined():
        raise _Refused("partitioned or bucketed")
    if jrel.options().keys().mkString("\n") not in ("", "path"):
        raise _Refused("reader options")


def _local_paths(jfiles) -> list[str]:
    paths = []
    for uri in jfiles:
        parts = urlsplit(uri)
        if parts.scheme != "file" or parts.netloc not in ("", "localhost"):
            raise _Refused("not a local file")
        paths.append(unquote(parts.path))
    return paths


class _Footer:
    """What the short circuit needs from one file's footer."""

    __slots__ = ("arrow_schema", "spark_types", "calendar_safe")

    def __init__(self, path: str):
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
        md, pschema = pf.metadata, pf.schema
        self.arrow_schema = pf.schema_arrow
        kv = md.metadata or {}
        version = kv.get(b"org.apache.spark.version")
        # Spark's own rule for which files its reader rebases
        # (DataSourceUtils.datetimeRebaseSpec / int96RebaseSpec); a file
        # without a Spark version follows the read conf, CORRECTED
        if version is None:
            legacy_dt = legacy_int96 = False
        else:
            v = version.decode()
            legacy_dt = v < "3.0.0" or b"org.apache.spark.legacyDateTime" in kv
            legacy_int96 = v < "3.1.0" or b"org.apache.spark.legacyINT96" in kv
        types: dict[str, str | None] = {}
        safe = len(pschema) == len(self.arrow_schema)  # flat columns only
        lowered = set()
        for i, field in enumerate(self.arrow_schema if safe else []):
            col = pschema.column(i)
            t = _spark_type(field.type, col.physical_type, col.logical_type.type)
            types[field.name] = t
            lowered.add(field.name.lower())
            legacy = legacy_int96 if col.physical_type == "INT96" else legacy_dt
            if t in _TEMPORAL and legacy and not _all_modern(md, i, t, field.type):
                safe = False
        if len(lowered) != len(types):
            safe = False  # names that differ only in case
        self.spark_types = types
        self.calendar_safe = safe


def _spark_type(t, physical: str, logical: str) -> str | None:
    """The Spark type name the parquet reader gives this column (as
    ``LogicalRelation`` JSON spells it), or ``None`` if refused."""
    import pyarrow as pa

    if physical == "INT96":
        return "timestamp"
    if pa.types.is_boolean(t):
        return "boolean"
    for name, check in zip(
        _INT_TYPES, (pa.types.is_int8, pa.types.is_int16, pa.types.is_int32, pa.types.is_int64)
    ):
        if check(t):
            return name
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_string(t) and logical == "STRING":
        return "string"
    if pa.types.is_binary(t) and logical == "NONE":
        return "binary"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_date32(t):
        return "date"
    if pa.types.is_timestamp(t) and t.unit in ("ms", "us"):
        return "timestamp" if t.tz is not None else "timestamp_ntz"
    return None


def _all_modern(md, i: int, spark_type: str, t) -> bool:
    """Every row group's minimum of column ``i`` is past any calendar
    rebase (an all-null row group has none)."""
    for g in range(md.num_row_groups):
        cc = md.row_group(g).column(i)
        st = cc.statistics
        if st is not None and st.null_count == md.row_group(g).num_rows:
            continue
        if st is None or not st.has_min_max:
            return False
        low = st.min_raw
        if spark_type == "date":
            if low < _MIN_SAFE_DAY:
                return False
        elif low * (1000 if t.unit == "ms" else 1) < _MIN_SAFE_MICROS:
            return False
    return True


def _footer(path: str) -> _Footer:
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    footer = _footers.get(key)
    if footer is None:
        footer = _Footer(path)
        _footers.put(key, footer)
    return footer


class _Translator:
    """Optimized-plan filter → ``pyarrow.dataset`` expression with
    Spark's semantics on the result (a NULL predicate drops the row on
    both sides)."""

    def __init__(self, types: dict, arrow_schema, nodes: list, jcond):
        self.types = types
        self.arrow_schema = arrow_schema
        self.jcond = jcond  # () -> the JVM condition, for temporal literals
        # preorder position of each leaf, to fetch a temporal literal's
        # value from the JVM condition's collectLeaves()
        leaf_ids = [id(n) for n in nodes if n["num-children"] == 0]
        self.leaf_index = {k: j for j, k in enumerate(leaf_ids)}
        self._leaves = None

    def pred(self, expr: tuple):
        import pyarrow.compute as pc

        node, kids = expr
        cls = node["class"]
        kind = cls[len(_EXPR):] if cls.startswith(_EXPR) else cls
        if kind == "And":
            return self.pred(kids[0]) & self.pred(kids[1])
        if kind in ("IsNull", "IsNotNull"):
            attr = _attr(kids[0])
            if attr is None:
                raise _Refused("IS NULL over an expression")
            f = pc.field(attr["name"])
            return f.is_null() if kind == "IsNull" else f.is_valid()
        if kind == "AttributeReference" and node["dataType"] == "boolean":
            return pc.field(node["name"]) == True  # noqa: E712 — an expression
        if cls in _COMPARE:
            op = _COMPARE[cls]
            left, right = kids
            if _attr(left) is None:
                left, right, op = right, left, _FLIP[op]
            return self.compare(left, op, right)
        if kind == "In":
            value, *items = kids
            out = pc.scalar(False)
            for item in items:
                out = out | self.compare(value, operator.eq, item)
            return out
        raise _Refused(f"predicate {cls}")

    def compare(self, left: tuple, op, right: tuple):
        import pyarrow as pa
        import pyarrow.compute as pc

        attr, (lit, _) = _attr(left), right
        if attr is None or lit["class"] != _EXPR + "Literal":
            raise _Refused("not column-vs-literal")
        spark_type = self.types[attr["name"]]
        if lit["dataType"] != spark_type or spark_type == "binary":
            raise _Refused("literal not in the column's type")
        if lit["value"] is None:
            return pc.scalar(False)  # NULL comparison: no row passes
        f = pc.field(attr["name"])
        t = self.arrow_schema.field(attr["name"]).type
        raw = lit["value"]
        if spark_type in _INT_TYPES:
            v = pa.scalar(int(raw), t)
        elif spark_type == "boolean":
            v = pa.scalar(raw == "true", t)
        elif spark_type == "string":
            v = pa.scalar(raw, t)
        elif spark_type.startswith("decimal("):
            v = pa.scalar(Decimal(raw), t)
        elif spark_type == "date":
            v = pa.scalar(self.jvm_value(lit), pa.int32()).cast(pa.date32())
        elif spark_type in ("timestamp", "timestamp_ntz"):
            us = pa.timestamp("us", tz=t.tz)
            if t != us:
                f = f.cast(us)
            v = pa.scalar(self.jvm_value(lit), pa.int64()).cast(us)
        else:
            # doubles: Spark prunes row groups and pages by parquet
            # min/max, which leave NaN out and order -0.0 below 0.0, so
            # its answer depends on the statistics
            raise _Refused("double comparison")
        return op(f, v)

    def jvm_value(self, lit: dict) -> int:
        if self._leaves is None:
            self._leaves = self.jcond().collectLeaves()
        return int(self._leaves.apply(self.leaf_index[id(lit)]).value())


class _PointRead:
    """The driver-side read of a qualifying plan."""

    def __init__(self, paths: list, arrow_schema, out: list, expr):
        self.paths = paths
        self.arrow_schema = arrow_schema
        self.out = out
        self.expr = expr

    def rows(self, limit: int) -> list | None:
        """The matching rows as ``collect()`` would build them, or
        ``None`` when more than ``limit`` match."""
        import pyarrow.dataset as ds
        from pyspark.sql.types import StructField, StructType, _parse_datatype_json_value

        schema = StructType(
            [StructField(a["name"], _parse_datatype_json_value(a["dataType"]), a["nullable"])
             for a in self.out]
        )

        fmt = ds.ParquetFileFormat(
            read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
        )
        dataset = ds.dataset(self.paths, schema=self.arrow_schema, format=fmt)
        names = list(dict.fromkeys(a["name"] for a in self.out))
        table = dataset.scanner(columns=names, filter=self.expr).head(limit + 1)
        if table.num_rows > limit:
            return None
        cols = {a["name"]: _internal(table.column(a["name"]), a["dataType"]) for a in self.out}
        return [schema.fromInternal(t) for t in zip(*(cols[a["name"]] for a in self.out))]


def _internal(col, spark_type: str) -> list:
    """A column as Spark's internal values, the form ``collect()``
    hands to ``fromInternal``."""
    import pyarrow as pa

    if spark_type == "date":
        return col.cast(pa.int32()).to_pylist()
    if spark_type in ("timestamp", "timestamp_ntz"):
        scale = 1000 if col.type.unit == "ms" else 1
        return [None if v is None else v * scale for v in col.cast(pa.int64()).to_pylist()]
    return col.to_pylist()
