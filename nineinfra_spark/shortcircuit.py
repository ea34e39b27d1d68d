"""Bounded result fetch for the SQL frontends, with a short circuit for
single-table parquet point statements and a result cache for repeated
statements.

The REST and MySQL frontends FETCH a window of at most ``limit`` rows
of a SQL statement through :func:`fetch` (and a REST endpoint that
builds its own DataFrame through :func:`collect_bounded`). Spark
answers it as ``df.limit(limit + 1).collect()``; one row past the
window reports truncation without a count pass. A point statement
(``SELECT * FROM orders WHERE o_orderkey = 42``) pays a whole Spark job for that: scheduling, a task
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
- Order: Spark's scan reads its file splits longest first (a stable
  sort of the listing) and ``collect()`` returns rows in that order;
  the read takes the files in the same order. A table of several files
  one of which is longer than ``spark.sql.files.openCostInBytes`` or
  ``maxPartitionBytes`` is refused: Spark may split that file and put
  other files' rows between its pieces.
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

A REST cursor wants every row, not a window: ``fetch(..., cursor=True)``
runs the same check and read on ``df.limit(bound + 1)``, with the
one-shot cap as ``bound``. When the plan qualifies and at most
``bound`` rows match, the cursor pages over those rows; otherwise it
streams from Spark's ``toLocalIterator`` as before.

Result cache. A dashboard sends the same statement again and again;
Doris answers a repeat from its SQL cache until the data's version
changes. When the short circuit declines a one-shot window, it is
looked up in one process-wide cache before ``limited.collect()``: a
hit returns a copy of the stored window and runs no Spark job; a miss
runs Spark exactly as before and stores its answer. Short-circuited
statements are neither looked up nor stored, and cursors never use the
cache. An answer is reusable when every rule below holds:

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
- Cost: a lookup reads every input's listing once, through the handles
  its leaves give; the reading after a Spark run stats the same files
  and asks the same pinned relations again, with no new walk of the
  plan.

Statement templates. A point statement has new literals every time, so
the result cache never answers it, yet everything Spark does for it
before the read (``sess.sql``, the optimizer, the plan inspection) is
the same for every literal. Doris answers such statements from a
prepared-statement plan cache; here a statement the short circuit served
leaves a template, and :func:`fetch` looks the text up before
``sess.sql``. A hit is answered on the driver with no parser, no
optimizer and no Spark job. The rules:

- Text: comments become one space and each literal in a slot becomes a
  marker of its lexical class; everything else stays verbatim,
  whitespace and case included. A literal is in a slot when it is
  compared with a bare column (``col <op> lit`` or ``lit <op> col``
  directly after ``WHERE``, ``AND`` or ``(`` and directly before
  ``AND``, ``)`` or the end) or is an item of such a column's ``IN``
  list. The classes are an integer in int range, an integer beyond it
  (Spark types it as a bigint literal), a plain single-quoted string
  (no backslash, no doubled quote), and the string of a typed ``DATE``,
  ``TIMESTAMP``, ``TIMESTAMP_LTZ`` or ``TIMESTAMP_NTZ`` literal. Any
  other literal form stays verbatim; a hint (``/*+``), a NUL character,
  an unclosed quote or comment, or a ``${`` (Spark substitutes
  ``${conf}``, ``${env:X}`` and ``${system:X}`` in the text before it
  parses, also inside a string) leaves the text without a template.
- Key: the normalized text, the fetch mode (one-shot or cursor) and
  window, the session's SQL conf text, and its current catalog and
  database.
- Record: the served statement's parsed plan is one
  ``UnresolvedRelation`` with no options, its analyzed plan only
  ``Project``, ``Filter``, ``SubqueryAlias`` and one ``LogicalRelation``
  of a catalog table (so no view, temp view or path) with no
  ``current_*`` expression and no session variable, its filters hold
  one literal per slot besides ``NULL`` and booleans (so no literal is
  written verbatim where the optimizer could fold it against a slot's
  value, as in ``k = 3 AND k + 1 = 4``), the catalog's entry
  equals the one the relation was read under, and the table's location
  is the one file Spark reads or a directory that lists exactly the
  files Spark reads plus hidden ones. Each slot's
  value must equal exactly one literal of the optimized filter, of a
  type its class allows, and every literal but ``NULL`` and booleans
  must belong to exactly one slot; otherwise nothing is recorded. A
  bare ``TIMESTAMP`` slot needs ``spark.sql.timestampType`` at
  ``TIMESTAMP_LTZ``.
- Hit: each new value must fit its literal's type (an int slot over a
  smallint column takes smallint values only); typed temporal strings
  are converted by Spark's own ``DateTimeUtils`` (two py4j calls per
  string, memoized per string and time zone), and cast to the other
  timestamp type as Spark's ``Cast`` does when the column has it (only
  in a session time zone with a fixed offset). Then, on every
  statement: a directory location lists the same names and every file
  has its recorded ``(path, size, mtime_ns)``; no temp view has the name the
  text uses; the catalog entry equals the recorded one (location,
  schema, provider and the rest); and Spark's cache manager holds no
  cached plan for the relation. The filter is rebuilt from the
  recorded optimized filter with the new values, and the read is the
  short circuit's. Anything unmatched, any failed check and anything
  that raises falls through to ``sess.sql`` and the paths above, so
  errors stay Spark's, and a truncated window still comes from Spark.
- Bounds: at most ``_TEMPLATES_MAX`` texts, each with at most
  ``_TEMPLATE_VARIANTS`` keys. A template holds JVM objects of the
  session that recorded it (its relation keeps that session), so the
  templates of a session are dropped once the session is gone (a REST
  ``X-Session-Id`` clone past ``MAX_SESSIONS``, a closed MySQL
  connection's clone).

Decoded columns. The read filters decoded Arrow columns kept in one
process-wide cache bounded by ``_DECODED_MAX`` bytes and keyed like the
footer cache by ``(path, size, mtime_ns)`` plus the column name. A miss
decodes only the columns the statement needs and are not held, from a
file whose open handle still has the expected size and mtime. A table
whose files' uncompressed sizes sum past the bound is read with
``pyarrow.dataset`` as before, which prunes row groups by their
statistics, so the cache never churns through one table's columns. Both
keep the scan's file order and the row order within a file.

:func:`fetch_metrics` counts the statements each path answered:
``served`` (short circuit), ``templated`` (template), ``hits`` and
``spark`` sum to the statements fetched; ``misses`` and ``refused``
split the one-shot windows Spark answered by whether the plan was
reusable; ``stored`` and ``evicted`` follow the cache.
``decodedHits``/``decodedMisses`` count column lookups in the decoded
cache and ``decodedBytes`` is its size.
"""

from __future__ import annotations

import datetime as _dt
import itertools
import json
import operator
import os
import pickle
import threading
import weakref
from collections import OrderedDict
from decimal import Decimal
from typing import NamedTuple
from urllib.parse import unquote, urlsplit

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, Row, SparkSession

_EXPR = "org.apache.spark.sql.catalyst.expressions."
_LOGICAL = "org.apache.spark.sql.catalyst.plans.logical."
_RELATION = "org.apache.spark.sql.execution.datasources.LogicalRelation"
_FS_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"
_PARQUET = "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat"
_PINNED = "org.apache.spark.sql.execution.columnar.InMemoryRelation"
_TREE_PATTERN = "org.apache.spark.sql.catalyst.trees.TreePattern"
_UNRESOLVED = "org.apache.spark.sql.catalyst.analysis.UnresolvedRelation"
_DATETIME = "org.apache.spark.sql.catalyst.util.DateTimeUtils"
_UTF8 = "org.apache.spark.unsafe.types.UTF8String"

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
#: value range of each integer type
_INT_RANGE = {t: (-(2 ** (b - 1)), 2 ** (b - 1) - 1) for t, b in zip(_INT_TYPES, (8, 16, 32, 64))}

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

#: Template store bounds: texts, and keys (mode, window, conf, catalog,
#: database) per text.
_TEMPLATES_MAX = 1024
_TEMPLATE_VARIANTS = 16
#: Analyzed-plan nodes a templated statement may have (module docstring).
_TEMPLATE_NODES = {_LOGICAL + n for n in ("Project", "Filter", "SubqueryAlias")} | {_RELATION}
#: Expressions whose value is not in the text: never templated.
_UNTEMPLATED = ("CURRENT_LIKE", "VARIABLE_REFERENCE", "PARAMETER")
_CONVERTED_MAX = 4096

#: Decoded-column cache bound, in bytes of Arrow buffers.
_DECODED_MAX = 64 << 20


class _Lru:
    """A thread-safe map that drops its least recently used entries
    once it holds more than ``max_entries`` or their ``weight`` sums
    past ``max_weight``."""

    def __init__(self, max_entries: float, max_weight: float = float("inf"), weight=None):
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

    def values(self) -> list:
        with self._lock:
            return list(self._items.values())

    def clear(self) -> None:
        with self._lock:
            self._items.clear()
            self.weight = 0


#: Footer cache shared by every session and frontend in the process: a
#: key is a file's identity (path, size, mtime), so a rewritten file is
#: a miss, never a stale schema.
_footers = _Lru(_FOOTERS_MAX)

#: Decoded columns, keyed by ``((path, size, mtime_ns), column)``.
_decoded = _Lru(float("inf"), _DECODED_MAX, weight=lambda col: col.nbytes)


class _Entry(NamedTuple):
    """A stored window: the plan it answers, the input versions it was
    read at, and its rows' values, pickled so every hit gets a copy."""

    plan: object
    versions: tuple
    values: bytes
    rows: int


#: Result cache shared by every session and frontend in the process.
_results = _Lru(_RESULTS_MAX, _RESULT_ROWS_MAX, weight=lambda e: e.rows)

#: Template store: normalized text → {(mode, window, conf, catalog,
#: database): _Template}.
_templates = _Lru(_TEMPLATES_MAX)
#: Typed literal values, keyed by (class, text, time zone, target type).
_converted = _Lru(_CONVERTED_MAX)

_COUNTERS = ("served", "templated", "hits", "misses", "refused", "stored", "evicted", "spark")
_counts = dict.fromkeys(_COUNTERS + ("decodedHits", "decodedMisses"), 0)
_counts_lock = threading.Lock()


def _count(name: str, n: int = 1) -> None:
    with _counts_lock:
        _counts[name] += n


def fetch_metrics() -> dict:
    """A snapshot of the fetch-path counters (module docstring) and of
    the result and decoded caches' sizes."""
    with _counts_lock:
        out = dict(_counts)
    out["cacheEntries"] = len(_results)
    out["cacheRows"] = _results.weight
    out["decodedBytes"] = _decoded.weight
    return out


class _Refused(Exception):
    """The plan does not qualify; Spark answers."""


# -- JVM handles ---------------------------------------------------------------


class _Handles(NamedTuple):
    """The JVM objects of one session the fetch path asks, looked up
    once per session."""

    session: object  # the JVM SparkSession
    conf: object  # its SQLConf
    catalog: object  # its Catalog (current catalog and database)
    tables: object  # its SessionCatalog
    cache: object  # the CacheManager
    app: str  # the application id
    client: object  # the py4j gateway client
    owner: int  # this session's number, kept by the templates it records


_handles_by_session: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_handles_lock = threading.Lock()
_owners = itertools.count()
#: numbers of sessions gone since the last purge of their templates; a
#: finalizer only appends (it may run while any lock is held)
_gone: list[int] = []
_forget_lock = threading.Lock()


def _handles(sess: SparkSession) -> _Handles:
    with _handles_lock:
        h = _handles_by_session.get(sess)
    if h is None:
        jsession = sess._jsparkSession  # noqa: SLF001
        state = jsession.sessionState()
        h = _Handles(
            jsession, state.conf(), jsession.catalog(), state.catalog(),
            jsession.sharedState().cacheManager(), jsession.sparkContext().applicationId(),
            jsession._gateway_client, next(_owners),  # noqa: SLF001
        )
        # a template holds JVM objects that hold the session it was
        # recorded in: it goes when that session goes
        weakref.finalize(sess, _gone.append, h.owner).atexit = False
        with _handles_lock:
            _handles_by_session[sess] = h
    return h


_statics: dict = {}


def _static(client, fqn: str, name: str):
    """A static JVM method or value, looked up once per gateway."""
    key = (client, fqn, name)
    member = _statics.get(key)
    if member is None:
        member = _statics[key] = getattr(JavaClass(fqn, client), name)
    return member


def _pattern(client, name: str):
    """A tree pattern, looked up once per gateway."""
    key = (client, _TREE_PATTERN, name, "value")
    value = _statics.get(key)
    if value is None:
        value = _statics[key] = _static(client, _TREE_PATTERN, name)()
    return value


def _patterns(client, names: tuple):
    """Tree patterns as the Scala sequence ``containsAnyPattern`` takes,
    built once per gateway."""
    key = (client, names)
    seq = _statics.get(key)
    if seq is None:
        jlist = JavaClass("java.util.ArrayList", client)()
        for name in names:
            jlist.add(_pattern(client, name))
        converters = JavaClass("scala.jdk.javaapi.CollectionConverters", client)
        seq = _statics[key] = converters.asScala(jlist).toList()
    return seq


# -- fetch -------------------------------------------------------------------


def fetch(sess: SparkSession, text: str, limit: int, cursor: bool = False) -> tuple:
    """``(columns, rows, truncated)`` of SQL ``text``: the fetch of the
    SQL frontends. One-shot: at most ``limit`` rows, from a template,
    the short circuit (which leaves a template), the result cache or
    ``df.limit(limit + 1).collect()`` (module docstring). Cursor: an
    iterator over every row, read on the driver when a template or the
    short circuit answers with at most ``limit`` rows, and from
    ``toLocalIterator`` otherwise; ``truncated`` is then ``False``.
    Errors are Spark's."""
    mode = "cursor" if cursor else "bounded"
    hit = _template_answer(sess, text, mode, limit)
    if hit is not None:
        columns, rows = hit
        return columns, iter(rows) if cursor else rows, False
    df = sess.sql(text)
    limited = df.limit(limit + 1)
    rows, point = _served(limited, limit)
    if rows is not None:
        try:
            _record(df, text, mode, limit, point)
        except Exception:
            pass  # no template; the answer stands
    if cursor:
        if rows is not None:
            return df.columns, iter(rows), False
        _count("spark")
        return df.columns, df.toLocalIterator(prefetchPartitions=False), False
    if rows is None:
        rows = _cached_collect(limited, limit)
    return df.columns, rows[:limit], len(rows) > limit


def collect_bounded(df: DataFrame, limit: int) -> tuple[list, bool]:
    """At most ``limit`` rows of ``df`` and whether more exist, from the
    short circuit, the result cache or ``df.limit(limit + 1).collect()``
    (module docstring), for a frontend that built ``df`` itself."""
    limited = df.limit(limit + 1)
    rows = _served(limited, limit)[0]
    if rows is None:
        rows = _cached_collect(limited, limit)
    return rows[:limit], len(rows) > limit


def _served(limited: DataFrame, limit: int) -> tuple[list | None, "_PointRead | None"]:
    """The driver-side answer to ``limited`` (``df.limit(limit + 1)``)
    and the read that gave it: at most ``limit`` rows, or ``(None,
    None)`` when the plan does not qualify, more than ``limit`` rows
    match, or anything raises."""
    try:
        point = _point_read(limited, limit)
        rows = None if point is None else point.rows(limit)
    except Exception:
        # any failure on the driver-side path (py4j, pyarrow, a file
        # gone) is not reported from here: Spark answers, with its own
        # result or its own error
        return None, None
    if rows is None:
        return None, None
    _count("served")
    return rows, point


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
    """A reusable plan (module docstring): its cache key, the plan, the
    local files of each file relation (read once) and the builder of
    each pinned relation. Raises :class:`_Refused` for a plan whose
    answer is never stored."""

    def __init__(self, limited: DataFrame):
        h = _handles(limited.sparkSession)
        jplan = limited._jdf.queryExecution().withCachedData()  # noqa: SLF001
        if not jplan.deterministic():
            raise _Refused("nondeterministic")
        if jplan.containsAnyPattern(_patterns(h.client, _UNCACHEABLE)):
            raise _Refused("an expression whose answer is not reusable")
        leaves = jplan.collectLeaves()
        self.files: list[list[str]] = []
        self.pins: list = []
        for i in range(leaves.size()):
            jleaf = leaves.apply(i)
            cls = jleaf.getClass().getName()
            if cls == _RELATION:
                jrel = jleaf.relation()
                if jrel.getClass().getName() != _FS_RELATION:
                    raise _Refused("not a file relation")
                paths = _local_paths(jrel.location().inputFiles())
                if len(paths) > _RESULT_FILES_MAX:
                    raise _Refused("too many files")
                self.files.append(paths)
            elif cls == _PINNED:
                self.pins.append(jleaf.cacheBuilder())
            elif cls not in _PLAN_LEAVES:
                raise _Refused(f"a {cls} leaf")
        self.app = h.app
        self.key = (jplan.semanticHash(), h.conf.getAllConfs().toString())
        self.plan = jplan

    def versions(self) -> tuple:
        """``(path, size, mtime_ns)`` of every listed file, and the
        application and column-buffer RDD ids of every pinned relation,
        read through the handles taken at construction."""
        files = tuple(tuple((p, *_stat(p)) for p in paths) for paths in self.files)
        return files + tuple(_pin_version(self.app, jbuilder) for jbuilder in self.pins)


def _stat(path: str) -> tuple[int, int]:
    st = os.stat(path)
    return st.st_size, st.st_mtime_ns


def _pin_version(app: str, jbuilder) -> tuple:
    """The application id and column-buffer RDD id of a pinned
    relation, refused while its buffers are not loaded."""
    # checked first: asking an unloaded builder for its buffers would
    # build (and persist) a new RDD
    if not jbuilder.isCachedColumnBuffersLoaded():
        raise _Refused("pinned relation not loaded")
    return (app, jbuilder.cachedColumnBuffers().id())


# -- the short circuit ---------------------------------------------------------


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
    client = qe._gateway_client  # noqa: SLF001
    if not jplan.containsPattern(_pattern(client, "CTE")):
        _single_relation(jplan)
        if jplan.containsPattern(_pattern(client, "AGGREGATE")):
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
    files = [_footer(p) for p in _local_paths(jrel.location().inputFiles())]
    if not files:
        raise _Refused("no files")
    if len(files) > 1:
        sqlconf = _handles(limited.sparkSession).conf
        unsplit = min(sqlconf.filesOpenCostInBytes(), sqlconf.filesMaxPartitionBytes())
        if any(version[1] > unsplit for version, _ in files):
            raise _Refused("a file Spark may split")
        files.sort(key=lambda vf: -vf[0][1])  # the scan's order (module docstring)
    arrow_schema = files[0][1].arrow_schema
    for _, f in files:
        if f.spark_types != types or not f.calendar_safe:
            raise _Refused("file schema differs from the table schema")
        if not f.arrow_schema.equals(arrow_schema):
            raise _Refused("files disagree on their schema")
    translator = None
    if cond is not None:
        # the Filter sits just above the relation in the unary chain
        def jcond():
            node = jplan
            for _ in range(len(chain) - 2):
                node = node.child()
            return node.condition()

        translator = _Translator(types, arrow_schema, cond, jcond)
    return _PointRead(files, arrow_schema, out, translator, jleaf)


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


def _local_paths(uris) -> list[str]:
    paths = []
    for uri in uris:
        parts = urlsplit(uri)
        if parts.scheme != "file" or parts.netloc not in ("", "localhost"):
            raise _Refused("not a local file")
        paths.append(unquote(parts.path))
    return paths


class _Footer:
    """What the short circuit needs from one file's footer."""

    __slots__ = ("arrow_schema", "spark_types", "calendar_safe", "decoded_size")

    def __init__(self, path: str):
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
        md, pschema = pf.metadata, pf.schema
        self.arrow_schema = pf.schema_arrow
        self.decoded_size = sum(md.row_group(g).total_byte_size for g in range(md.num_row_groups))
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


def _footer(path: str) -> tuple[tuple, _Footer]:
    """A file's version ``(path, size, mtime_ns)`` and its footer."""
    version = (path, *_stat(path))
    footer = _footers.get(version)
    if footer is None:
        footer = _Footer(path)
        _footers.put(version, footer)
    return version, footer


class _Translator:
    """Optimized-plan filter → ``pyarrow.dataset`` expression with
    Spark's semantics on the result (a NULL predicate drops the row on
    both sides). ``values`` replaces the value of literals by their
    preorder leaf index (a template's new literals); ``literals`` then
    holds the type and value every literal was read with, and
    ``fields`` the columns the filter reads."""

    def __init__(self, types: dict, arrow_schema, nodes: list, jcond=None, values=None):
        self.types = types
        self.arrow_schema = arrow_schema
        self.nodes = nodes
        self.jcond = jcond  # () -> the JVM condition, for temporal literals
        # preorder position of each leaf, to fetch a temporal literal's
        # value from the JVM condition's collectLeaves()
        leaf_ids = [id(n) for n in nodes if n["num-children"] == 0]
        self.leaf_index = {k: j for j, k in enumerate(leaf_ids)}
        self._leaves = None
        self.values = values or {}
        self.literals: dict[int, tuple] = {}
        self.fields: set[str] = set()
        self.expr = self.pred(_tree(nodes)[0])

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
            f = self.field(attr)
            return f.is_null() if kind == "IsNull" else f.is_valid()
        if kind == "AttributeReference" and node["dataType"] == "boolean":
            return self.field(node) == True  # noqa: E712 — an expression
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

    def field(self, attr: dict):
        import pyarrow.compute as pc

        self.fields.add(attr["name"])
        return pc.field(attr["name"])

    def compare(self, left: tuple, op, right: tuple):
        import pyarrow as pa
        import pyarrow.compute as pc

        attr, (lit, _) = _attr(left), right
        if attr is None or lit["class"] != _EXPR + "Literal":
            raise _Refused("not column-vs-literal")
        spark_type = self.types[attr["name"]]
        if lit["dataType"] != spark_type or spark_type == "binary":
            raise _Refused("literal not in the column's type")
        if spark_type == "double":
            # Spark prunes row groups and pages by parquet min/max,
            # which leave NaN out and order -0.0 below 0.0, so its
            # answer depends on the statistics
            raise _Refused("double comparison")
        idx = self.leaf_index[id(lit)]
        value = self.values[idx] if idx in self.values else self.value(lit, spark_type)
        self.literals[idx] = (spark_type, value)
        f = self.field(attr)
        if value is None:
            return pc.scalar(False)  # NULL comparison: no row passes
        t = self.arrow_schema.field(attr["name"]).type
        if spark_type == "date":
            v = pa.scalar(value, pa.int32()).cast(pa.date32())
        elif spark_type in ("timestamp", "timestamp_ntz"):
            us = pa.timestamp("us", tz=t.tz)
            if t != us:
                f = f.cast(us)
            v = pa.scalar(value, pa.int64()).cast(us)
        else:
            v = pa.scalar(value, t)
        return op(f, v)

    def value(self, lit: dict, spark_type: str):
        """A literal's value: Python int, bool, str or Decimal, and for
        dates and timestamps Spark's internal day or microsecond count."""
        raw = lit["value"]
        if raw is None:
            return None
        if spark_type in _INT_TYPES:
            return int(raw)
        if spark_type == "boolean":
            return raw == "true"
        if spark_type == "string":
            return raw
        if spark_type.startswith("decimal("):
            return Decimal(raw)
        if self._leaves is None:
            self._leaves = self.jcond().collectLeaves()
        return int(self._leaves.apply(self.leaf_index[id(lit)]).value())


class _PointRead:
    """The driver-side read of a qualifying plan: its files (each
    ``(version, footer)``), schema, output columns, filter and the JVM
    relation it reads (for templates)."""

    def __init__(self, files: list, arrow_schema, out: list, translator, jleaf=None):
        self.files = files
        self.arrow_schema = arrow_schema
        self.out = out
        self.translator = translator
        self.jleaf = jleaf

    def rows(self, limit: int) -> list | None:
        """The matching rows as ``collect()`` would build them, or
        ``None`` when more than ``limit`` match."""
        from pyspark.sql.types import StructField, StructType, _parse_datatype_json_value

        schema = StructType(
            [StructField(a["name"], _parse_datatype_json_value(a["dataType"]), a["nullable"])
             for a in self.out]
        )
        table = self.table(limit)
        if table is None:
            return None
        cols = {a["name"]: _internal(table.column(a["name"]), a["dataType"]) for a in self.out}
        return [schema.fromInternal(t) for t in zip(*(cols[a["name"]] for a in self.out))]

    def table(self, limit: int):
        """At most ``limit`` matching rows in file order, or ``None``
        when more match."""
        import pyarrow as pa
        import pyarrow.dataset as ds

        expr = None if self.translator is None else self.translator.expr
        names = list(dict.fromkeys(a["name"] for a in self.out))
        if sum(f.decoded_size for _, f in self.files) > _DECODED_MAX:
            fmt = ds.ParquetFileFormat(
                read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
            )
            paths = [version[0] for version, _ in self.files]
            dataset = ds.dataset(paths, schema=self.arrow_schema, format=fmt)
            table = dataset.scanner(columns=names, filter=expr).head(limit + 1)
            return None if table.num_rows > limit else table
        if self.translator is not None:
            names += sorted(self.translator.fields - set(names))
        parts, n = [], 0
        for version, _ in self.files:
            part = pa.table(_decoded_columns(version, names))
            if expr is not None:
                part = part.filter(expr)
            n += part.num_rows
            if n > limit:
                return None
            parts.append(part)
        return pa.concat_tables(parts)


def _decoded_columns(version: tuple, names: list) -> dict:
    """The named columns of one file version, from the decoded cache;
    the ones it lacks are decoded together and stored."""
    import pyarrow.parquet as pq

    out, missing = {}, []
    for name in names:
        col = _decoded.get((version, name))
        if col is None:
            missing.append(name)
        else:
            out[name] = col
    _count("decodedHits", len(out))
    if missing:
        _count("decodedMisses", len(missing))
        path, size, mtime = version
        with open(path, "rb") as fh:
            st = os.fstat(fh.fileno())
            # key what was decoded by the file actually opened
            if (st.st_size, st.st_mtime_ns) != (size, mtime):
                raise _Refused("file changed since it was planned")
            table = pq.ParquetFile(fh, coerce_int96_timestamp_unit="us").read(columns=missing)
        for name in missing:
            out[name] = col = table.column(name)
            _decoded.put((version, name), col)
    return out


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


# -- statement templates ---------------------------------------------------------

#: comparison operators a slot may sit behind
_CMP = frozenset(("=", "==", "<", "<=", ">", ">=", "<>", "!="))
#: multi-character operators, longest first, so ``<=>`` or ``!<`` never
#: read as ``<`` or ``<=``
_OPS = ("<=>", "<=", ">=", "<>", "!=", "==", "=>", "->", "::", "||", "|>", "!<", "!>")
_WS = frozenset(" \t\n\r\f\v")
_WORD = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_")
#: typed-literal keywords → slot class
_TYPED = {
    "DATE": "date", "TIMESTAMP": "timestamp", "TIMESTAMP_LTZ": "timestamp_ltz",
    "TIMESTAMP_NTZ": "timestamp_ntz",
}
#: slot class → the literal types it may stand for, its own first (a
#: timestamp compared with the other timestamp type is cast to it)
_SLOT_TYPES = {
    "int": _INT_TYPES, "bigint": ("long",), "string": ("string",), "date": ("date",),
    "timestamp": ("timestamp", "timestamp_ntz"), "timestamp_ltz": ("timestamp", "timestamp_ntz"),
    "timestamp_ntz": ("timestamp_ntz", "timestamp"),
}
_LEAD = frozenset(("WHERE", "AND", "("))
_TAIL = frozenset(("AND", ")", ""))


def _lex(text: str) -> list[tuple[str, int, int]] | None:
    """``(kind, start, end)`` tokens: ``ws``, ``comment``, ``str``
    (single-quoted), ``dstr``, ``bq``, ``word`` or ``op``; ``None`` for a
    hint, a NUL or an unclosed quote or comment. Comments nest and a
    line comment continues past a backslash-newline, as in Spark's
    lexer."""
    if "\x00" in text:
        return None
    out, i, n = [], 0, len(text)
    while i < n:
        c = text[i]
        j = i + 1
        if c in _WS:
            while j < n and text[j] in _WS:
                j += 1
            kind = "ws"
        elif text.startswith("--", i):
            j = i + 2
            while j < n and text[j] not in "\r\n":
                j += 2 if text.startswith("\\\n", j) else 1
            kind = "comment"
        elif text.startswith("/*", i):
            if text.startswith("/*+", i):
                return None
            depth, j = 1, i + 2
            while depth:
                if j >= n:
                    return None
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            kind = "comment"
        elif c in "'\"`":
            while True:
                if j >= n:
                    return None
                if text[j] == "\\" and c != "`":
                    j += 2
                elif text[j] == c:
                    if text.startswith(c + c, j):
                        j += 2  # a doubled quote
                    else:
                        j += 1
                        break
                else:
                    j += 1
            kind = {"'": "str", '"': "dstr", "`": "bq"}[c]
        elif c in _WORD:
            while j < n and text[j] in _WORD:
                j += 1
            kind = "word"
        else:
            j = i + len(next((op for op in _OPS if text.startswith(op, i)), c))
            kind = "op"
        out.append((kind, i, j))
        i = j
    return out


class _Shape(NamedTuple):
    """A statement's normalized text and its slots' ``(class, value)``."""

    key: str
    values: tuple


def _shape(text: str) -> _Shape | None:
    """The normalized text of a statement (module docstring)."""
    if "${" in text:
        return None  # Spark substitutes ${...} variables before parsing
    toks = _lex(text)
    if toks is None:
        return None
    sig = [k for k, (kind, _, _) in enumerate(toks) if kind not in ("ws", "comment")]
    words = [text[toks[k][1]:toks[k][2]] for k in sig]
    upper = [w.upper() for w in words]
    kinds = [toks[k][0] for k in sig]

    def at(p: int) -> str:
        return upper[p] if 0 <= p < len(sig) else ""

    # literal units (first, last significant position, slot position,
    # class, value)
    units = []
    for p, kind in enumerate(kinds):
        if kind == "word" and words[p].isdigit():
            v, a = int(words[p]), p
            if at(p - 1) == "-" and (at(p - 2) in _CMP or at(p - 2) in ("(", ",")):
                v, a = -v, p - 1
            if -(2**31) <= v < 2**31:
                units.append((a, p, a, "int", v))
            elif -(2**63) <= v < 2**63:
                units.append((a, p, a, "bigint", v))
        elif kind == "str":
            body = words[p][1:-1]
            if "\\" in body or "'" in body:
                continue
            if kinds[p - 1:p] == ["word"] and at(p - 1) in _TYPED and at(p - 2) != ".":
                units.append((p - 1, p, p, _TYPED[at(p - 1)], body))
            else:
                units.append((p, p, p, "string", body))
    starts = {u[0]: u for u in units}
    ends = {u[1]: u for u in units}

    def name(q: int) -> bool:
        return 0 <= q < len(sig) and (
            kinds[q] == "bq" or kinds[q] == "word" and not words[q].isdigit())

    def chain_start(q: int) -> int | None:
        """Start of a column reference (``a``, ``t.a``, ```a```)
        ending at ``q``."""
        if not name(q):
            return None
        while at(q - 1) == "." and name(q - 2):
            q -= 2
        return q

    def chain_end(q: int) -> int | None:
        if not name(q):
            return None
        while at(q + 1) == "." and name(q + 2):
            q += 2
        return q

    def compared(a: int, b: int) -> bool:
        # col <op> lit, or lit <op> col
        if at(a - 1) in _CMP and at(b + 1) in _TAIL:
            s = chain_start(a - 2)
            return s is not None and at(s - 1) in _LEAD
        if at(b + 1) in _CMP and at(a - 1) in _LEAD:
            e = chain_end(b + 2)
            return e is not None and at(e + 1) in _TAIL
        return False

    def listed(a: int, b: int) -> bool:
        # col IN (lit, ..., lit)
        if at(a - 1) not in ("(", ",") or at(b + 1) not in (",", ")"):
            return False
        lo = a - 1
        while at(lo) == ",":
            lo = ends[lo - 1][0] - 1 if lo - 1 in ends else lo - 2 if at(lo - 1) == "NULL" else -1
        hi = b + 1
        while at(hi) == ",":
            hi = starts[hi + 1][1] + 1 if hi + 1 in starts else hi + 2 if at(hi + 1) == "NULL" else -1
        if at(lo) != "(" or at(hi) != ")" or at(lo - 1) != "IN" or at(hi + 1) not in _TAIL:
            return False
        s = chain_start(lo - 2)
        return s is not None and at(s - 1) in _LEAD

    slots = {}  # raw token range → (class, value)
    for a, b, p, cls, v in units:
        if compared(a, b) or listed(a, b):
            slots[sig[p]] = (sig[b], cls, v)
    parts, values, k = [], [], 0
    while k < len(toks):
        kind, s, e = toks[k]
        if k in slots:
            last, cls, v = slots[k]
            parts.append(f"\x00{cls}\x00")
            values.append((cls, v))
            k = last + 1
            continue
        parts.append(" " if kind == "comment" else text[s:e])
        k += 1
    return _Shape("".join(parts), tuple(values))


class _Template(NamedTuple):
    """What a served statement left (module docstring)."""

    columns: list
    point: _PointRead  # files, schema and output columns
    slots: tuple  # per slot: (class, literal leaf index, literal type)
    zone: str | None  # the session time zone, for typed literal slots
    name: object  # the JVM table name as the text spells it
    ident: object  # the JVM TableIdentifier it resolved to
    entry: object  # the JVM CatalogTable the relation was read under
    root: str  # the table's location: a directory or one file
    listing: tuple | None  # sorted names in the directory
    owner: int  # the recording session's number (``_handles``)


def _template_key(h: _Handles, mode: str, window: int) -> tuple:
    return (mode, window, h.conf.getAllConfs().toString(), h.catalog.currentCatalog(),
            h.catalog.currentDatabase())


def _template_answer(sess: SparkSession, text: str, mode: str, window: int):
    """``(columns, rows)`` from a template, or ``None``. Tests replace
    this function to force Spark."""
    try:
        if _gone:
            _forget_gone()
        shape = _shape(text)
        variants = None if shape is None else _templates.get(shape.key)
        if not variants:
            return None
        h = _handles(sess)
        t = variants.get(_template_key(h, mode, window))
        rows = None if t is None else _template_rows(t, h, shape.values, window)
    except Exception:
        return None  # Spark answers, with its own result or error
    if rows is None:
        return None
    _count("templated")
    return t.columns, rows


def _forget_gone() -> None:
    """Drop the templates recorded by sessions that are gone."""
    with _forget_lock:
        n = len(_gone)
        gone = set(_gone[:n])
        del _gone[:n]
        for variants in _templates.values():
            for key, t in variants.copy().items():
                if t.owner in gone:
                    variants.pop(key, None)


def _template_rows(t: _Template, h: _Handles, values: tuple, window: int) -> list | None:
    new = {}
    for (cls, idx, spark_type), (_, raw) in zip(t.slots, values):
        if cls in ("int", "bigint"):
            lo, hi = _INT_RANGE[spark_type]
            if not lo <= raw <= hi:
                return None
            new[idx] = raw
        elif cls == "string":
            new[idx] = raw
        else:
            new[idx] = _temporal(h.client, cls, raw, t.zone, spark_type)
    if t.listing is not None and tuple(sorted(os.listdir(t.root))) != t.listing:
        return None
    for version, _ in t.point.files:
        if (version[0], *_stat(version[0])) != version:
            return None
    if h.tables.isTempView(t.name) or not h.tables.getTableMetadata(t.ident).equals(t.entry):
        return None
    p = t.point
    if h.cache.lookupCachedData(h.session, p.jleaf).isDefined():
        return None  # pinned since: Spark reads the cache
    tr = p.translator and _Translator(
        p.translator.types, p.arrow_schema, p.translator.nodes, values=new)
    return _PointRead(p.files, p.arrow_schema, p.out, tr).rows(window)


def _temporal(client, cls: str, text: str, zone: str, target: str) -> int:
    """A typed literal's value as Spark's parser computes it (days for
    ``DATE``, microseconds for the timestamps), cast to ``target`` as
    Spark's ``Cast`` does between the two timestamp types. Raises for a
    string Spark would not read (the special values ``now``, ``today``
    and the like included: Spark reads them before these functions)."""
    key = (cls, text, zone, target)
    value = _converted.get(key)
    if value is None:
        utf8 = _static(client, _UTF8, "fromString")(text)
        native = _SLOT_TYPES[cls][0]
        if cls == "date":
            value = _static(client, _DATETIME, "stringToDateAnsi")(utf8, None)
        elif cls == "timestamp_ntz":
            value = _static(client, _DATETIME, "stringToTimestampWithoutTimeZoneAnsi")(utf8, None)
        else:
            value = _static(client, _DATETIME, "stringToTimestampAnsi")(
                utf8, _zone_id(client, zone), None)
        if target != native:
            utc = _static(client, "java.time.ZoneOffset", "UTC")
            here = _zone_id(client, zone)
            # Cast.castToTimestampNTZ / castToTimestamp between the two
            value = _static(client, _DATETIME, "convertTz")(
                value, *((utc, here) if target == "timestamp_ntz" else (here, utc)))
        _converted.put(key, value)
    return value


def _zone_id(client, zone: str):
    key = (client, "zone", zone)
    zone_id = _statics.get(key)
    if zone_id is None:
        zone_id = _statics[key] = _static(client, _DATETIME, "getZoneId")(zone)
    return zone_id


def _hidden(name: str) -> bool:
    """A name Spark's file listing leaves out
    (``InMemoryFileIndex.shouldFilterOutPathName``)."""
    exclude = (name.startswith("_") and "=" not in name) or name.startswith(".") or (
        name.endswith("._COPYING_"))
    return exclude and not name.startswith(("_common_metadata", "_metadata"))


def _record(df: DataFrame, text: str, mode: str, window: int, point: _PointRead) -> None:
    """Leave a template for ``df``, the statement of SQL ``text`` the
    short circuit served, when every rule of the module docstring
    holds."""
    shape = _shape(text)
    if shape is None:
        return
    h = _handles(df.sparkSession)
    # the slots and the filter's literals must pair up one to one
    literals = {} if point.translator is None else point.translator.literals
    types, zone = _SLOT_TYPES, None
    if any(cls in _TYPED.values() for cls, _ in shape.values):
        zone = h.conf.sessionLocalTimeZone()
        # a timestamp cast to the other timestamp type is a fixed shift
        # only in a zone without transitions
        if not _zone_id(h.client, zone).getRules().isFixedOffset():
            types = {c: ts[:1] if c in _TYPED.values() else ts for c, ts in types.items()}
    slots, claimed = [], set()
    for cls, raw in shape.values:
        match = [idx for idx, (t, v) in literals.items() if t in types[cls] and v == (
            raw if cls in ("int", "bigint", "string") else _temporal(h.client, cls, raw, zone, t))]
        if len(match) != 1 or match[0] in claimed:
            return
        claimed.add(match[0])
        slots.append((cls, match[0], literals[match[0]][0]))
    if any(idx not in claimed and v is not None and t != "boolean"
           for idx, (t, v) in literals.items()):
        return
    if any(cls == "timestamp" for cls, _ in shape.values) and (
            h.conf.timestampType().typeName() != "timestamp"):
        return
    qe = df._jdf.queryExecution()  # noqa: SLF001
    parsed = qe.logical().collectLeaves()
    if parsed.size() != 1:
        return
    unresolved = parsed.head()
    if (unresolved.getClass().getName() != _UNRESOLVED or unresolved.isStreaming()
            or not unresolved.options().isEmpty()):
        return
    analyzed = qe.analyzed()
    nodes = json.loads(analyzed.toJSON())
    classes = [n["class"] for n in nodes]
    if not set(classes) <= _TEMPLATE_NODES or classes.count(_RELATION) != 1:
        return
    # every literal the text's filter holds is a slot: a literal written
    # verbatim could meet a slot's value in the optimizer (``k = 3 AND
    # k + 1 = 4`` folds to ``k = 3``) and leave no trace to match
    written = [e for n in nodes if n["class"] == _LOGICAL + "Filter" for e in n["condition"]
               if e["class"] == _EXPR + "Literal" and e["value"] is not None
               and e["dataType"] != "boolean"]
    if len(written) != len(shape.values):
        return
    if analyzed.containsAnyPattern(_patterns(h.client, _UNTEMPLATED)):
        return
    entry = point.jleaf.catalogTable()
    if not entry.isDefined():
        return
    entry = entry.get()
    ident = entry.identifier()
    if not h.tables.getTableMetadata(ident).equals(entry):
        return
    roots = point.jleaf.relation().location().rootPaths()
    if roots.size() != 1:
        return
    (root,) = _local_paths([roots.head().toUri().toString()])
    root = root.rstrip("/")
    paths = [version[0] for version, _ in point.files]
    listing = None
    if os.path.isdir(root):
        listing = tuple(sorted(os.listdir(root)))
        data = {n for n in listing if not _hidden(n)}
        if {os.path.dirname(p) for p in paths} != {root} or data != {
                os.path.basename(p) for p in paths}:
            return
        if not all(os.path.isfile(os.path.join(root, n)) for n in data):
            return
    elif paths != [root]:
        return
    t = _Template(
        list(df.columns), point, tuple(slots), zone, unresolved.multipartIdentifier(),
        ident, entry, root, listing, h.owner,
    )
    variants = _templates.get(shape.key)
    if variants is None or len(variants) >= _TEMPLATE_VARIANTS:
        variants = {}
        _templates.put(shape.key, variants)
    variants[_template_key(h, mode, window)] = t
