"""In-memory spans around the engine's public entry points.

A :class:`Tracer` replaces chosen module functions and pyspark class
methods with wrappers that record a span (name, start, end, parent, op
id, op kind) per call; nothing under ``nineinfra_spark/`` is edited.
Spans stay in memory until :meth:`Tracer.dump` writes them out at the
end of a run, and :meth:`Tracer.restore` puts the originals back.

Ops are tagged two ways: :meth:`Tracer.op` marks a block of the
benchmark's own loop, and a SQL statement carrying an
``/*op=<id>:<kind>*/`` marker (the gateway's clients add one in traced
runs) tags the handler thread that plans it. Either way the tag becomes
the Spark job group, so the event log attributes every job to its op.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import threading
import time
from contextlib import contextmanager

_OP_MARKER = re.compile(r"/\*op=(\d+):(\w+)\*/")


def op_marker(op_id: int, kind: str) -> str:
    return f"/*op={op_id}:{kind}*/"


def job_group(op_id: int, kind: str) -> str:
    return f"op{op_id}:{kind}"


def parse_job_group(group: str | None) -> tuple[int, str] | None:
    if not group or not group.startswith("op") or ":" not in group:
        return None
    op, kind = group[2:].split(":", 1)
    return int(op), kind


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []
        self.sc = None  # the SparkContext, once the engine is open

    # -- op tagging ------------------------------------------------------
    def _tag(self, op_id: int | None, kind: str | None) -> None:
        self._local.op = (op_id, kind)
        if self.sc is not None and op_id is not None:
            self.sc.setJobGroup(job_group(op_id, kind), kind)

    def current_op(self) -> tuple[int | None, str | None]:
        return getattr(self._local, "op", (None, None))

    @contextmanager
    def op(self, op_id: int, kind: str):
        """Tag the calling thread with an op for the block, and record
        the block itself as an ``op`` span."""
        self._tag(op_id, kind)
        try:
            with self.span("op"):
                yield
        finally:
            self._local.op = (None, None)
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            op_id, kind = self.current_op()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "op": op_id, "kind": kind}
                )

    # -- wrapping --------------------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span per
        call. The first string argument is searched for an op marker,
        which tags the calling thread."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            text = next((a for a in args if isinstance(a, str)), "")
            m = _OP_MARKER.search(text)
            if m:
                tracer._tag(int(m.group(1)), m.group(2))
            with tracer.span(name):
                return original(*args, **kwargs)

        self._restore.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    def dump(self, path: str) -> None:
        with self._lock, open(path, "w") as f:
            json.dump(self.spans, f)

