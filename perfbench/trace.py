"""Span recorder for traced runs, fed by wrappers around public calls.

The wrappers replace public entry points (``CdcEngine.apply_batch``,
``LakeTable.snapshot``, ...) on their class or module for the duration of
a traced repetition and restore them afterwards. Each call becomes one
in-memory span (name, start, end, parent, thread, batch id); calls that can
run Spark jobs also set the thread's Spark job group to the span name and
restore the previous group on exit, so that ``eventlog.attribute`` can
charge task metrics to the innermost span that submitted them.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: int
    batch: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._ids = iter(range(1 << 62))

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, batch: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if batch is None and parent is not None:
            batch = parent.batch
        s = Span(next(self._ids), name, time.monotonic(), 0.0,
                 parent.id if parent else None, threading.get_ident(), batch)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            stack.pop()
            self.spans.append(s)

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (e.g. a streaming epoch)."""
        self.spans.append(Span(next(self._ids), name, start, end, None, 0))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the union of its children's intervals
    (clipped to the span)."""
    kids = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans if c.parent == span.id
    ]
    return span.dur - union_length([k for k in kids if k[1] > k[0]])


@contextmanager
def _job_group(sc, name: str):
    prev = sc.getLocalProperty(JOB_GROUP)
    sc.setLocalProperty(JOB_GROUP, name)
    try:
        yield
    finally:
        sc.setLocalProperty(JOB_GROUP, prev)


def _wrap(fn, name: str, rec: Recorder, sc, batch_arg: int | None):
    @functools.wraps(fn)
    def inner(*args, **kwargs):
        batch = None
        if batch_arg is not None and len(args) > batch_arg:
            batch = args[batch_arg]
        with rec.span(name, batch):
            if sc is None:
                return fn(*args, **kwargs)
            with _job_group(sc, name):
                return fn(*args, **kwargs)

    return inner


@contextmanager
def installed(rec: Recorder, sc, targets):
    """Wrap ``targets`` — (owner, attribute, span name, sets job group,
    positional index of the batch id or None) — for the ``with`` body."""
    saved = []
    try:
        for owner, attr, name, groups, batch_arg in targets:
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))
            setattr(owner, attr, _wrap(fn, name, rec, sc if groups else None, batch_arg))
        yield rec
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


def engine_targets():
    """The public calls a traced run wraps, by layer."""
    from embulk_output_bigquery_java_spark import engine
    from embulk_output_bigquery_java_spark.lake import LakeTable
    from embulk_output_bigquery_java_spark.streaming import checkpoint

    return [
        (engine.CdcEngine, "replay", "engine.replay", True, None),
        (engine.CdcEngine, "apply_batch", "engine.apply_batch", True, 2),
        (LakeTable, "write_delta_files", "lake.write_delta_files", True, None),
        (LakeTable, "commit_delta_files", "lake.commit_delta_files", False, None),
        (LakeTable, "mark_batch_applied", "lake.mark_batch_applied", False, None),
        (LakeTable, "snapshot", "lake.snapshot", False, None),
        (LakeTable, "current_version", "lake.current_version", False, None),
        # the engine binds the ledger's append at import; wrap that binding
        (engine, "ledger_append", "streaming.ledger_append", False, None),
        (checkpoint, "store", "streaming.checkpoint_store", False, None),
    ]
