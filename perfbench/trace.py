"""Traced-run mode: an in-memory span recorder and wrappers around the
public entry points of each engine layer.

The wrappers are installed from here, at run time, only for a traced
run; the program's own code is not edited.  A span records its name,
label (the view or store it ran for), start, end, parent span and
thread.  Spans opened on a pool thread that has no open span of its
own (``parallel_dispatch`` runs one view per thread) take as parent
the innermost open span of the thread that started the pool's work,
which is the dispatching ``insert()``.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    label: str | None
    start: float
    end: float | None
    parent: int | None
    thread: str


@dataclass
class Recorder:
    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _tls: threading.local = field(default_factory=threading.local)
    # the creating thread's open spans: pool threads attach to its top
    _main: int = field(default_factory=threading.get_ident)
    _main_stack: list[int] = field(default_factory=list)

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = (
                self._main_stack if threading.get_ident() == self._main
                else [])
        return st

    def begin(self, name: str, label: str | None = None) -> Span:
        st = self._stack()
        if st:
            parent = st[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        sp = Span(next(self._ids), name, label, time.perf_counter(), None,
                  parent, threading.current_thread().name)
        st.append(sp.id)
        self.spans.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == sp.id:
            st.pop()

    def to_json(self) -> list[dict]:
        return [sp.__dict__ for sp in self.spans]


def wrap(rec: Recorder, fn, name: str, label_of=None):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        sp = rec.begin(name, label_of(args) if label_of else None)
        try:
            return fn(*args, **kwargs)
        finally:
            rec.end(sp)
    return traced


def install(rec: Recorder):
    """Wrap each layer's public entry points; returns an undo callable."""
    from pipelinedb_spark import engine, manifestio, matrel

    name_of = lambda args: getattr(args[0], "name", None)  # noqa: E731
    targets = [
        (engine.PipelineContext, "insert", "engine.insert", None),
        (engine.PipelineContext, "read_view", "engine.read_view", None),
        (engine.PipelineContext, "combine_read", "engine.combine_read",
         None),
        (engine.PipelineContext, "sql", "engine.sql", None),
        (engine.ContView, "process_batch", "engine.process_batch", name_of),
        (matrel.MatrelStore, "merge", "matrel.merge", name_of),
        (matrel.MatrelStore, "read", "matrel.read", name_of),
        (manifestio.RenameManifestIO, "read_versioned", "manifestio.read",
         None),
        (manifestio.RenameManifestIO, "write", "manifestio.write", None),
        (manifestio.CondPutManifestIO, "read_versioned", "manifestio.read",
         None),
        (manifestio.CondPutManifestIO, "write", "manifestio.write", None),
        # create_view calls the name bound in the engine module
        (engine, "analyze", "analyzer.analyze", None),
    ]
    saved = []
    for owner, attr, name, label_of in targets:
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, wrap(rec, orig, name, label_of))

    def undo():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
    return undo


# -- span arithmetic -------------------------------------------------------------

def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def children_of(spans: list[Span]) -> dict[int | None, list[Span]]:
    out: dict[int | None, list[Span]] = {}
    for sp in spans:
        out.setdefault(sp.parent, []).append(sp)
    return out


def self_time(sp: Span, kids: dict[int | None, list[Span]]) -> float:
    """Duration minus the part of it that child spans cover; concurrent
    children are counted once (union of their intervals)."""
    ch = [(c.start, c.end) for c in kids.get(sp.id, [])]
    return (sp.end - sp.start) - covered(ch, sp.start, sp.end)


def descendants(sp: Span, kids: dict[int | None, list[Span]]) -> list[Span]:
    out, todo = [], [sp]
    while todo:
        for c in kids.get(todo.pop().id, []):
            out.append(c)
            todo.append(c)
    return out

