"""In-memory span recorder for the traced benchmark run.

The recorder wraps public functions and methods of the library's layer
modules at their import sites (the module attribute and every module that
imported the same object by name). Library code is not edited. Each call
of a wrapped function while tracing is on records a span: name, layer,
start, end, parent span and op id. Spans stay in memory and are
summarised when the run ends.

Self time follows the timeline: every instant of an op is credited to the
spans open at that instant that have no open child, split evenly when
library thread pools run several at once. On a single thread that is the
span's duration minus the time its children cover; in every case the self
times of an op's spans plus ``<op>.other_s`` (the op root's own share)
add up to the op's wall time exactly.
"""

from __future__ import annotations

import functools
import inspect
import operator
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int


class Recorder:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._op: int | None = None
        self._op_stack: list[int] | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def begin_op(self, name: str) -> int:
        sid = self._new_id()
        st = self._stack()
        st.append(sid)
        self._op, self._op_stack = sid, st
        self._open = (sid, name, time.perf_counter())
        return sid

    def end_op(self) -> Span:
        sid, name, t0 = self._open
        t1 = time.perf_counter()
        self._stack().pop()
        span = Span(sid, name, "op", t0, t1, None, sid)
        with self._lock:
            self.spans.append(span)
        self._op = self._op_stack = None
        return span

    def call(self, name: str, layer: str, fn, args, kwargs):
        if not self.enabled or self._op is None:
            return fn(*args, **kwargs)
        st = self._stack()
        # a span opened on a library pool thread has no parent of its own:
        # it belongs under whatever the op's thread has open at the moment
        parent = self._op
        if st:
            parent = st[-1]
        elif self._op_stack:
            try:
                parent = self._op_stack[-1]
            except IndexError:  # the op's thread closed its span meanwhile
                pass
        sid = self._new_id()
        op = self._op
        st.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(Span(sid, name, layer, t0, t1, parent, op))


class _Traced:
    """Callable stand-in for a library function. Pickles as the original
    function, so closures that Spark ships to executors never carry the
    recorder; binds like a function when installed on a class."""

    def __init__(self, rec: Recorder, fn, name: str, layer: str):
        self._rec, self._fn, self._name, self._layer = rec, fn, name, layer
        functools.update_wrapper(self, fn)

    def __call__(self, *args, **kwargs):
        return self._rec.call(self._name, self._layer, self._fn, args, kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return operator.itemgetter(0), ((self._fn,),)


class Patches:
    """Installs and removes wrappers. ``targets`` maps a layer name to a
    list of (module path, attribute or ``Class.method``)."""

    def __init__(self, rec: Recorder, targets: dict[str, list[tuple[str, str]]]):
        self.rec = rec
        self.targets = targets
        self._undo: list[tuple[object, str, object]] = []

    def install(self) -> None:
        import importlib

        originals: dict[int, tuple[object, str, str]] = {}
        for layer, items in self.targets.items():
            for mod_name, attr in items:
                owner = importlib.import_module(mod_name)
                cls_name, _, meth = attr.rpartition(".")
                if cls_name:
                    owner = getattr(owner, cls_name)
                    fn = inspect.getattr_static(owner, meth)
                    if not inspect.isfunction(fn):
                        raise TypeError(f"{mod_name}.{attr} is not a plain method")
                    name = f"{mod_name.removeprefix('sgdnet_spark.')}.{attr}"
                    self._set(owner, meth, _Traced(self.rec, fn, name, layer))
                    continue
                fn = getattr(owner, attr)
                originals[id(fn)] = (fn, f"{mod_name.removeprefix('sgdnet_spark.')}.{attr}", layer)
        # replace every import site: module globals bound to the same object
        for mod in list(sys.modules.values()):
            mod_name = getattr(mod, "__name__", "") or ""
            if not mod_name.startswith("sgdnet_spark"):
                continue
            for key, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    fn, name, layer = hit
                    self._set(mod, key, _Traced(self.rec, fn, name, layer))

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def remove(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)


# ------------------------------------------------------------- summaries


def exclusive_times(spans: list[Span]) -> dict[int, float]:
    """Timeline self time of each span of ONE op (root included), clipped
    to the root's interval; the values sum to the root's duration."""
    root = next(s for s in spans if s.layer == "op")
    lo, hi = root.start, root.end
    parent_of = {s.sid: s.parent for s in spans}

    def depth(sid):
        d = 0
        while parent_of.get(sid) is not None:
            sid, d = parent_of[sid], d + 1
        return d

    events = []
    for s in spans:
        a, b = max(s.start, lo), min(s.end, hi)
        if b > a or s is root:
            d = depth(s.sid)
            events.append((a, 1, d, s))  # parents open before children
            events.append((b, 0, -d, s))  # children close before parents
    events.sort(key=lambda e: e[:3])
    out: dict[int, float] = defaultdict(float)
    active: dict[int, Span] = {}
    open_children: dict[int, int] = defaultdict(int)
    prev = lo
    for t, kind, _, s in events:
        if t > prev and active:
            leaves = [sid for sid in active if open_children[sid] == 0]
            share = (t - prev) / len(leaves)
            for sid in leaves:
                out[sid] += share
        prev = max(prev, t)
        if kind == 1:
            active[s.sid] = s
            if s.parent in active:
                open_children[s.parent] += 1
        else:
            active.pop(s.sid, None)
            if s.parent in active and open_children[s.parent] > 0:
                open_children[s.parent] -= 1
    return out


def summarize_op(spans: list[Span]) -> tuple[Span, dict[str, float], dict[str, int], float]:
    """(root, self seconds per layer, span count per layer, other_s)."""
    root = next(s for s in spans if s.layer == "op")
    excl = exclusive_times(spans)
    per_layer: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    for s in spans:
        if s is root:
            continue
        per_layer[s.layer] += excl.get(s.sid, 0.0)
        calls[s.layer] += 1
    other = excl.get(root.sid, 0.0)
    drift = abs(sum(per_layer.values()) + other - (root.end - root.start))
    if drift > 1e-6:
        raise RuntimeError(f"op {root.name}: self times miss wall by {drift:.3g} s")
    return root, dict(per_layer), dict(calls), other
