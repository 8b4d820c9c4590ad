"""In-memory span tracer that wraps the program's public functions from
outside: it replaces module attributes (and every other binding of the
same function object in ``mrf_etl_spark`` modules, since callers import
functions by name) and class methods with timing wrappers. Nothing in
``mrf_etl_spark`` is edited; ``restore`` puts the originals back.

A span is (id, parent id, name, start, end, attrs), parents taken from a
per-thread stack so a request's spans nest under its handler span. Spans
stay in memory and are summarized when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        sp = Span(next(self._ids), st[-1] if st else None, name, time.perf_counter(), attrs=attrs)
        st.append(sp.id)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            st.pop()
            self.spans.append(sp)

    # -- patching --------------------------------------------------------
    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def _wrapper(self, fn, name: str, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            if after is not None:
                sp.attrs.update(after(args, kwargs, out))
            return out

        traced.__wrapped_by_tracer__ = True
        return traced

    def wrap_function(self, module, attr: str, label: str, after=None) -> None:
        """Wrap ``module.attr`` and every ``mrf_etl_spark`` module binding
        of the same object; the span is named ``<label>.<binding name>``."""
        orig = getattr(module, attr)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith("mrf_etl_spark"):
                continue
            for name, val in list(vars(mod).items()):
                if val is orig:
                    self._set(mod, name, self._wrapper(orig, f"{label}.{name}", after))

    def wrap_public_functions(self, module, label: str) -> None:
        for name, val in list(vars(module).items()):
            if (
                not name.startswith("_")
                and inspect.isfunction(val)
                and val.__module__ == module.__name__
                and not getattr(val, "__wrapped_by_tracer__", False)
            ):
                self.wrap_function(module, name, label)

    def wrap_methods(self, cls, names, label: str) -> None:
        for name in names:
            raw = cls.__dict__[name]
            if isinstance(raw, (staticmethod, classmethod)):
                continue
            self._set(cls, name, self._wrapper(raw, f"{label}.{name}"))

    def wrap_lock(self, module, attr: str, label: str) -> None:
        """Context-manager factories (``table_lock``): the span covers
        the wait to acquire, not the time held."""
        orig = getattr(module, attr)

        @contextlib.contextmanager
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            with orig(*args, **kwargs):
                st = self._stack()
                sp = Span(next(self._ids), st[-1] if st else None, label, t0, time.perf_counter())
                self.spans.append(sp)
                yield

        traced.__wrapped_by_tracer__ = True
        self._set(module, attr, traced)

    def restore(self) -> None:
        for owner, attr, val in reversed(self._undo):
            setattr(owner, attr, val)
        self._undo.clear()

    # -- summaries -------------------------------------------------------
    def named(self, name: str, since: float = 0.0) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.t0 >= since]

    def total(self, name: str, since: float = 0.0) -> float:
        return sum(s.dur for s in self.named(name, since))

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def within(self, sp: Span) -> list[Span]:
        """All spans nested under ``sp`` at any depth."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out, todo = [], [sp.id]
        while todo:
            for c in kids.get(todo.pop(), []):
                out.append(c)
                todo.append(c.id)
        return out
