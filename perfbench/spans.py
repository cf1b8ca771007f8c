"""In-memory span recording for the traced run.

A span is (name, start, end, parent, op, Spark job-id window). Spans are
kept in a list and written out when the benchmark ends. ``Tracer.patch``
wraps engine functions from the outside, so the engine is measured
without being edited; ``Tracer.unpatch`` restores every original.
"""

from __future__ import annotations

import inspect
import operator
import threading
import time
import types
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, replace


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    jobs_start: int = 0
    jobs_end: int = 0


class Tracer:
    """Records spans. ``job_counter`` returns Spark's next job id, so each
    span knows which jobs started inside it."""

    def __init__(self, job_counter: Callable[[], int] | None = None):
        self.spans: list[Span] = []
        self.enabled = True
        self.op: str | None = None
        self._job_counter = job_counter or (lambda: 0)
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []

    def _parent(self) -> int | None:
        stack = self._stacks.get(threading.get_ident())
        if stack:
            return stack[-1]
        # a worker thread the engine started (the pipeline writes its two
        # marts from a thread pool) belongs to whatever the main thread is
        # inside of
        main = self._stacks.get(self._main)
        return main[-1] if main else None

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        if not self.enabled:
            yield Span(name, 0.0, 0.0, None, None)
            return
        sp = Span(name, time.perf_counter(), 0.0, self._parent(), self.op, self._job_counter())
        idx = len(self.spans)
        self.spans.append(sp)
        stack = self._stacks.setdefault(threading.get_ident(), [])
        stack.append(idx)
        try:
            yield sp
        finally:
            stack.pop()
            sp.jobs_end = self._job_counter()
            sp.end = time.perf_counter()

    def wrap(self, fn: Callable, name: str) -> Callable:
        return _Traced(self, fn, name)

    def patch_attr(self, owner: object, attr: str, name: str) -> None:
        original = getattr(owner, attr) if not isinstance(owner, type) else owner.__dict__[attr]
        setattr(owner, attr, self.wrap(original, name))
        self._patched.append((owner, attr, original))

    def patch_function(self, fn: Callable, name: str, modules: list[types.ModuleType]) -> None:
        """Replace every module-level binding of ``fn`` in ``modules``."""
        for mod in modules:
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self.patch_attr(mod, attr, name)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class _Traced:
    """Callable stand-in for a traced function or method.

    Pickles as the original (``__reduce__``): Spark ships some engine
    functions to Python workers, which must never receive the tracer."""

    def __init__(self, tracer: Tracer, fn: Callable, name: str):
        self._tracer, self.__wrapped__, self._name = tracer, fn, name
        for attr in ("__name__", "__qualname__", "__doc__", "__module__", "__annotations__"):
            if hasattr(fn, attr):
                setattr(self, attr, getattr(fn, attr))

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name):
            return self.__wrapped__(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return operator.itemgetter(0), ((self.__wrapped__,),)


def public_functions(module: types.ModuleType) -> list[tuple[str, Callable]]:
    """Functions defined (not imported) in ``module`` whose names are public."""
    return [
        (name, fn)
        for name, fn in vars(module).items()
        if inspect.isfunction(fn) and not name.startswith("_") and fn.__module__ == module.__name__
    ]


def since(spans: list[Span], first: int) -> list[Span]:
    """The spans from index ``first`` on, with parent indices rebased to the
    returned list (a parent recorded before ``first`` becomes None)."""
    return [
        replace(sp, parent=sp.parent - first if sp.parent is not None and sp.parent >= first else None)
        for sp in spans[first:]
    ]


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = []
    for i, sp in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, sp.start), min(c.end, sp.end)) for c in children.get(i, ())
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(sp.end - sp.start - covered)
    return out


def self_jobs(spans: list[Span]) -> list[int]:
    """Spark jobs started inside each span and not inside one of its children."""
    child_jobs = [0] * len(spans)
    for sp in spans:
        if sp.parent is not None:
            child_jobs[sp.parent] += sp.jobs_end - sp.jobs_start
    return [max(sp.jobs_end - sp.jobs_start - child_jobs[i], 0) for i, sp in enumerate(spans)]
