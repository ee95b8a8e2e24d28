"""Spans around the engine's layer boundaries, kept in memory.

A span records a name, start and end times, the span that caused it,
the query it belongs to and how many Spark jobs were submitted while it
was open. ``install_layer_spans`` wraps the public functions of each
layer -- ``sources.tables.table``, ``plans.caching``'s persist,
checkpoint and release, and ``pyspark.ml.Estimator.fit`` -- so every
call made while a query is built opens a child span. The wrappers are
installed from outside the package and removed again afterwards; the
engine's code is unchanged.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from collections.abc import Callable, Iterator
from dataclasses import asdict, dataclass, field

PKG = "movierecommender_sentimentanalysissytem_spark"

# layer span name -> (module, function name) of the wrapped public function
LAYER_FUNCTIONS: dict[str, tuple[str, str]] = {
    "sources.table": (f"{PKG}.sources.tables", "table"),
    "caching.persist": (f"{PKG}.plans.caching", "scoped_persist"),
    "caching.checkpoint": (f"{PKG}.plans.caching", "scoped_local_checkpoint"),
    "caching.release": (f"{PKG}.plans.caching", "release_scoped_caches"),
}


@dataclass
class Span:
    name: str
    query: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; ``jobs`` returns the number of Spark jobs
    submitted so far and is read at every span boundary."""

    def __init__(self, jobs: Callable[[], int] = lambda: 0) -> None:
        self._jobs = jobs
        self.spans: list[Span] = []
        self._open: list[int] = []
        self.query = -1

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        parent = self._open[-1] if self._open else None
        sp = Span(name, self.query, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        j0 = self._jobs()
        try:
            yield sp
        finally:
            sp.jobs = self._jobs() - j0
            sp.end = time.perf_counter()
            self._open.pop()

    @contextlib.contextmanager
    def query_span(self, key: str) -> Iterator[Span]:
        """Root span of one query; every span opened inside shares its id."""
        self.query += 1
        with self.span("query", key=key) as sp:
            yield sp

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Duration of span ``idx`` minus the part of its interval that
        its children cover (overlapping children are counted once)."""
        sp = self.spans[idx]
        ivs = sorted(
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in (self.spans[i] for i in self.children(idx))
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.seconds - covered

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name."""
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            out[sp.name] = out.get(sp.name, 0.0) + self.self_time(i)
        return out

    def outermost(self, name: str) -> list[Span]:
        """Spans called ``name`` that have no ancestor of the same name
        (a Pipeline's fit calls each stage's fit: count the time once)."""
        out = []
        for sp in self.spans:
            if sp.name != name:
                continue
            p = sp.parent
            while p is not None and self.spans[p].name != name:
                p = self.spans[p].parent
            if p is None:
                out.append(sp)
        return out

    def to_json(self) -> list[dict]:
        return [asdict(s) | {"seconds": s.seconds} for s in self.spans]


def _wrap(tracer: Tracer, name: str, fn: Callable) -> Callable:
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


@contextlib.contextmanager
def install_layer_spans(tracer: Tracer) -> Iterator[None]:
    """Wrap each layer's public function for the duration of the block.

    Modules that imported a function by name hold their own reference,
    so every loaded module of the package that refers to the original
    gets the wrapper too."""
    from pyspark.ml.base import Estimator

    patched: list[tuple[object, str, object]] = []
    for name, (modname, attr) in LAYER_FUNCTIONS.items():
        original = getattr(sys.modules[modname], attr)
        wrapper = _wrap(tracer, name, original)
        for mname, mod in list(sys.modules.items()):
            if mname.startswith(PKG) and getattr(mod, attr, None) is original:
                patched.append((mod, attr, original))
                setattr(mod, attr, wrapper)
    fit = Estimator.fit
    patched.append((Estimator, "fit", fit))
    Estimator.fit = _wrap(tracer, "ml.fit", fit)
    try:
        yield
    finally:
        for owner, attr, original in reversed(patched):
            setattr(owner, attr, original)
