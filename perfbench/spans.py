"""Spans around calls into the engine's public functions.

The benchmark records spans from its own code, by wrapping each
layer's public entry points from outside; no engine file changes. A
span has a name (``<layer>.<function>``), a start and end on the
``perf_counter`` clock, the span that caused it, and the op it belongs
to. While a span is open, Spark jobs run under the job group
``<op>:<span>`` (``<op>:build`` and ``<op>:run`` for a query's builder
and action), which is how the event log's job, task and Python-lane
counters are folded back onto layers.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: Job group of a query builder and of its action.
BUILD = "build"
RUN = "run"


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Records spans when ``record`` is set; either way it tags Spark
    jobs with the group of the innermost open span that names one."""

    def __init__(self, sc=None, record: bool = True):
        self.sc = sc
        self.record = record
        self.op = ""
        self.spans: list[Span] = []
        self.counts: Counter[str] = Counter()
        self._stack: list[Span] = []

    def _set_group(self, group: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time ``name``; Spark jobs inside run under ``<op>:<group>``
        (``group`` defaults to ``name`` when recording)."""
        group = group or (name if self.record else None)
        outer = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.op,
                 outer.id if outer else None, time.perf_counter(),
                 group=group or (outer.group if outer else "op"))
        if self.record:
            self.spans.append(s)
        self._stack.append(s)
        if group:
            self._set_group(f"{self.op}:{group}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if group:
                outer_group = self._stack[-1].group if self._stack else "op"
                self._set_group(f"{self.op}:{outer_group}")

    def start_op(self, op: str) -> None:
        self.op = op
        self._set_group(f"{op}:op")

    def dump(self) -> list[dict]:
        return [asdict(s) | {"layer": s.layer} for s in self.spans]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds each layer spent in its own code: a span's duration
    less the part its child spans cover, summed per layer. The driver
    is single-threaded, so children of one span never overlap."""
    child_s: Counter[int] = Counter()
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] += s.end - s.start
    out: Counter[str] = Counter()
    for s in spans:
        out[s.layer] += max(0.0, (s.end - s.start) - child_s[s.id])
    return dict(out)


def layer_seconds(spans: list[Span], name: str) -> float:
    """Total duration of the spans called ``name``."""
    return sum(s.end - s.start for s in spans if s.name == name)


def patch_everywhere(original, replacement, prefixes: tuple[str, ...]) -> None:
    """Point every module attribute that holds ``original`` (in loaded
    modules whose name starts with one of ``prefixes``) at
    ``replacement``, so names bound by ``from x import f`` see it too."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(prefixes):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)


def wrap(tracer: Tracer, fn, name: str, after=None):
    """``fn`` inside a span called ``name``; ``after(result, args,
    kwargs)`` runs once the span has closed, so what it measures is not
    charged to the layer."""

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            result = fn(*args, **kwargs)
        if after is not None:
            after(result, args, kwargs)
        return result

    return traced
