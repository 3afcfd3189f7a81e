"""In-memory spans recorded around calls into the program's layers.

The traced run wraps public callables at the module attribute their caller
resolves (``Tracer.patch``) and records one span per call: name, start,
end, parent span and op id. Before each wrapped call the span's own Spark
job group is set, so jobs started while a DataFrame is being built are
attributed to the layer that built it. Spans stay in memory and are
written out when the run ends.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Any, Callable


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    group: str


class Tracer:
    """Records spans while ``enabled``; a disabled tracer adds one attribute
    read per wrapped call and sets no job group."""

    def __init__(self, sc: Any = None) -> None:
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []

    def _set_group(self, group: str | None, desc: str = "") -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, desc)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(name, time.time(), 0.0, parent, self.op, f"perfbench-{idx}")
        self.spans.append(span)
        self._stack.append(idx)
        self._set_group(span.group, name)
        try:
            yield span
        finally:
            span.end = time.time()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self._set_group(outer.group, outer.name)
            else:
                self._set_group(None)

    def wrap(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner: Any, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper until ``unpatch``."""
        original = owner.__dict__.get(attr) if isinstance(owner, type) else None
        if isinstance(original, staticmethod):
            replacement: Any = staticmethod(self.wrap(original.__func__, name))
        else:
            original = getattr(owner, attr)
            replacement = self.wrap(original, name)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, replacement)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]
