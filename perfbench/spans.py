"""Span tracer installed from the benchmark's own files.

``Tracer.install`` replaces a function at the attribute its caller
resolves (a module global imported by name, or a class attribute) with a
wrapper that records a span when tracing is on and passes straight
through when it is off. ``uninstall`` restores the originals.

A span is ``(name, start, end, parent, op)``; spans live in memory and
``dump`` writes them as JSON with each span's self time (its duration
minus the time covered by its child spans).
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._installed: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self.op))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        s = self.spans[idx]
        s.end = time.perf_counter()
        self._stack.pop()
        if s.parent is not None:
            self.spans[s.parent].child_s += s.dur

    # -- wrappers --------------------------------------------------------

    def install(self, target: str, name: str) -> None:
        """Wrap ``module.path:attr`` or ``module.path:Class.attr``."""
        mod_name, attr_path = target.split(":")
        owner = importlib.import_module(mod_name)
        *owners, attr = attr_path.split(".")
        for o in owners:
            owner = getattr(owner, o)
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        setattr(owner, attr, wrapper)
        self._installed.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._installed):
            setattr(owner, attr, fn)
        self._installed.clear()

    # -- summaries -------------------------------------------------------

    def per_op(self, ops: list[int]) -> dict[str, dict[str, float]]:
        """Per span name: total duration, self time and calls per op,
        averaged over ``ops`` (ops without a call contribute zeros)."""
        acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        wanted = set(ops)
        for s in self.spans:
            if s.op in wanted:
                a = acc[s.name]
                a["dur_s"] += s.dur
                a["self_s"] += s.self_s
                a["calls"] += 1
        n = max(1, len(ops))
        return {name: {k: v / n for k, v in a.items()} for name, a in acc.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        "op": s.op,
                        "self_s": s.self_s,
                    }
                    for s in self.spans
                ],
                f,
            )
