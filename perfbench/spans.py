"""In-memory spans recorded around calls into the engine's modules.

The benchmark installs wrappers on the public entry points it drives
(``Tracer.wrap``) and opens its own spans around each operation, so
the package itself carries no tracing code.  Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from stats import self_time


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        #: wrappers record spans only while enabled; otherwise they call
        #: straight through
        self.enabled = False
        self._stack: list[int] = []
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid, self._next = self._next, self._next + 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, name, start, end, parent, self.op))

    def wrap(self, owner, attr: str, name: str, on_error=None) -> None:
        """Replace ``owner.attr`` with a spanned call of the original.
        ``on_error(exc)`` sees every exception the call raises (the
        exception still propagates)."""
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def spanned(*a, **kw):
            if not tracer.enabled:
                return orig(*a, **kw)
            with tracer.span(name):
                try:
                    return orig(*a, **kw)
                except Exception as e:
                    if on_error is not None:
                        on_error(e)
                    raise

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += self_time(s.start, s.end, children[s.id])
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
