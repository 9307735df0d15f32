"""Span recording around calls into the engine's layers.

The tracer wraps public functions and methods from outside the
package: ``install`` replaces module or class attributes with timing
wrappers and ``uninstall`` puts the originals back and checks that
they are back. Spans stay in memory; the caller writes them out when
the run ends. Every span can carry its own Spark job group, so the
jobs a call submits are attributed to the innermost span around them.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from perfbench.stats import union_length


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    group: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start

    def record(self) -> dict:
        return asdict(self)


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    covered = union_length(
        [(max(c.start, span.start), min(c.end, span.end)) for c in children]
    )
    return span.duration - covered


class Tracer:
    """Records spans; ``set_group(group_or_None)`` (optional) sets the
    job group of the calling thread. Each span gets its own group and
    hands the group back to its parent's when it ends."""

    def __init__(self, set_group: Callable[[str | None], None] | None = None):
        self.spans: list[Span] = []
        self.op: int | None = None
        #: seconds spent in the tracer's own bookkeeping
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._installed: list[tuple[object, str, object]] = []
        self._set_group = set_group

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        t0 = time.perf_counter()
        s = Span(
            id=len(self.spans), name=name, start=t0, end=t0,
            parent=self._stack[-1].id if self._stack else None, op=self.op,
        )
        parent_group = self._stack[-1].group if self._stack else None
        self.spans.append(s)
        self._stack.append(s)
        if self._set_group is not None:
            s.group = f"perfbench-span-{s.id}"
            self._set_group(s.group)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = t1
            self._stack.pop()
            if self._set_group is not None:
                self._set_group(parent_group)
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, targets: list[tuple[object, str, str]]) -> None:
        """Wrap each ``(owner, attribute, span name)``; ``owner`` is a
        module or a class."""
        for owner, attr, name in targets:
            original = vars(owner)[attr]
            if isinstance(original, staticmethod):
                wrapped = staticmethod(self.wrap(name, original.__func__))
            else:
                wrapped = self.wrap(name, original)
            setattr(owner, attr, wrapped)
            self._installed.append((owner, attr, original))

    def uninstall(self) -> None:
        """Restore every wrapped attribute; raise if one is not its
        original object afterwards."""
        installed, self._installed = self._installed, []
        for owner, attr, original in reversed(installed):
            setattr(owner, attr, original)
        first = {}
        for owner, attr, original in installed:
            first.setdefault((id(owner), attr), (owner, attr, original))
        stale = [
            f"{getattr(owner, '__name__', owner)}.{attr}"
            for owner, attr, original in first.values()
            if vars(owner)[attr] is not original
        ]
        if stale:
            raise RuntimeError(f"wrappers not removed: {stale}")

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out
