"""In-memory spans recorded by the benchmark around calls into the engine.

A span has a name, a start, an end, the index of the span that caused it
and a request id shared by every span of one request. Spans live in a list
until the run ends and are written out once. Wrappers that time a public
engine function are installed on that function's module or on one object,
only while a traced pass runs, and are removed afterwards.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    rid: int


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = []
    for i, s in enumerate(spans):
        covered = union_length([(max(c.start, s.start), min(c.end, s.end))
                                for c in kids.get(i, ())])
        out.append((s.end - s.start) - covered)
    return out


def by_name(spans: list[Span]) -> dict[str, dict]:
    """{name: {"count", "total_s", "self_s"}} over closed spans."""
    selfs = self_times(spans)
    agg: dict[str, dict] = {}
    for s, own in zip(spans, selfs):
        a = agg.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        a["count"] += 1
        a["total_s"] += s.end - s.start
        a["self_s"] += own
    return agg


class Tracer:
    """Single-threaded span recorder (the benchmark drives the engine from
    one driver thread; Spark task-side work is accounted separately)."""

    def __init__(self, clock=time.perf_counter) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_rid = 0
        self._patches: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            rid = self._next_rid
            self._next_rid += 1
        else:
            rid = self.spans[parent].rid
        self.spans.append(Span(name, self.clock(), None, parent, rid))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, idx: int) -> None:
        if not self._stack or self._stack[-1] != idx:
            raise RuntimeError(f"span {idx} closed out of order")
        self._stack.pop()
        self.spans[idx].end = self.clock()

    @contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield idx
        finally:
            self.end(idx)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as a span called ``name``."""
        original = getattr(owner, attr)

        def timed(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self.patch(owner, attr, timed)

    def patch(self, owner: object, attr: str, replacement) -> None:
        """Set ``owner.attr`` until unwrap_all() puts the original back."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            if getattr(original, "__self__", None) is owner:
                # a bound method shadowed by an instance attribute: drop it
                vars(owner).pop(attr, None)
            else:
                setattr(owner, attr, original)

    def absorb(self, other: "Tracer") -> None:
        """Append another tracer's spans, renumbered, after this one's."""
        off, rid0 = len(self.spans), self._next_rid
        for s in other.spans:
            self.spans.append(Span(s.name, s.start, s.end,
                                   None if s.parent is None else s.parent + off,
                                   s.rid + rid0))
        self._next_rid += other._next_rid

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
