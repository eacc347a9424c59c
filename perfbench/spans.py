"""Spans at the benchmark's call boundaries, and attribution of Spark's
jobs and stages to them by time window.

A span is a dict with ``id``, ``name``, ``parent``, epoch ``start``/``end``,
``seconds`` (from ``perf_counter``) and the change of every registered
counter over the span.  Spans stay in memory; the run writes them out at
the end.

Spark work is attributed by the time it was submitted, not by job group:
an operation may set its own group on pool threads (the release dashboard
does), and those jobs still belong to the call that started them.
"""

from __future__ import annotations

import bisect
import math
import time
from collections.abc import Callable
from contextlib import contextmanager


class Trace:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, Callable[[], float]] = {}
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            **attrs,
        }
        self.spans.append(s)
        before = {k: f() for k, f in self.counters.items()}
        self._stack.append(s)
        s["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s["seconds"] = time.perf_counter() - t0
            s["end"] = time.time()
            self._stack.pop()
            for k, f in self.counters.items():
                s[k] = f() - before[k]

    def leaves(self) -> list[dict]:
        parents = {s["parent"] for s in self.spans}
        return [s for s in self.spans if s["id"] not in parents]


def window_ms(span: dict) -> tuple[int, int]:
    """A span's window in Spark's epoch-millisecond clock, widened to whole ms."""
    return math.floor(span["start"] * 1000), math.ceil(span["end"] * 1000)


def attribute(leaves: list[dict], events: list[dict]) -> dict[int, list[dict]]:
    """Leaf span id -> the events (jobs or stages) submitted inside it.

    Leaves never overlap (one client thread), so each event falls in at
    most one; an event between leaves is attributed to none."""
    leaves = sorted(leaves, key=lambda s: s["start"])
    starts = [window_ms(s)[0] for s in leaves]
    out: dict[int, list[dict]] = {}
    for e in events:
        t = e.get("submissionTime")
        if t is None:  # skipped stage: it never ran
            continue
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and t <= window_ms(leaves[i])[1]:
            out.setdefault(leaves[i]["id"], []).append(e)
    return out
