"""In-memory spans and counts for the traced run.

A span records name, start, end, parent span and the id of the
operation (one query run or one ETL call) it belongs to. Spans are kept
in memory and written out once, when the run ends. With tracing off
every method is a no-op, so the untraced run measures the program
alone.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op: str | None = None
        self._stack: list[int] = []
        self.overhead_s = 0.0

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @property
    def current(self) -> str | None:
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[name] += value

    @contextmanager
    def probe(self):
        """Time spent reading counters from outside the program: the
        work a traced run does that an untraced run does not."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for rec in self.spans:
            if rec["parent"] is not None:
                children[rec["parent"]].append((rec["start"], rec["end"]))
        out: dict[str, float] = defaultdict(float)
        for i, rec in enumerate(self.spans):
            dur = rec["end"] - rec["start"]
            out[rec["name"]] += dur - covered(rec["start"], rec["end"], children[i])
        return dict(out)

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.spans if r["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)
