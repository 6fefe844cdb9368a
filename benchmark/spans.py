"""In-memory spans, self times and the small statistics the report uses.

A span is (name, layer, start, end, parent). Spans are appended to a
list while the run executes and only summarised at the end, so tracing
costs two clock reads and one append per span. ``self time`` of a span
is its duration minus the durations of its direct children; a layer's
self time is the sum over its spans.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager, nullcontext

UNTRACED = "untraced"


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default), 0 for no data."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """Span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def _span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(
            {"name": name, "layer": layer, "start": 0.0, "end": 0.0, "parent": parent}
        )
        self._stack.append(idx)
        self.spans[idx]["start"] = time.perf_counter()
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx]["end"] = time.perf_counter()
            self._stack.pop()

    def span(self, name: str, layer: str):
        return self._span(name, layer) if self.enabled else nullcontext()

    @contextmanager
    def untraced(self):
        """Run a block as if tracing were off, to compare it with traced
        blocks of the same work. It is one span of layer ``UNTRACED``,
        which the report leaves out, with nothing recorded inside."""
        if not self.enabled:
            yield
            return
        with self._span("untraced", UNTRACED):
            self.enabled = False
            try:
                yield
            finally:
                self.enabled = True


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus its children's."""
    child_sum = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child_sum[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        own = (s["end"] - s["start"]) - child_sum[i]
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out
