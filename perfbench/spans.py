"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent, request): the benchmark opens one
around each call it makes into a layer's public function, so spans live
in the benchmark's files, not in the engine. A layer's self time is its
span's duration minus the part of that interval its child spans cover.
Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        #: spans are recorded only while ``enabled``; the traced run
        #: toggles it per timed operation to measure its own overhead
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._request: int | None = None
        # perf_counter epoch, so wall-clock stamps read from the engine's
        # own metrics files can be placed on the same axis
        self._epoch_offset = time.time() - time.perf_counter()

    @contextmanager
    def request(self, request_id: int):
        """Mark every span opened inside as part of one request."""
        prev, self._request = self._request, request_id
        try:
            yield
        finally:
            self._request = prev

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = self._open(name, time.perf_counter(), attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add_child(self, parent: dict, name: str, start_epoch: float,
                  end_epoch: float, **attrs) -> None:
        """Record a finished child span whose times are wall-clock epoch
        seconds (stage walls the engine logs in ``metrics.jsonl``)."""
        rec = self._open(name, start_epoch - self._epoch_offset, attrs,
                         parent=parent["id"])
        rec["end"] = end_epoch - self._epoch_offset

    def _open(self, name, start, attrs, parent=None) -> dict:
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "request": self._request, "start": start, "end": None,
               **attrs}
        self.spans.append(rec)
        return rec

    def self_time(self, rec: dict) -> float:
        """Duration of ``rec`` minus the union of its children's intervals
        (clipped to the span)."""
        lo, hi = rec["start"], rec["end"]
        kids = sorted(
            (max(c["start"], lo), min(c["end"], hi))
            for c in self.spans
            if c["parent"] == rec["id"] and c["end"] is not None
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in kids:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (hi - lo) - covered

    def median_self(self, name: str) -> float:
        """Median self time (s) of the finished spans called ``name``;
        0.0 when the run never entered that layer."""
        vals = [self.self_time(s) for s in self.spans
                if s["name"] == name and s["end"] is not None]
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str, extra: dict) -> None:
        names = sorted({s["name"] for s in self.spans})
        summary = {n: {"count": sum(1 for s in self.spans if s["name"] == n),
                       "median_self_s": self.median_self(n)} for n in names}
        with open(path, "w") as f:
            json.dump({**extra, "layers": summary, "spans": self.spans}, f,
                      indent=1)
