"""In-memory span recorder.

A span is (name, start, end, parent span, run id).  Spans are kept in a
list while the run executes and written out once at the end (`dump`).
Times come from `time.monotonic()`, which is one system-wide clock on
Linux, so spans recorded in the server process and in the load generator
can be nested by time.  When the recorder is disabled `span` does no work
beyond the context-manager call, which is the untraced baseline.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict


class Recorder:
    def __init__(self, run_id: str, enabled: bool = True, id_base: int = 0):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(id_base + 1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def current(self) -> int | None:
        return getattr(self._local, "parent", None)

    def set_current(self, span_id: int | None) -> None:
        self._local.parent = span_id

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, attrs: dict | None = None):
        """Record the block as a span; yields its id (None when disabled).
        `attrs` is stored by reference, so the block may add to it."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = next(self._ids)
        outer = self.current()
        self.set_current(sid)
        start = time.monotonic()
        try:
            yield sid
        finally:
            end = time.monotonic()
            self.set_current(outer)
            rec = {
                "id": sid,
                "name": name,
                "start": start,
                "end": end,
                "parent": parent if parent is not None else outer,
                "run": self.run_id,
            }
            if attrs:
                rec["attrs"] = attrs
            with self._lock:
                self.spans.append(rec)

    def extend(self, spans: list[dict]) -> None:
        with self._lock:
            self.spans.extend(spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part
    of its interval that its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = s["end"] - s["start"]
        out[s["name"]] += dur - _covered(children.get(s["id"], []), s["start"], s["end"])
    return dict(out)
