"""In-memory spans around the benchmark's calls into each layer.

A span has a name (``<layer>.<call>``), start and end (``perf_counter``
seconds), the id of the span open when it started, and the run id. Spans
stay in memory until :meth:`Tracer.write`. With tracing disabled,
:meth:`Tracer.span` costs one attribute test and records nothing.

Spark job counts come from outside the program: the highest job id the
``statusTracker`` has seen, read when a span opens and when it closes.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Callable


class Tracer:
    def __init__(
        self,
        enabled: bool,
        run_id: str,
        job_watermark: Callable[[], int] | None = None,
    ):
        self.enabled = enabled
        self.run_id = run_id
        self.job_watermark = job_watermark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: seconds spent in the tracer's own bookkeeping
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "jobs": 0,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        j0 = self.job_watermark() if self.job_watermark else 0
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield
        finally:
            end = time.perf_counter()
            rec["end"] = end
            if self.job_watermark:
                rec["jobs"] = self.job_watermark() - j0
            self._stack.pop()
            self.overhead_s += time.perf_counter() - end

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


def _cover(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover
    (children clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s["parent"]
        if p is not None and p in by_id:
            ps = by_id[p]
            lo, hi = max(s["start"], ps["start"]), min(s["end"], ps["end"])
            if hi > lo:
                children[p].append((lo, hi))
    return {
        s["id"]: (s["end"] - s["start"]) - _cover(children[s["id"]])
        for s in spans
    }


def by_name(spans: list[dict]) -> dict[str, dict]:
    """Name -> {"count", "total_s", "self_s", "jobs", "durations"}."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        agg = out.setdefault(
            s["name"],
            {"count": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0, "durations": []},
        )
        d = s["end"] - s["start"]
        agg["count"] += 1
        agg["total_s"] += d
        agg["self_s"] += selfs[s["id"]]
        agg["jobs"] += s["jobs"]
        agg["durations"].append(d)
    return out
