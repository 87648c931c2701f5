"""In-memory spans around the benchmark's calls into rlv, plus the
process-tree memory reading.

A span records its name, start, end and parent.  Spans are kept in a list
and written out once, when the run ends; self time is a span's duration
minus the part of it its child spans cover.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans when ``enabled``; when disabled, ``span`` costs one
    attribute test and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds.  Children of one
        parent run one after another (one client thread), so the covered
        part of a parent is the sum of its children's durations."""
        child_sum = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_sum[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_sum[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def overhead_pct(self, n: int = 20_000) -> float:
        """What recording spans added to the traced calls, in percent of
        their wall: the spans recorded, times the cost of one enabled span
        over a disabled one (timed on ``n`` empty spans), over the summed
        duration of the top-level spans."""
        def empty_spans(t: Tracer) -> float:
            t0 = time.perf_counter()
            for _ in range(n):
                with t.span("x"):
                    pass
            return time.perf_counter() - t0
        per_span = (empty_spans(Tracer(True)) - empty_spans(Tracer(False))) / n
        wall = sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] is None)
        return 100.0 * len(self.spans) * per_span / wall

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _children(pid: int) -> list[int]:
    """Child processes of every thread of ``pid`` (the JVM starts Spark's
    Python daemon from a thread other than its main one)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def descendants(root: int) -> list[int]:
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of ``root`` and every live
    descendant: the driver, the JVM it launched and Spark's Python
    workers."""
    root = os.getpid() if root is None else root
    total_kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
