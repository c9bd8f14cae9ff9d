"""In-memory spans for the traced run.

A span is (id, parent, name, layer, start, end, attrs).  Spans are opened
around calls into each layer from the benchmark's own files and written out
once, when the run ends.  A layer's self time is the time its spans cover
minus the part their child spans cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "layer": layer, "start": time.perf_counter(),
               "end": None, "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def record(self, name: str, layer: str, start: float, end: float,
               parent: int | None = None, **attrs) -> None:
        """Add a finished span measured elsewhere (a pipeline stage timed by
        its wrapper, a stream batch reported by the listener)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "parent": parent,
                               "name": name, "layer": layer, "start": start,
                               "end": end, "attrs": dict(attrs)})

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per layer: span count, total time and self time (seconds)."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        table: dict[str, dict[str, float]] = defaultdict(
            lambda: {"spans": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = _union([(c["start"], c["end"]) for c in children[s["id"]]],
                             s["start"], s["end"])
            row = table[s["layer"]]
            row["spans"] += 1
            row["total_s"] += dur
            row["self_s"] += max(0.0, dur - covered)
        return dict(table)

    def write(self, path: str, meta: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                 for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": spans}, fh)


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
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


def format_table(rows: dict[str, dict[str, float]]) -> str:
    lines = [f"{'layer':<12} {'spans':>6} {'total_s':>9} {'self_s':>9}"]
    for layer, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"{layer:<12} {int(r['spans']):>6} {r['total_s']:>9.3f} "
                     f"{r['self_s']:>9.3f}")
    return "\n".join(lines)
