"""In-memory spans for the traced run.

A span records a name, start, end and the span that was open when it
began.  Spans stay in memory and are written out once, when the run
ends.  The untraced run uses :class:`NoSpans`, whose ``span`` does
nothing, so both runs execute the same code.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections.abc import Iterator


class Spans:
    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []
        # Spans measured elsewhere may be added from another thread.
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        with self._lock:
            rec = {
                "id": len(self.records),
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.time(),
                "end": None,
                **attrs,
            }
            self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (a trigger, from the
        engine's progress report)."""
        with self._lock:
            self.records.append(
                {"id": len(self.records), "name": name, "parent": parent, "start": start, "end": end, **attrs}
            )

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of time not covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for r in self.records:
            if r["parent"] is not None:
                children.setdefault(r["parent"], []).append((r["start"], r["end"]))
        out: dict[str, float] = {}
        for r in self.records:
            covered = _union_length(children.get(r["id"], []), r["start"], r["end"])
            out[r["name"]] = out.get(r["name"], 0.0) + (r["end"] - r["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.records, "self_s": self.self_times()}, fh, indent=1)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


class NoSpans(Spans):
    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        yield {}

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        pass
