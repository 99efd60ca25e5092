"""In-memory span recorder for the traced run.

Spans carry an id, the id of the span that caused them, a name, a
layer, epoch-second start and end, and the recording thread.  They are
kept in memory and written out once, when the run ends.  A span's self
time is its duration minus the part of it its children cover; summed
per layer it says where the time went.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

from ffiec_pq_spark.operators.process import StageClock
from probe import covered


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, **attrs) -> int:
        sid = next(self._ids)
        with self._lock:
            self.spans.append(
                {
                    "id": sid, "parent": parent, "name": name, "layer": layer,
                    "start": start, "end": end,
                    "thread": threading.get_ident(), **attrs,
                }
            )
        return sid

    @contextmanager
    def span(self, name: str, layer: str, parent: int | None = None, **attrs):
        sid = next(self._ids)
        rec = {
            "id": sid, "parent": parent, "name": name, "layer": layer,
            "start": time.time(), "end": None,
            "thread": threading.get_ident(), **attrs,
        }
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            own = dur - covered(children.get(s["id"], []), s["start"], s["end"])
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"summary": summary, "self_s": self.self_times(), "spans": self.spans},
                f,
            )


class SpanClock(StageClock):
    """``operators.process.StageClock`` that also records each stage as a
    ``process.<stage>`` span under the ingest span, on the thread that
    ran it."""

    def __init__(self, tracer: Tracer, parent: int | None) -> None:
        super().__init__()
        self.tracer, self.parent = tracer, parent

    @contextmanager
    def stage(self, name: str):
        t0 = time.time()
        try:
            with super().stage(name):
                yield
        finally:
            self.tracer.add(f"process.{name}", "process", t0, time.time(), self.parent)
