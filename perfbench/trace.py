"""In-memory span recorder for the traced run.

Spans are recorded by the benchmark's own code around each call into a
layer of the package: name, start, end, parent span and a trace id per
job.  Nothing is written until ``dump`` at the end of the run.  When
tracing is off, ``span`` is a no-op context manager, so the untraced
run pays nothing but a function call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    trace_id: str
    parent_id: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._trace_id = "setup"

    def new_trace(self, trace_id: str) -> None:
        """Spans opened from now on belong to the job ``trace_id``."""
        self._trace_id = trace_id

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), self._trace_id, parent, name,
                 time.monotonic())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s.duration for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval its direct children cover (children never overlap in
        this single-threaded recorder)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent_id is not None:
                child_time[s.parent_id] = (
                    child_time.get(s.parent_id, 0.0) + s.duration
                )
        out: dict[str, float] = {}
        for s in self.spans:
            own = s.duration - child_time.get(s.span_id, 0.0)
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "self_s": self.self_times(),
                },
                fh,
                indent=1,
                default=str,
            )
