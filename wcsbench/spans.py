"""Spans around calls into the engine, kept in memory.

Each span runs its Spark jobs under ``setJobGroup(<span name>)`` so the
event-log fold (eventlog.py) can attribute them. Span names are unique
within a run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        if any(s[0] == name for s in self.spans):
            raise ValueError(f"duplicate span name {name!r}")
        self.sc.setJobGroup(name, name)
        start = time.time() * 1000.0
        try:
            yield
        finally:
            end = time.time() * 1000.0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append((name, start, end))

    def wall_s(self, name: str) -> float:
        for span, start, end in self.spans:
            if span == name:
                return (end - start) / 1000.0
        raise KeyError(name)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)
