"""In-memory spans recorded by the benchmark around its calls into layers."""

from __future__ import annotations

import time
from contextlib import contextmanager


class Spans:
    def __init__(self) -> None:
        self.records: list[tuple[str, float, float, str | None]] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.records.append((name, t0, time.perf_counter(), parent))
            self._stack.pop()

    def last(self, name: str) -> float:
        """Duration of the latest finished span called `name`."""
        for n, t0, t1, _ in reversed(self.records):
            if n == name:
                return t1 - t0
        raise KeyError(name)

    def children_s(self, parent: str) -> float:
        """Summed duration of the finished spans opened directly inside a
        span called `parent`."""
        return sum(t1 - t0 for _, t0, t1, p in self.records if p == parent)
