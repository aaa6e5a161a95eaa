"""Spans recorded from outside the program: a catalog wrapper handed to
``CrawlEngine`` and the interval arithmetic that splits a round's wall
time into catalog time and driver time."""

from __future__ import annotations

import os
import time


class TracingCatalog:
    """Delegates to the wrapped catalog and records one span
    ``(method, table, start, end)`` per call of each method a crawl
    uses (others pass through untimed). A write's span includes the
    lazy plan it forces. The engine calls the catalog
    from several driver threads at once; ``list.append`` is atomic, so
    spans need no lock."""

    def __init__(self, inner):
        self._inner = inner
        self.spans: list[tuple[str, str, float, float]] = []

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def _timed(self, method: str, table: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.spans.append((method, table, t0, time.perf_counter()))

    def read(self, name):
        return self._timed("read", name, self._inner.read, name)

    def overwrite(self, name, df):
        return self._timed("overwrite", name, self._inner.overwrite, name, df)

    def register_empty(self, name, df):
        return self._timed("register_empty", name, self._inner.register_empty, name, df)

    def append(self, name, df, max_records_per_file=0):
        return self._timed("append", name, self._inner.append, name, df, max_records_per_file)

    def append_delta(self, name, df, max_records_per_file=0):
        return self._timed(
            "append_delta", name, self._inner.append_delta, name, df, max_records_per_file
        )

    def compact(self, name):
        return self._timed("compact", name, self._inner.compact, name)

    def commit_round(self, round_no, state):
        return self._timed("commit_round", "", self._inner.commit_round, round_no, state)


def covered_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class BytesWritten:
    """Counts bytes of every file that appears under a catalog root, each
    file once. Called between rounds: a round's new snapshot dirs are
    still live then (the memory catalog deletes replaced dirs only at
    the next commit)."""

    def __init__(self, root: str):
        self.root = root
        self.sizes: dict[str, int] = {}

    def scan(self) -> None:
        for dirpath, _dirs, files in os.walk(self.root):
            for f in files:
                p = os.path.join(dirpath, f)
                if p not in self.sizes:
                    try:
                        self.sizes[p] = os.path.getsize(p)
                    except FileNotFoundError:
                        pass

    @property
    def total(self) -> int:
        return sum(self.sizes.values())
