"""In-memory spans around calls into the engine's layers.

The traced run wraps public functions of the program's modules from the
outside (the program itself is unchanged): each call records one span
``(name, start, end, parent)``.  Spans stay in a list until the run ends.
Only calls made on the driver are seen; work inside Spark tasks is
measured through the event log instead (:mod:`eventlog`).
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span on the same thread


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.monotonic(), 0.0, parent))
        stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            stack.pop()
            self.spans[idx].end = time.monotonic()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def total(self, name: str, lo: float, hi: float, where=None) -> float:
        """Summed duration of the ``name`` spans that start in [lo, hi]."""
        return sum(
            s.end - s.start
            for s in self.spans
            if s.name == name and lo <= s.start <= hi and (where is None or where(s))
        )

    def parent_name(self, s: Span) -> str | None:
        return None if s.parent is None else self.spans[s.parent].name


@contextmanager
def instrument(tracer: Tracer):
    """Patch the layer entry points for the duration of the block."""
    from inform_spark.operators import bloom
    from inform_spark.plans import checkpoint, crawl
    from inform_spark.sources import httpfetch

    patches = [
        (crawl.CrawlEngine, "run", tracer.wrap("CrawlEngine.run", crawl.CrawlEngine.run)),
        (httpfetch, "http_fetch_stage",
         tracer.wrap("http_fetch_stage", httpfetch.http_fetch_stage)),
        (bloom.ShardedBloom, "build", staticmethod(
            tracer.wrap("ShardedBloom.build", bloom.ShardedBloom.build))),
        (bloom, "bloom_partition",
         tracer.wrap("bloom_partition", bloom.bloom_partition)),
        (checkpoint.SnapshotTable, "append", tracer.wrap(
            "SnapshotTable.append", checkpoint.SnapshotTable.append)),
        (checkpoint.SnapshotTable, "append_rows", tracer.wrap(
            "SnapshotTable.append_rows", checkpoint.SnapshotTable.append_rows)),
        (checkpoint, "_atomic_write_json",
         tracer.wrap("manifest_write", checkpoint._atomic_write_json)),
        (checkpoint.CrawlCheckpoint, "commit",
         tracer.wrap("CrawlCheckpoint.commit", checkpoint.CrawlCheckpoint.commit)),
        (checkpoint.CrawlCheckpoint, "restore",
         tracer.wrap("CrawlCheckpoint.restore", checkpoint.CrawlCheckpoint.restore)),
    ]
    saved = [(obj, attr, obj.__dict__[attr]) for obj, attr, _ in patches]
    try:
        for obj, attr, new in patches:
            setattr(obj, attr, new)
        yield tracer
    finally:
        for obj, attr, old in saved:
            setattr(obj, attr, old)
