"""Spans recorded from the benchmark's own files.

The engine calls its layers through module attributes (``cli`` and
``streaming`` both say ``pipeline.run_batch`` / ``ckpt.read_checkpoint``),
so swapping those attributes for timing wrappers sees every call, in the
batch CLI and in each service epoch alike, without touching engine code.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

from pmocr_spark import checkpoint, cli, pipeline

#: (module, attribute, layer) of every wrapped entry point
TRACED = (
    (cli, "main", "cli"),
    (pipeline, "run_batch", "pipeline"),
    (pipeline, "project_targets", "pipeline"),
    (checkpoint, "read_checkpoint", "checkpoint"),
    (checkpoint, "checkpoint_rows", "checkpoint"),
    (checkpoint, "append_checkpoint", "checkpoint"),
    (checkpoint, "partition_metrics", "checkpoint"),
)


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.request = None  # set by the workload: rep index; epochs are matched later
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._installed: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "request": self.request,
            "thread": threading.get_ident(),
            "start": time.time(),
        }
        stack.append(rec)
        spent = time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
                self.bookkeeping_s += spent + time.perf_counter() - t1

    def install(self) -> None:
        for module, attr, layer in TRACED:
            original = getattr(module, attr)
            setattr(module, attr, self._wrap(original, f"{layer}.{attr}"))
            self._installed.append((module, attr, original))

    def _wrap(self, original, name: str):
        @functools.wraps(original)
        def wrapper(*a, **kw):
            with self.span(name):
                return original(*a, **kw)

        return wrapper

    def uninstall(self) -> None:
        for module, attr, original in reversed(self._installed):
            setattr(module, attr, original)
        self._installed.clear()


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    kids = sorted((s["start"], s["end"]) for s in spans if s["parent"] == span["id"])
    return (span["end"] - span["start"]) - covered(kids)


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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
