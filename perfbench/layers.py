"""Spans around the calls into the engine's modules, recorded from outside.

:func:`traced` swaps a module's public function (or a public method of one
of its classes) for a wrapper that records the call's wall time under a
layer name, and restores the original on exit. No engine file changes; the
engine resolves these names at call time, so the wrappers see every call
made while the context is open, from any thread.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import statistics
import threading
import time

# layer name -> (module, attribute path) of the engine entry point it wraps
LAYERS = {
    "mvcc.read": ("vivace_graph_v3_spark.mvcc", "VersionedGraph.read"),
    "mvcc.commit": ("vivace_graph_v3_spark.mvcc", "VersionedGraph.commit"),
    "mvcc.current_epoch": ("vivace_graph_v3_spark.mvcc",
                           "VersionedGraph.current_epoch"),
    "query.compile_pattern_query": ("vivace_graph_v3_spark.query.pattern",
                                    "compile_pattern_query"),
    "query.run_query": ("vivace_graph_v3_spark.query.pattern", "run_query"),
    "graph.active_edges": ("vivace_graph_v3_spark.graph",
                           "GraphStore.active_edges"),
}


class Spans:
    """Durations of wrapped calls, per layer name; thread-safe."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.durations: dict[str, list[float]] = {k: [] for k in LAYERS}

    def record(self, name: str, seconds: float) -> None:
        with self._lock:
            self.durations[name].append(seconds)

    def calls(self, name: str) -> int:
        return len(self.durations[name])

    def p50(self, name: str) -> float:
        d = self.durations[name]
        return statistics.median(d) if d else 0.0


def _wrap(fn, name: str, spans: Spans):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            spans.record(name, time.perf_counter() - t0)
    return wrapper


@contextlib.contextmanager
def traced(spans: Spans):
    restore = []
    try:
        for name, (module, attr) in LAYERS.items():
            owner = importlib.import_module(module)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            original = getattr(owner, leaf)
            setattr(owner, leaf, _wrap(original, name, spans))
            restore.append((owner, leaf, original))
        yield spans
    finally:
        for owner, leaf, original in reversed(restore):
            setattr(owner, leaf, original)
