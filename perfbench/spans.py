"""In-memory span tracer for the traced run.

Spans are recorded from the benchmark's side only: `wrap_layers` replaces
the public functions of the engine's layer modules (and the SearchEngine
methods) with wrappers that open a span around each call. Calls that go
through a module attribute or a module global are caught; a name bound
earlier with `from x import f` is not.

Each span switches the Spark job group to its own id while it is open and
restores the parent's group when it closes, so a job that the engine runs
eagerly while building a plan is attributed to the innermost open span.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PKG = "multi_search_retrival_big_data_spark"
LAYER_MODULES = (
    "encoders",
    "functions.visual",
    "index_store",
    "operators.ann",
    "operators.curation",
    "operators.dedup",
    "operators.dense",
    "operators.filters",
    "operators.fusion",
    "operators.grouping",
    "operators.kmeans",
    "operators.rerank",
    "operators.sparse",
    "operators.textanalysis",
)


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int
    name: str
    layer: str
    t0: float
    t1: float = 0.0


class Tracer:
    def __init__(self, probe, keep: tuple[str, ...] = ()):
        self.probe = probe
        self.keep = set(keep)  # span names whose return value is kept
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []
        self.op = 0
        self.results: dict[int, object] = {}

    def group_of(self, sid: int) -> str:
        return f"span{sid}"

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.sid if parent else None, self.op, name, layer, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self.probe.set_group(self.group_of(sp.sid))
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.probe.set_group(self.group_of(parent.sid))
            else:
                self.probe.clear_group()

    def _wrapper(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self._stack:
                return fn(*args, **kwargs)
            with self.span(name, layer) as sp:
                out = fn(*args, **kwargs)
                if name in self.keep:
                    self.results[sp.sid] = out
                return out

        return traced

    def wrap_layers(self) -> None:
        from multi_search_retrival_big_data_spark.api import SearchEngine

        for short in LAYER_MODULES:
            mod = importlib.import_module(f"{PKG}.{short}")
            for name, fn in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                ):
                    continue
                self._restore.append((mod, name, fn))
                setattr(mod, name, self._wrapper(fn, f"{short}.{name}", short))
        for name, fn in list(vars(SearchEngine).items()):
            if not name.startswith("_") and inspect.isfunction(fn):
                self._restore.append((SearchEngine, name, fn))
                setattr(SearchEngine, name, self._wrapper(fn, f"api.{name}", "api"))

    def unwrap(self) -> None:
        for owner, name, fn in reversed(self._restore):
            setattr(owner, name, fn)
        self._restore.clear()

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        return kids

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its direct children cover."""
        kids = self.children()
        return {
            sp.sid: (sp.t1 - sp.t0) - sum(c.t1 - c.t0 for c in kids.get(sp.sid, []))
            for sp in self.spans
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")
