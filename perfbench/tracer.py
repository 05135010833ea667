"""Spans around the calls into each package layer, recorded from outside.

The benchmark wraps the public functions of the layer modules listed in
``LAYERS`` and rebinds each wrapper in every loaded package module that holds
the original under some name — the query modules import helpers by name
(``from projectmapreduce_spark.io import scan``), so patching only the
defining module would miss most calls.  Spans stay in memory until the run
ends.  Code that runs inside Spark's Python workers is not wrapped: workers
import the package afresh and get the original functions.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from perfbench.stats import self_time

PACKAGE = "projectmapreduce_spark"
OPERATOR_MODULES = (
    "dedup", "similarity", "text", "joins", "sketch", "graph", "pipeline", "multimodal", "mr",
)
IO_SCANS = ("scan", "load_tables", "scan_csv", "scan_jsonl", "scan_text", "scan_orc")
IO_SINKS = (
    "sink_parquet", "sink_partitioned", "overwrite_partitions", "sink_managed",
    "sink_bucketed", "sink_orc", "sink_csv", "sink_jsonl",
)
# layer name -> (module, function names or None for every public function)
LAYERS: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "session.get_spark": (f"{PACKAGE}.session", ("get_spark",)),
    "io.scan": (f"{PACKAGE}.io", IO_SCANS),
    "io.sink": (f"{PACKAGE}.io", IO_SINKS),
    "sources.fixed_width": (f"{PACKAGE}.sources.fixed_width", None),
    **{f"operators.{m}": (f"{PACKAGE}.operators.{m}", None) for m in OPERATOR_MODULES},
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    job: str | None
    pass_index: int | None


class Tracer:
    """Records spans; installs and removes the layer wrappers."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.job: str | None = None
        self.pass_index: int | None = None
        self._ids = itertools.count(1)
        # Open spans, innermost last.  The benchmark's client is one thread.
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._stack
        sp = Span(
            next(self._ids), name, time.perf_counter(), 0.0,
            stack[-1].id if stack else None, self.job, self.pass_index,
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.spans.append(sp)

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # A layer calling itself is one span: the outer call covers it.
            if any(s.name == layer for s in self._stack):
                return fn(*args, **kwargs)
            with self.span(layer):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap every layer function and rebind it wherever it is bound."""
        if self._patched:
            return
        originals: dict[int, object] = {}
        for layer, (mod_name, names) in LAYERS.items():
            mod = importlib.import_module(mod_name)
            for attr, fn in vars(mod).items():
                if not inspect.isfunction(fn) or fn.__module__ != mod_name:
                    continue
                if (names is None and attr.startswith("_")) or (names and attr not in names):
                    continue
                originals[id(fn)] = self._wrap(layer, fn)
        for mod in [m for n, m in sys.modules.items() if n.split(".")[0] == PACKAGE]:
            for attr, val in list(vars(mod).items()):
                wrapper = originals.get(id(val))
                if wrapper is not None:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def layer_times(self, keep) -> dict[str, tuple[int, float, float]]:
        """``{span name: (count, total s, self s)}`` over the spans ``keep`` accepts."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, tuple[int, float, float]] = {}
        for s in self.spans:
            if not keep(s):
                continue
            n, total, own = out.get(s.name, (0, 0.0, 0.0))
            out[s.name] = (
                n + 1,
                total + (s.end - s.start),
                own + self_time(s.start, s.end, children.get(s.id, ())),
            )
        return out

    def dump(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]
