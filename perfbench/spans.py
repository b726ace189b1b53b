"""In-memory spans for the traced run, written once when the run ends.

A span records its name, start, end, parent and run id.  ``Tracer`` keeps
a per-thread stack so nested ``span()`` blocks get their parent for free;
spans that come from elsewhere (a streaming listener) are added with
``add()``.  Self time is a span's duration minus the part of it that its
children cover.  With tracing off every call is a no-op.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import threading
import time
from collections import defaultdict

#: version of the spans-file layout; bump it when the keys change
TRACE_SCHEMA_VERSION = 1
SPAN_KEYS = ("id", "name", "start", "end", "parent", "run_id", "self_s", "attrs")
TRACE_FILE_KEYS = (
    "schema_version", "workload", "seed", "spans", "self_time_s",
    "per_layer", "unavailable", "end_to_end", "tracing_overhead",
)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[tuple[int, str | None]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, run_id: str | None = None, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent, parent_run = stack[-1] if stack else (None, None)
        if run_id is None:
            run_id = parent_run
        start = time.perf_counter()
        stack.append((sid, run_id))
        try:
            yield
        finally:
            stack.pop()
            self._append(sid, name, start, time.perf_counter(), parent, run_id, attrs)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            run_id: str | None = None, **attrs) -> int:
        sid = next(self._ids)
        if self.enabled:
            self._append(sid, name, start, end, parent, run_id, attrs)
        return sid

    def _append(self, sid, name, start, end, parent, run_id, attrs) -> None:
        with self._lock:
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, "run_id": run_id, "attrs": attrs})


def with_self_times(spans: list[dict]) -> list[dict]:
    """Copy of ``spans`` with ``self_s``: duration minus the union of the
    children's intervals, each clipped to the parent's."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = []
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append({**s, "self_s": (s["end"] - s["start"]) - covered})
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    totals: dict[str, float] = defaultdict(float)
    for s in spans:
        totals[s["name"]] += s["self_s"]
    return dict(sorted(totals.items()))


def write_trace(path: str, *, workload: str, seed: int, tracer: Tracer,
                per_layer: dict, unavailable: dict, end_to_end: dict,
                tracing_overhead: dict) -> dict:
    spans = with_self_times(tracer.spans)
    t0 = min((s["start"] for s in spans), default=0.0)
    for s in spans:  # times relative to the first span, in seconds
        s["start"] -= t0
        s["end"] -= t0
    doc = {
        "schema_version": TRACE_SCHEMA_VERSION,
        "workload": workload,
        "seed": seed,
        "spans": [{k: s[k] for k in SPAN_KEYS} for s in spans],
        "self_time_s": self_time_by_name(spans),
        "per_layer": per_layer,
        "unavailable": unavailable,
        "end_to_end": end_to_end,
        "tracing_overhead": tracing_overhead,
    }
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, indent=1, default=str)
    return doc


# ---------------------------------------------------------------------------
# Timing calls into the package from outside.  A public function of a module
# is replaced, in every package module that holds a reference to it, by a
# callable that opens a span around the call.  Pickling the wrapper yields
# the original function by reference, so closures shipped to Python workers
# never carry the tracer.
# ---------------------------------------------------------------------------


class _Timed:
    def __init__(self, tracer: Tracer, span_name: str, fn):
        self._tracer, self._span, self._fn = tracer, span_name, fn
        self.__wrapped__ = fn
        self.__name__ = fn.__name__
        self.__qualname__ = fn.__qualname__
        self.__module__ = fn.__module__
        self.__doc__ = fn.__doc__

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._span):
            return self._fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        # used as a class attribute it must still bind like a method
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return (_resolve, (self._fn.__module__, self._fn.__qualname__))


def _resolve(module: str, qualname: str):
    """The object at ``module.qualname``: unpatched wherever nothing
    instrumented it, as in a Python worker."""
    obj = importlib.import_module(module)
    for part in qualname.split("."):
        obj = getattr(obj, part)
    return obj


def public_functions(module) -> dict[str, object]:
    return {
        name: obj for name, obj in vars(module).items()
        if inspect.isfunction(obj) and obj.__module__ == module.__name__
        and not name.startswith("_")
    }


def wrap_methods(tracer: Tracer, module, span_name: str) -> None:
    """Time the public methods of the classes ``module`` defines."""
    for cls in vars(module).values():
        if not inspect.isclass(cls) or cls.__module__ != module.__name__:
            continue
        for name, fn in list(vars(cls).items()):
            if inspect.isfunction(fn) and not name.startswith("_"):
                setattr(cls, name, _Timed(tracer, span_name, fn))


def instrument(tracer: Tracer, targets: list[tuple[object, str]], package_prefix: str) -> None:
    """Wrap ``module.function`` for each (function object, span name) pair
    in every loaded module under ``package_prefix``."""
    import sys

    by_id = {id(fn): _Timed(tracer, span, fn) for fn, span in targets}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(package_prefix):
            continue
        for attr, value in list(vars(mod).items()):
            wrapper = by_id.get(id(value))
            if wrapper is not None:
                setattr(mod, attr, wrapper)
