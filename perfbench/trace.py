"""Spans around the program's public functions, recorded from outside.

:class:`Tracer` replaces each public function of the layer modules with a
wrapper that records one span per call: name, layer, start, end, parent
span and operation id. The parent and the operation come from a
thread-local stack, so two client threads keep separate trees. Spans
stay in memory until :meth:`Tracer.dump`.

Wrappers are installed on the defining module and on every module of the
package that imported the same function object by name, so calls through
``from .x import f`` are traced as well. ``functools.wraps`` keeps the
qualified name, so pickling a traced function still resolves by
reference on Spark's Python workers, which import the untraced module.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import sys
import threading
import time
from collections import defaultdict

PKG = "data_warehouse_implementation_spark"

#: Operator modules that get a layer each (``operators.<name>``).
OPERATOR_MODULES = (
    "relational",
    "dedup",
    "similarity",
    "text",
    "corpus",
    "graph",
    "suffix",
    "bpe",
    "unigram",
    "layout",
)

#: (layer, module, class or None, function names or None for all public).
TARGETS = [
    ("session", "session", None, ["get_spark", "load_tables"]),
    ("sources", "sources.csvio", None, ["read_csv", "write_csv"]),
    ("sources", "sources.jsonio", None, ["read_jsonl", "write_jsonl"]),
    ("sources", "sources.orcio", None, ["read_orc", "write_orc"]),
    ("sources", "sources.xmlio", None, ["read_xml", "write_xml"]),
    (
        "sources",
        "sources.catalog",
        "WarehouseCatalog",
        ["write", "insert_into", "replace", "table", "create_table_as", "write_observed"],
    ),
    ("plans", "plans.warehouse", None, ["build_warehouse", "publish_warehouse", "integrity_report"]),
    ("plans", "plans.scd", None, None),
    ("materialize", "plans.materialize", None, ["get_or_build"]),
    ("streaming", "streaming.pipelines", None, None),
] + [(f"operators.{m}", f"operators.{m}", None, None) for m in OPERATOR_MODULES]

#: Layers whose self time the benchmark reports.
LAYERS = ["session", "sources", "plans", "materialize", "streaming", "exec"] + [
    f"operators.{m}" for m in OPERATOR_MODULES
]


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    def span(self, layer: str, name: str):
        return contextlib.nullcontext()

    def op(self, op_id: str):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def op(self, op_id: str):
        """Mark every span opened by this thread inside as belonging to
        operation ``op_id``."""
        prev = getattr(self._local, "op", None)
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = prev

    def current_op(self) -> str | None:
        return getattr(self._local, "op", None)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1] if st else None
        st.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            st.pop()
            rec = {
                "id": sid,
                "parent": parent,
                "layer": layer,
                "name": name,
                "start": start,
                "end": end,
                "op": getattr(self._local, "op", None),
                "thread": threading.get_ident(),
            }
            with self._lock:
                self.spans.append(rec)

    # -- installing wrappers ---------------------------------------------
    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        mods = [importlib.import_module(f"{PKG}.{t[1]}") for t in TARGETS]
        pkg_modules = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]
        for mod, (layer, modname, clsname, names) in zip(mods, TARGETS):
            if clsname is not None:
                cls = getattr(mod, clsname)
                for fname in names:
                    orig = cls.__dict__[fname]
                    self._set(cls, fname, self._wrap(orig, layer, f"{clsname}.{fname}"))
                continue
            if names is None:
                names = [
                    n
                    for n, f in inspect.getmembers(mod, inspect.isfunction)
                    if not n.startswith("_") and f.__module__ == mod.__name__
                ]
            for fname in names:
                orig = getattr(mod, fname)
                wrapped = self._wrap(orig, layer, f"{modname.split('.')[-1]}.{fname}")
                for m in pkg_modules:
                    if getattr(m, fname, None) is orig:
                        self._set(m, fname, wrapped)

    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- reporting -------------------------------------------------------
    def self_times(self) -> tuple[dict[str, float], dict[str, int]]:
        """Per layer: total self time (span duration minus the part its
        direct children cover) and call count."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        self_s: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for s in self.spans:
            self_s[s["layer"]] += max(0.0, s["end"] - s["start"] - child_time[s["id"]])
            calls[s["layer"]] += 1
        return dict(self_s), dict(calls)

    def span_cost(self, n: int = 20_000) -> float:
        """Seconds one traced call adds, measured on a no-op function
        with a throwaway tracer."""
        probe = Tracer()
        fn = lambda: None  # noqa: E731
        traced = probe._wrap(fn, "probe", "probe")
        t0 = time.perf_counter()
        for _ in range(n):
            fn()
        bare = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(n):
            traced()
        return max(0.0, (time.perf_counter() - t0 - bare) / n)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
