"""In-memory spans around the engine's public entry points.

A span records its name, kind, parent, start/end (``perf_counter``) and the
app-wide Spark job counter at both ends.  Spans nest workload → pass →
query → {build → module calls, plan, exec}.  Module spans come from
wrapping every public function of the engine's layer packages for the
duration of the traced passes; the engine itself is not edited.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

ENGINE = "nyc_taxi_data_warehouse_spark"
LAYERS = ("operators", "plans", "sources", "functions", "streaming", "ml", "util")


class Tracer:
    def __init__(self, job_counter):
        """``job_counter()`` returns the app-wide next Spark job id."""
        self.spans: list[dict] = []
        self._jobs = job_counter
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        stack = self._stack()
        # A callback thread (a streaming foreachBatch sink, say) runs while
        # the main thread waits inside a span: nest it there, so the
        # waiting span's self time does not count the callback twice.
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        rec = {"id": None, "parent": parent["id"] if parent else None,
               "name": name, "kind": kind, **attrs,
               "jobs0": self._jobs(), "t0": time.perf_counter()}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["jobs1"] = self._jobs()
            stack.pop()

    # -- module wrapping ---------------------------------------------------

    def wrap_engine(self) -> None:
        """Wrap every public function defined in the engine's layer modules
        and rebind each name that refers to it in any loaded engine module
        (``from .dedup import f`` copies the reference)."""
        originals: dict[int, tuple] = {}
        for layer in LAYERS:
            top = importlib.import_module(f"{ENGINE}.{layer}")
            mods = [top]
            if hasattr(top, "__path__"):
                mods = [importlib.import_module(info.name) for info in
                        pkgutil.walk_packages(top.__path__, f"{top.__name__}.")]
            for mod in mods:
                label = mod.__name__[len(ENGINE) + 1:]
                for attr, fn in list(vars(mod).items()):
                    if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                            and not attr.startswith("_")
                            and not hasattr(fn, "evalType")):
                        originals[id(fn)] = (fn, self._wrapper(fn, label))
        for modname, mod in list(sys.modules.items()):
            if not (modname == ENGINE or modname.startswith(ENGINE + ".")
                    or modname == "__spark_entry__"):
                continue
            for attr, value in list(vars(mod).items()):
                hit = originals.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, value))

    def unwrap_engine(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    def _wrapper(self, fn, module: str):
        label = f"{module}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(label, "module", module=module):
                return fn(*args, **kwargs)

        return traced

    # -- derived numbers ---------------------------------------------------

    def self_times(self) -> dict[int, tuple[float, int]]:
        """span id -> (self seconds, self jobs): the span's own duration and
        job count minus those its direct children cover."""
        child_s: dict[int, float] = defaultdict(float)
        child_j: dict[int, int] = defaultdict(int)
        for s in self.spans:
            if s["parent"] is not None and "t1" in s:
                child_s[s["parent"]] += s["t1"] - s["t0"]
                child_j[s["parent"]] += s["jobs1"] - s["jobs0"]
        out = {}
        for s in self.spans:
            if "t1" not in s:
                continue
            out[s["id"]] = (
                s["t1"] - s["t0"] - child_s[s["id"]],
                s["jobs1"] - s["jobs0"] - child_j[s["id"]],
            )
        return out

    def module_table(self, within: set[int]) -> dict[str, dict]:
        """Per engine module: self seconds, calls and self jobs of the module
        spans whose ancestors include one of the span ids in ``within``."""
        by_id = {s["id"]: s for s in self.spans}

        def inside(s) -> bool:
            while s is not None:
                if s["id"] in within:
                    return True
                s = by_id.get(s["parent"])
            return False

        selfs = self.self_times()
        table: dict[str, dict] = defaultdict(lambda: {"self_s": 0.0, "calls": 0, "jobs": 0})
        for s in self.spans:
            if s["kind"] == "module" and s["id"] in selfs and inside(s):
                row = table[s["module"]]
                row["self_s"] += selfs[s["id"]][0]
                row["calls"] += 1
                row["jobs"] += selfs[s["id"]][1]
        return dict(table)
