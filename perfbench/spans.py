"""In-memory span recorder and the wrappers that put spans around the
engine's public layer functions.

A span is (name, start, end, parent, trace id). Only the main thread
records: foreachBatch callbacks and listener events arrive on py4j
threads and are measured by the streaming listener instead.

Layer functions that the engine also calls from inside itself (for
example ``load_table`` from every query builder) are wrapped by
rebinding every module attribute of the package that refers to the
original function, and restored afterwards, so untraced passes run the
unmodified code.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "introduction_in_big_data_spark"

# (module, function) -> span name; the span name's first component is
# the layer its self time is charged to
LAYER_FUNCTIONS = {
    ("session", "barrier"): "session.barrier",
    ("sources.tables", "load_table"): "sources.load",
    ("sources.readers", "read_csv"): "sources.load",
    ("sources.readers", "read_ndjson"): "sources.load",
    ("sources.writers", "write_csv"): "sources.write",
    ("streaming.stream", "stage_events_dir"): "sources.stage",
    ("streaming.stream", "run_to_memory"): "streaming.drain",
    ("streaming.sketch_stream", "run_streaming_cms"): "streaming.drain",
}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.trace_id = ""
        self._stack: list[int] = []
        self._main = threading.main_thread().ident
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled or threading.get_ident() != self._main:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Rebind the layer functions everywhere in the package."""
        if self._patched:
            return
        for (mod_name, attr), span_name in LAYER_FUNCTIONS.items():
            orig = getattr(importlib.import_module(f"{PACKAGE}.{mod_name}"), attr)
            traced = self._wrap(span_name, orig)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PACKAGE) and (
                    getattr(mod, attr, None) is orig
                ):
                    setattr(mod, attr, traced)
                    self._patched.append((mod, attr, orig))
        self.enabled = True

    def uninstall(self) -> None:
        for mod, attr, orig in self._patched:
            setattr(mod, attr, orig)
        self._patched.clear()
        self.enabled = False

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict], trace_prefix: str) -> dict[str, float]:
    """Seconds per layer over the spans whose trace id starts with
    `trace_prefix`: each span's duration minus the part of it its child
    spans cover (children of one span never overlap: they are recorded
    on one thread)."""
    child_s = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = {}
    for s, covered in zip(spans, child_s):
        if not s["trace"].startswith(trace_prefix):
            continue
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
    return out


def span_cost_s(calls: int = 20000) -> float:
    """Seconds that recording one span adds to a call: a wrapped no-op
    timed with recording on, less the same no-op called directly."""
    tracer = Tracer()
    tracer.enabled = True

    def noop():
        return None

    wrapped = tracer._wrap("calibrate", noop)
    t0 = time.perf_counter()
    for _ in range(calls):
        noop()
    t1 = time.perf_counter()
    for _ in range(calls):
        wrapped()
    t2 = time.perf_counter()
    return ((t2 - t1) - (t1 - t0)) / calls
