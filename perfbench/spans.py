"""In-memory spans around the calls the benchmark makes into each layer.

The program itself carries no tracing. A traced op installs wrappers on
the public entry points of the layers listed in ``install_layer_wrappers`` (module
attributes and class methods the program looks up at call time), records
one span per call, and removes the wrappers when the op ends.

A span is (id, name, start, end, parent, op). The parent is the
innermost open span on the calling thread; a call made on another thread
(a streaming query's ``foreachBatch`` runs on a py4j callback thread)
is parented to the phase span the main thread has open.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[int, str, float, float, int | None, int | None]] = []
        self.op_id: int | None = None
        self.phase: int | None = None  # span id other threads parent to
        self.active = False
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object, bool]] = []
        #: counts recorded at the same boundaries as the spans
        self.counts: dict[str, float] = {}

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, phase: bool = False):
        if not self.active:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else self.phase
        stack.append(sid)
        saved_phase = self.phase
        if phase:
            self.phase = sid
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            if phase:
                self.phase = saved_phase
            with self._lock:
                self.spans.append((sid, name, start, end, parent, self.op_id))

    # -- wrappers ----------------------------------------------------------
    def count(self, name: str, n: float) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def _wrap(self, fn, name: str, on_result):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Wrap ``owner.attr`` in a span; ``on_result`` sees each return value."""
        had_own = attr in vars(owner)
        original = getattr(owner, attr)
        self._patched.append((owner, attr, vars(owner).get(attr), had_own))
        setattr(owner, attr, self._wrap(original, name, on_result))

    def unpatch_all(self) -> None:
        while self._patched:
            owner, attr, original, had_own = self._patched.pop()
            if had_own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)

    @contextmanager
    def traced_op(self, op_id: int, install):
        """Trace one op: ``install(tracer)`` patches the layer entry points."""
        self.op_id = op_id
        self.active = True
        install(self)
        try:
            with self.span("op", phase=True):
                yield
        finally:
            self.unpatch_all()
            self.active = False
            self.op_id = None


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the public entry points of the store, sink, router and
    warehouse layers (see NOTES.md for the span-to-layer map)."""
    from flink_realtime_data_warehouse_spark.streaming import router, sinks, table_format
    from flink_realtime_data_warehouse_spark.warehouse import Warehouse

    backend = type(table_format._active())
    for attr in dir(backend):
        if not attr.startswith("_") and callable(getattr(backend, attr)):
            tracer.patch(table_format.FORMAT, attr, f"table_format.{attr}")
    tracer.patch(sinks.DimStore, "upsert", "sinks.upsert")
    tracer.patch(
        router,
        "route_changelog_batch",
        "router.route",
        on_result=lambda counts: tracer.count("sinks.upsert_rows", sum(counts.values())),
    )
    tracer.patch(Warehouse, "register", "warehouse.register")
    tracer.patch(Warehouse, "sql", "warehouse.sql")


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def layer_of(name: str) -> str:
    """Span name -> layer: ``table_format.read`` -> ``table_format``;
    the op root is the benchmark's own glue."""
    if name == "op":
        return "bench"
    return name.partition(".")[0]


def self_time_report(spans) -> tuple[dict[str, float], dict[str, tuple[float, int]]]:
    """Self time per layer (duration minus the part of the span's
    interval its children cover) and (total seconds, calls) per span name."""
    by_parent: dict[int, list[tuple[float, float]]] = {}
    for sid, _name, s, e, parent, _op in spans:
        if parent is not None:
            by_parent.setdefault(parent, []).append((s, e))
    layers: dict[str, float] = {}
    per_name: dict[str, tuple[float, int]] = {}
    for sid, name, s, e, _parent, _op in spans:
        kids = [(max(a, s), min(b, e)) for a, b in by_parent.get(sid, []) if b > s and a < e]
        own = (e - s) - _union_length(kids)
        layer = layer_of(name)
        layers[layer] = layers.get(layer, 0.0) + own
        tot, n = per_name.get(name, (0.0, 0))
        per_name[name] = (tot + (e - s), n + 1)
    return layers, per_name
