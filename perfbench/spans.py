"""Spans and counts recorded around the engine's public functions.

Nothing inside the engine is edited: `instrument` rebinds every public
function of the traced modules (and the names other modules imported them
under) to a wrapper that opens a span while a tracer is enabled. The Py4J
bridge is counted by wrapping `GatewayClient.send_command`, the technique of
tools/count_py4j.py. Spans stay in memory; `self_times` turns them into
per-layer self time after the run.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "dataselector_spark"


@dataclass(eq=False)
class Span:
    name: str
    layer: str
    op: int | None
    parent: Span | None
    start: float
    end: float = 0.0
    counts: dict[str, int] = field(default_factory=lambda: defaultdict(int))


class Tracer:
    """Spans of the thread that runs the ops. Disabled by default, so
    installed wrappers cost one attribute test until a traced pass turns it
    on. Calls on other threads (e.g. a stream's foreachBatch callbacks) open
    no spans; their Py4J commands count on the op thread's open span."""

    def __init__(self, clock=time.perf_counter) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        self.enabled = False
        self._thread = threading.get_ident()
        self._stack: list[Span] = []
        self._op: int | None = None

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled or threading.get_ident() != self._thread:
            yield None
            return
        s = Span(name, layer, self._op, self._stack[-1] if self._stack else None, self.clock())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = self.clock()

    @contextmanager
    def paused(self):
        """Bench bookkeeping (job groups, plan reads) outside all spans."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    @contextmanager
    def op(self, op_id: int, name: str):
        """Root span of one op; every span opened inside carries its id."""
        self._op = op_id
        try:
            with self.span(name, "op") as s:
                yield s
        finally:
            self._op = None

    def count(self, key: str, n: int = 1) -> None:
        if self.enabled and self._stack:
            self._stack[-1].counts[key] += n


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[id(s.parent)].append((s.start, s.end))
    out = []
    for s in spans:
        covered, reach = 0.0, s.start
        for a, b in sorted(children.get(id(s), ())):
            a, b = max(a, reach), min(b, s.end)
            if b > a:
                covered += b - a
                reach = b
        out.append((s.end - s.start) - covered)
    return out


def subtree_of(spans: list[Span], root: int, stop_layers: tuple[str, ...] = ()) -> list[int]:
    """Indices in ``spans`` of ``spans[root]`` and its descendants, not
    descending into spans of ``stop_layers`` (left out with their subtrees)."""
    kids: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids[id(s.parent)].append(i)
    out, todo = [], [root]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(k for k in kids[id(spans[i])] if spans[k].layer not in stop_layers)
    return out


def layer_of(module: str) -> str | None:
    """Layer name of a module of the engine, or None if it is not traced."""
    parts = module.split(".")
    if parts[0] != PACKAGE or len(parts) < 2:
        return None
    if parts[1] in ("operators", "functions") and len(parts) == 3:
        return f"{parts[1]}.{parts[2]}"
    if parts[1] == "streaming":
        return ".".join(parts[1:])
    if parts[1] in ("multimodal", "session_state") and len(parts) == 2:
        return parts[1]
    return None


# Single functions traced outside the layer modules, as (module, name) -> layer.
SINGLE = {(f"{PACKAGE}.catalog", "load_table"): "catalog.load_table"}


def _wrap(tracer: Tracer, orig, layer: str):
    name = f"{layer}.{orig.__name__}"

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return orig(*args, **kwargs)
        with tracer.span(name, layer):
            return orig(*args, **kwargs)

    return traced


def _plain_function(obj, module: str) -> bool:
    # pandas_udf/udf objects are functions too, but Spark reads attributes
    # off them; they are left alone.
    return (
        inspect.isfunction(obj)
        and obj.__module__ == module
        and not hasattr(obj, "evalType")
    )


def instrument(tracer: Tracer) -> dict[str, int]:
    """Wrap the public functions of every imported layer module of the engine
    and rebind each name that refers to one, in every module of the engine.
    Returns the number of wrapped functions per layer.

    A wrapper keeps the original's module and qualified name, so Spark's
    pickler sends it to Python workers by reference and the (unpatched)
    worker runs the original."""
    replaced: dict[int, object] = {}
    per_layer: dict[str, int] = defaultdict(int)
    modules = [m for n, m in list(sys.modules.items()) if n.split(".")[0] == PACKAGE and m]
    for mod in modules:
        layer = layer_of(mod.__name__)
        for name, obj in list(vars(mod).items()):
            single = SINGLE.get((mod.__name__, name))
            if single is None and (layer is None or name.startswith("_")):
                continue
            if _plain_function(obj, mod.__name__) and id(obj) not in replaced:
                replaced[id(obj)] = _wrap(tracer, obj, single or layer)
                per_layer[single or layer] += 1
            elif inspect.isclass(obj) and obj.__module__ == mod.__name__ and layer:
                for attr, fn in list(vars(obj).items()):
                    if not attr.startswith("_") and inspect.isfunction(fn):
                        setattr(obj, attr, _wrap(tracer, fn, layer))
                        per_layer[layer] += 1
    for mod in modules:
        for name, obj in list(vars(mod).items()):
            new = replaced.get(id(obj))
            if new is not None:
                setattr(mod, name, new)
    return dict(per_layer)


def count_py4j(tracer: Tracer) -> None:
    """Count every Py4J bridge round-trip on the innermost open span."""
    import py4j.java_gateway as jg

    orig = jg.GatewayClient.send_command

    def send_command(self, *args, **kwargs):
        tracer.count("py4j")
        return orig(self, *args, **kwargs)

    jg.GatewayClient.send_command = send_command
