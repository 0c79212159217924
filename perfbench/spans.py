"""Driver-side spans around the engine's public functions.

The engine itself emits nothing, so the traced run measures each layer
from outside: every public function of a layer module is replaced by a
``Traced`` wrapper in its defining module and in every package module
that bound the name at import time (``queries.py`` binds ``load_table``
and friends that way). Each call records a span; a span's self time is
its wall time minus the time covered by its direct child spans.

Wrappers only exist in the driver. When Spark pickles a wrapped function
into a UDF closure, ``Traced.__reduce__`` hands over the original
function, so executors run untouched engine code.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "var_elasticnet_bigdata_spark"

# module (relative to the package) -> layer prefix used in metric names
LAYER_MODULES = {
    "ml.gram": "ml.gram",
    "ml.var_model": "ml.var_model",
    "ml.elastic_net": "ml.elastic_net",
    "ml.tuning": "ml.tuning",
    "ml.selection": "ml.selection",
    "ml.group_enet": "ml.group_enet",
    "harness.modeltrain": "harness.modeltrain",
    "functions.stats": "functions.stats",
    "operators.lag_embed": "operators.lag_embed",
    "operators.text": "operators.text",
    "operators.dedup": "operators.dedup",
    "operators.similarity": "operators.similarity",
    "operators.multimodal": "operators.multimodal",
    "operators.curation": "operators.curation",
    "operators.split": "operators.split",
    "plans.spread": "plans.spread",
    "plans.cachereg": "plans.cachereg",
    "sources.tables": "sources",
    "sources.bucketing": "sources",
    "sources.compaction": "sources",
}


class Tracer:
    """Collects span counts and self time per span name."""

    def __init__(self) -> None:
        self.enabled = False
        self.calls: dict[str, int] = defaultdict(int)
        self.self_s: dict[str, float] = defaultdict(float)
        self.layer_of: dict[str, str] = {}
        self.spread_fired = 0
        self._local = threading.local()
        self._lock = threading.Lock()

    def reset(self) -> None:
        with self._lock:
            self.calls.clear()
            self.self_s.clear()
            self.spread_fired = 0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self) -> list | None:
        if not self.enabled:
            return None
        frame = [time.perf_counter(), 0.0]
        self._stack().append(frame)
        return frame

    def end(self, name: str, frame: list | None) -> None:
        if frame is None:
            return
        dur = time.perf_counter() - frame[0]
        stack = self._stack()
        stack.pop()
        if stack:
            stack[-1][1] += dur
        with self._lock:
            self.calls[name] += 1
            self.self_s[name] += dur - frame[1]

    def snapshot(self) -> dict:
        with self._lock:
            return {
                "calls": dict(self.calls),
                "self_s": dict(self.self_s),
                "spread_fired": self.spread_fired,
            }


class Traced:
    """Callable stand-in for one engine function that records a span."""

    def __init__(self, fn, name: str, tracer: Tracer) -> None:
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._name = name
        self._tracer = tracer

    def __call__(self, *args, **kwargs):
        frame = self._tracer.begin()
        try:
            out = self._fn(*args, **kwargs)
        finally:
            self._tracer.end(self._name, frame)
        if (
            frame is not None
            and self._name == "plans.spread.spread_to_cores"
            and args
            and out is not args[0]
        ):
            with self._tracer._lock:
                self._tracer.spread_fired += 1
        return out

    def __reduce__(self):
        # pickled into a UDF: ship the original, importable by reference
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


def install(tracer: Tracer) -> int:
    """Wrap every public function of the layer modules wherever a
    package module holds a reference to it. Returns the number of
    bindings replaced."""
    targets: dict[int, tuple[object, str]] = {}
    for rel, layer in LAYER_MODULES.items():
        mod = importlib.import_module(f"{PACKAGE}.{rel}")
        for attr, obj in vars(mod).items():
            if (
                attr.startswith("_")
                or not inspect.isfunction(obj)
                or obj.__module__ != mod.__name__
            ):
                continue
            name = f"{layer}.{attr}"
            targets[id(obj)] = (obj, name)
            tracer.layer_of[name] = layer
    # the registry imports most operators lazily; import it so its
    # import-time bindings exist before the sweep below
    importlib.import_module(f"{PACKAGE}.queries")
    wrappers = {key: Traced(obj, name, tracer) for key, (obj, name) in targets.items()}
    replaced = 0
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == PACKAGE or modname.startswith(PACKAGE + ".")):
            continue
        for attr, obj in list(vars(mod).items()):
            w = wrappers.get(id(obj))
            if w is not None:
                setattr(mod, attr, w)
                replaced += 1
    return replaced


def layer_metrics(snap: dict, layer_of: dict[str, str]) -> dict[str, float]:
    """Per-function ``.calls`` / ``.s`` (self time) and per-layer ``.s``."""
    out: dict[str, float] = {}
    layer_self: dict[str, float] = defaultdict(float)
    for name, calls in snap["calls"].items():
        out[f"{name}.calls"] = calls
        out[f"{name}.s"] = snap["self_s"][name]
        layer_self[layer_of[name]] += snap["self_s"][name]
    for layer, s in layer_self.items():
        out[f"{layer}.s"] = s
    return out
