"""Spans around the public functions of each ``sdc_spark`` layer.

The tracer is installed from outside the package: it replaces each public
function (and each public method of the ``frame`` classes) with a wrapper
that records a span, in every module that holds a reference to it. It must
be installed before the plan modules are imported, because they bind
operator names with ``from ... import``. A separate hook counts py4j
commands sent to the JVM and the time spent waiting for their replies.

Spans live in memory; ``Tracer.spans`` is written out when the run ends.
A span's self time is its duration minus the time its child spans (same
thread) cover. Work a span starts on other threads (``run_concurrently``)
is recorded as root spans of those threads.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import threading
import time
from collections.abc import Callable, Iterable
from types import ModuleType

import py4j.java_gateway

# sdc_spark packages whose every module is traced, and the module paths
# whose modules name their own layer (``operators.dedup``); the rest of a
# package is one layer (``frame``, ``functions``, ``sources``).
TRACED_PACKAGES = (
    "sdc_spark.frame",
    "sdc_spark.functions",
    "sdc_spark.operators",
    "sdc_spark.sources",
)
TRACED_MODULES = ("sdc_spark.session", "sdc_spark.materialize")
_PER_MODULE_LAYERS = ("sdc_spark.operators.", "sdc_spark.sources.")


def layer_of(module_name: str) -> str:
    name = module_name.removeprefix("sdc_spark.")
    for prefix in _PER_MODULE_LAYERS:
        if module_name.startswith(prefix):
            return name
    return name.split(".")[0]


def traced_modules() -> list[ModuleType]:
    mods = [importlib.import_module(m) for m in TRACED_MODULES]
    for pkg_name in TRACED_PACKAGES:
        pkg = importlib.import_module(pkg_name)
        mods.append(pkg)
        for info in pkgutil.iter_modules(pkg.__path__):
            mods.append(importlib.import_module(f"{pkg_name}.{info.name}"))
    return mods


class _Frame:
    __slots__ = ("child_s",)

    def __init__(self) -> None:
        self.child_s = 0.0


class Tracer:
    """In-memory span recorder; ``enabled`` switches recording off
    without removing the wrappers."""

    def __init__(self) -> None:
        self.enabled = True
        self.query: str | None = None
        # (layer, function, start, end, self seconds, query)
        self.spans: list[tuple[str, str, float, float, float, str | None]] = []
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self._lock = threading.Lock()
        self._tls = threading.local()

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[_Frame]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        frame = _Frame()
        stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            dur = t1 - t0
            if stack:
                stack[-1].child_s += dur
            with self._lock:
                self.spans.append(
                    (layer, name, t0, t1, max(dur - frame.child_s, 0.0), self.query)
                )

    def _wrap(self, fn: Callable, layer: str) -> Callable:
        name = fn.__name__
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def _wrap_lock(self, fn: Callable, layer: str) -> Callable:
        """``index_lock`` returns a context manager: time its acquisition."""
        tracer = self

        class TimedLock:
            def __init__(self, cm) -> None:
                self.cm = cm

            def __enter__(self):
                with tracer.span(layer, "index_lock.wait"):
                    return self.cm.__enter__()

            def __exit__(self, *exc):
                return self.cm.__exit__(*exc)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return TimedLock(fn(*args, **kwargs))

        return traced

    # -- installation --------------------------------------------------

    def install(self, modules: Iterable[ModuleType]) -> int:
        """Wrap every public function defined in ``modules`` and rebind
        each reference to it inside those modules; wrap the public methods
        of classes defined there. Returns the number of wrapped callables."""
        modules = list(modules)
        wrapped: dict[int, Callable] = {}
        for mod in modules:
            layer = layer_of(mod.__name__)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj) and not hasattr(obj, "evalType"):
                    wrap = self._wrap_lock if attr == "index_lock" else self._wrap
                    wrapped[id(obj)] = wrap(obj, layer)
                elif inspect.isclass(obj):
                    self._wrap_methods(obj, layer)
        for mod in modules:
            for attr, obj in list(vars(mod).items()):
                wrapper = wrapped.get(id(obj))
                if wrapper is not None and not attr.startswith("__"):
                    setattr(mod, attr, wrapper)
        return len(wrapped)

    def _wrap_methods(self, cls: type, layer: str) -> None:
        for attr, obj in list(vars(cls).items()):
            if not attr.startswith("_") and inspect.isfunction(obj):
                setattr(cls, attr, self._wrap(obj, layer))

    def install_py4j(self) -> Callable[[], None]:
        """Count py4j commands; returns the function that removes the hook."""
        client = py4j.java_gateway.GatewayClient
        original = client.send_command
        tracer = self

        def send_command(gw_self, command, retry=True, binary=False):
            if not tracer.enabled:
                return original(gw_self, command, retry, binary)
            t0 = time.perf_counter()
            try:
                return original(gw_self, command, retry, binary)
            finally:
                dt = time.perf_counter() - t0
                with tracer._lock:
                    tracer.py4j_calls += 1
                    tracer.py4j_s += dt

        client.send_command = send_command

        def remove() -> None:
            client.send_command = original

        return remove

    # -- read-out ------------------------------------------------------

    def counters(self) -> tuple[int, float]:
        with self._lock:
            return self.py4j_calls, self.py4j_s

    def spans_between(self, t0: float, t1: float) -> list[tuple]:
        with self._lock:
            return [s for s in self.spans if t0 <= s[2] and s[3] <= t1]


def layer_totals(spans: list[tuple]) -> dict[str, dict[str, float]]:
    """Per layer: ``self_s`` (sum of self times), ``calls`` and per
    function ``fn:<name>`` call counts and ``s:<name>`` wall totals."""
    out: dict[str, dict[str, float]] = {}
    for layer, name, t0, t1, self_s, _q in spans:
        agg = out.setdefault(layer, {"self_s": 0.0, "calls": 0.0})
        agg["self_s"] += self_s
        agg["calls"] += 1
        agg[f"fn:{name}"] = agg.get(f"fn:{name}", 0.0) + 1
        agg[f"s:{name}"] = agg.get(f"s:{name}", 0.0) + (t1 - t0)
    return out
