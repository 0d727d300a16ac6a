"""Unit tests of the span wrappers (no Spark needed).

    python3 -m pytest perfbench/test_tracing.py -q
"""

from __future__ import annotations

import os
import sys
import time
import types

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import Tracer, layer_of, layer_totals  # noqa: E402


def _module(name: str, source: str) -> types.ModuleType:
    mod = types.ModuleType(name)
    exec(compile(source, name, "exec"), mod.__dict__)
    return mod


def test_layer_names_follow_the_package_modules():
    assert layer_of("sdc_spark.operators.dedup") == "operators.dedup"
    assert layer_of("sdc_spark.sources.readers") == "sources.readers"
    assert layer_of("sdc_spark.frame.core") == "frame"
    assert layer_of("sdc_spark.materialize") == "materialize"


def test_self_time_excludes_child_spans_and_rebinds_internal_calls():
    outer = _module(
        "sdc_spark.operators.outer",
        "import time\n"
        "def step():\n    time.sleep(0.05)\n"
        "def run():\n    time.sleep(0.02)\n    step()\n    step()\n",
    )
    tracer = Tracer()
    assert tracer.install([outer]) == 2
    outer.run()
    totals = layer_totals(tracer.spans)["operators.outer"]
    assert totals["fn:run"] == 1 and totals["fn:step"] == 2
    # run's own sleep is its only self time; the steps are children
    assert totals["s:run"] >= 0.12
    assert 0.12 <= totals["self_s"] < totals["s:run"] + 0.02
    run_self = [s[4] for s in tracer.spans if s[1] == "run"][0]
    assert 0.015 <= run_self < 0.05


def test_disabled_tracer_records_nothing():
    mod = _module("sdc_spark.functions.f", "def f(x):\n    return x + 1\n")
    tracer = Tracer()
    tracer.install([mod])
    tracer.enabled = False
    assert mod.f(1) == 2
    assert tracer.spans == []


def test_lock_wrapper_times_acquisition_only():
    import contextlib

    src = (
        "import contextlib, time\n"
        "@contextlib.contextmanager\n"
        "def index_lock(root):\n    time.sleep(0.03)\n    yield\n"
    )
    mod = _module("sdc_spark.operators.maintenance", src)
    tracer = Tracer()
    tracer.install([mod])
    t0 = time.perf_counter()
    with mod.index_lock("/x"):
        time.sleep(0.05)
    assert time.perf_counter() - t0 >= 0.08
    (span,) = tracer.spans
    assert span[1] == "index_lock.wait" and 0.025 <= span[3] - span[2] < 0.05
    assert isinstance(mod.index_lock("/x"), contextlib.AbstractContextManager)
