"""CPU-time helpers of the benchmark: another process's CPU clock and the
canary. Run with ``python3 -m pytest perfbench/``."""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import Canary, _cpu_clock  # noqa: E402


def test_cpu_clock_reads_another_process():
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"
    child = subprocess.Popen([sys.executable, "-c", busy + "time.sleep(2)"])
    try:
        time.sleep(1.0)  # past the busy loop, into the sleep
        cpu = time.clock_gettime(_cpu_clock(child.pid))
    finally:
        child.kill()
        child.wait(timeout=10)
    # the busy loop and the interpreter's start, but not the sleep
    assert 0.3 <= cpu < 1.0


def test_canary_records_one_sample_per_measure():
    canary = Canary()
    canary.measure()
    canary.measure()
    assert len(canary.samples) == 2
    assert all(s > 0 for s in canary.samples)
    assert canary.mean_s() == sum(canary.samples) / 2
