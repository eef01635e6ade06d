"""Spark-free host-context probes for bench captures.

Two cheap readings (no Spark/JVM, ~1 s) that ``perfbench/run.py``
records as its ``host.*`` context metrics, so a slow run can be told
apart from a code regression:

  * steal_pct       — /proc/stat steal ticks over a short window.
  * first_touch_gbs — anon first-touch bandwidth: allocate a fresh
                      numpy buffer and write one byte per 4 KiB page
                      (forces demand-zero faults), time-bounded.
"""

from __future__ import annotations

import time


def steal_pct(window_sec: float = 0.5) -> float:
    """CPU-steal percentage over a short sampling window."""

    def read():
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(v) for v in parts[1:]]
        return sum(vals), vals[7] if len(vals) > 7 else 0

    t0, s0 = read()
    time.sleep(window_sec)
    t1, s1 = read()
    dt = t1 - t0
    return 100.0 * (s1 - s0) / dt if dt else 0.0


def first_touch_gbs(mib: int = 512, budget_sec: float = 2.0) -> float:
    """Anonymous-memory first-touch bandwidth in GB/s, TIME-BOUNDED.

    Allocates a FRESH buffer (never-touched pages) and strides one write
    per 4 KiB page, so the measurement is dominated by demand-zero page
    faults — the exact path the hypervisor's memory-reclaim regime
    throttles.  Touches proceed in 16 MiB chunks and stop once
    ``budget_sec`` elapses: in the worst observed regime (0.01 GB/s a
    full 512 MiB touch takes ~50 s, and a probe must never dominate the
    bench it is annotating.  Bandwidth is reported from the bytes whose
    pages were actually touched."""
    n = mib * 1024 * 1024
    chunk = 16 * 1024 * 1024
    try:
        import numpy as np

        buf = np.empty(n, dtype=np.uint8)

        def touch(lo, hi):
            buf[lo:hi:4096] = 1
    except ImportError:  # pragma: no cover
        buf = bytearray(n)

        def touch(lo, hi):
            for off in range(lo, hi, 4096):
                buf[off] = 1

    t0 = time.time()
    touched = 0
    for lo in range(0, n, chunk):
        touch(lo, min(lo + chunk, n))
        touched = min(lo + chunk, n)
        if time.time() - t0 > budget_sec:
            break
    el = time.time() - t0
    del buf
    return (touched / el) / 1e9 if el > 0 else float("inf")
