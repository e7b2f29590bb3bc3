"""Timing shared by bench.py and the scripts: host CPU steal, a bounded
wait for a quiet host, and a min-of-N timer.

Steal is the benchmark ledger's definition (perfbench/probes.py): the
jiffies the hypervisor stole over ALL jiffies of the window, idle
included.  Dividing by user+steal instead turned 1-2 stolen jiffies of
an idle 2 s sample (~800 jiffies on 4 cores, 0.1-0.3% of CPU time) into
readings of 0.11-0.50, above the 0.10 quiet bar.  Where the kernel
counters are absent (non-Linux) steal reads 0.
"""

from __future__ import annotations

import time

from perfbench.probes import stat_ticks, steal_share


def ticks() -> tuple[int, int]:
    """(all, steal) jiffies; (0, 0) where the counters are absent."""
    try:
        return stat_ticks()
    except (OSError, IndexError, ValueError):
        return 0, 0


def steal_since(before: tuple[int, int]) -> float:
    return steal_share(before, ticks())


def wait_quiet(threshold: float = 0.10, max_wait: float = 60.0, sample_s: float = 2.0) -> float:
    """Sample steal every `sample_s` until one sample is below
    `threshold` or `max_wait` has passed; returns the last sample, so
    callers record the host state they got rather than assume one."""
    t0 = time.time()
    while True:
        b = ticks()
        time.sleep(sample_s)
        share = steal_since(b)
        if share < threshold or time.time() - t0 >= max_wait:
            return share


def timed(thunk, runs: int = 2):
    """Call `thunk` `runs` times in a row.  Returns (fastest seconds,
    first-run seconds, steal share over all runs, last return value):
    the first run pays per-query JIT/codegen, the fastest is the steady
    state."""
    b = ticks()
    times, value = [], None
    for _ in range(runs):
        t0 = time.time()
        value = thunk()
        times.append(time.time() - t0)
    return min(times), times[0], steal_since(b), value
