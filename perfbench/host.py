"""Host readings taken beside the timings: a noise control, CPU steal and
memory high-water marks. Only the memory reading is gated."""

from __future__ import annotations

import os
import time

import numpy as np

COPY_BYTES = 64 * 1024 * 1024
COPY_REPEATS = 8
SPIN_LOOPS = 2_000_000


def noise() -> dict[str, float]:
    """A fixed numpy memory copy in GB/s (memory-bandwidth contention from
    other processes shows here) and a fixed pure-Python spin in seconds
    (CPU crowding shows here)."""
    src = np.ones(COPY_BYTES // 8)
    dst = np.empty_like(src)
    np.copyto(dst, src)
    t0 = time.perf_counter()
    for _ in range(COPY_REPEATS):
        np.copyto(dst, src)
    copy_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    x = 0
    for i in range(SPIN_LOOPS):
        x += i
    spin_s = time.perf_counter() - t0
    return {"memcpy_gbs": COPY_REPEATS * COPY_BYTES / copy_s / 1e9, "spin_s": spin_s}


def cpu_times() -> list[int]:
    """The host-wide CPU time counters of /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    readings: CPU crowding from other guests of the same host."""
    d = [b - a for a, b in zip(start, end)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:  # the thread ended while we listed
            pass
    return out


def _status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as fh:
            return dict(line.rstrip("\n").split(":\t", 1) for line in fh if ":\t" in line)
    except OSError:  # the process ended while we walked the tree
        return {}


def peak_rss(root: int | None = None) -> dict[str, float]:
    """Memory high-water marks (VmHWM, MB) summed per program name over
    this process and all its descendants: the benchmark's own Python
    process (including the noise control's 128 MiB of buffers), the JVM
    and the Python workers."""
    todo, out = [root or os.getpid()], {}
    while todo:
        pid = todo.pop()
        st = _status(pid)
        if "VmHWM" in st:
            name = st["Name"].strip()
            out[name] = out.get(name, 0.0) + int(st["VmHWM"].split()[0]) * 1024 / 1e6
        try:
            todo += _children(pid)
        except OSError:
            pass
    return out
