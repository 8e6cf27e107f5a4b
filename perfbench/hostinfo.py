"""Host-window evidence and process memory for one benchmark run.

A shared host can swing several-fold between windows on identical
code, so every run records its own evidence next to its figures: a
fixed single-thread sha256 probe before and after the run (pure-CPU
speed, immune to Spark's own load) and the ``/proc/stat`` CPU mix
across the run (degraded windows show raised sys/steal). Runs are
never discarded on this evidence; it is only reported.
"""

from __future__ import annotations

import hashlib
import os
import time

_CPU_FIELDS = ["user", "nice", "sys", "idle", "iow", "irq", "sirq", "steal"]


def cpu_probe_mbps(iters: int = 2000) -> float:
    """Single-thread sha256 rate over 128 MiB of fixed bytes, MB/s."""
    blk = b"\x5a" * 65536
    h = hashlib.sha256()
    t0 = time.perf_counter()
    for _ in range(iters):
        h.update(blk)
    return iters * 65536 / (time.perf_counter() - t0) / 1e6


def cpu_stat() -> list[int]:
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:9]))


def cpu_mix(before: list[int], after: list[int]) -> dict[str, float]:
    """Percent of CPU time per state between two ``cpu_stat`` reads."""
    d = [b - a for a, b in zip(before, after)]
    total = max(sum(d), 1)
    return {k: 100.0 * v / total for k, v in zip(_CPU_FIELDS, d)}


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


def mem_available_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0 / 1024.0
    return 0.0


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


class HostWindow:
    """Probe + CPU mix bracketing one run."""

    def __init__(self) -> None:
        self.probes = [cpu_probe_mbps()]
        self._stat0 = cpu_stat()

    def close(self) -> dict:
        self.probes.append(cpu_probe_mbps())
        return {
            "cpu_probe_mbps": self.probes,
            "cpu_mix_pct": cpu_mix(self._stat0, cpu_stat()),
            "mem_available_gb": mem_available_gb(),
        }
