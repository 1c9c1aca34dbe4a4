"""Pure helpers of the benchmark: the closed loop, the end-to-end
statistics and the ``/proc`` readers. Nothing here imports Spark, so the
benchmark's own tests run without a JVM."""

from __future__ import annotations

import math
import os
import statistics
import time
import traceback
from collections.abc import Callable, Sequence
from dataclasses import dataclass


@dataclass
class Sample:
    """One timed op: its type, build and execute seconds, and whether
    its output is known to be correct."""

    op: str
    build_s: float
    exec_s: float
    ok: bool
    error: str = ""

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


# every op type is timed at least this often in a run, so that its
# median is the middle sample, not the mean of a slow and a fast one
MIN_CYCLES = 3


def closed_loop(
    ops: Sequence[tuple[str, Callable[[], tuple[float, float, bool]]]],
    seconds: float,
    after_op: Callable[[Sample], None] | None = None,
    clock: Callable[[], float] = time.perf_counter,
) -> tuple[list[Sample], float]:
    """Run ``ops`` one at a time in their fixed cyclic order, whole
    cycles only, until at least ``seconds`` of wall time are used and at
    least ``MIN_CYCLES`` cycles are done.

    Each op returns ``(build_s, exec_s, ok)``. An op that raises is a
    failed sample and the loop goes on. Whole cycles keep the mix of op
    types the same in every run. Returns the samples and the timed wall
    seconds; ``after_op`` runs outside the timed window."""
    samples: list[Sample] = []
    spent = 0.0
    cycles = 0
    while spent < seconds or cycles < MIN_CYCLES:
        cycles += 1
        for name, run in ops:
            t0 = clock()
            error = ""
            try:
                build_s, exec_s, ok = run()
            except Exception as e:  # noqa: BLE001 - a failing op is a data point
                traceback.print_exc()
                build_s, exec_s, ok = None, 0.0, False
                error = f"{type(e).__name__}: {e}"[:500]
            dt = clock() - t0
            spent += dt
            sample = Sample(name, dt if build_s is None else build_s, exec_s, ok, error)
            samples.append(sample)
            if after_op is not None:
                after_op(sample)
    return samples, spent


def per_type_medians(samples: Sequence[Sample]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for s in samples:
        by.setdefault(s.op, []).append(s.latency_s)
    return {op: statistics.median(v) for op, v in sorted(by.items())}


def end_to_end(
    samples: Sequence[Sample], window_s: float, cpu_s: float
) -> dict[str, float]:
    """The loop's end-to-end figures from its samples (set-up, first
    pass and memory are measured outside the loop). Latencies are those
    of the verified ops, or of all ops when none was verified."""
    ok = [s for s in samples if s.ok]
    med = per_type_medians(ok or samples)
    return {
        "ops_per_s": len(ok) / window_s,
        "cpu_s_per_op": cpu_s / max(len(ok), 1),
        "error_rate": (len(samples) - len(ok)) / len(samples),
        "latency_p50_geomean_s": math.exp(
            statistics.fmean(math.log(m) for m in med.values())),
        "latency_p90_over_p50": statistics.quantiles(
            [s.latency_s / med[s.op] for s in ok or samples], n=10, method="inclusive")[8],
    }


# -- /proc readers ----------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields resume after its ')'
        return f.read().rsplit(")", 1)[1].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parent[int(entry)] = int(_stat_fields(int(entry))[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while listing
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def cpu_seconds(pids: Sequence[int]) -> float:
    """utime+stime+cutime+cstime summed over ``pids``."""
    total = 0
    for pid in pids:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def status_mb(pid: int, field: str) -> float:
    """A ``/proc/<pid>/status`` memory field (``VmHWM``, ``VmRSS``) in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]
