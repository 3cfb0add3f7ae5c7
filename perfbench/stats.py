"""Statistics and process-accounting helpers for the benchmark.

Latency percentiles follow one rule: a percentile is reported only when
at least ``MIN_TAIL`` samples lie beyond it, so the p90 of fewer than 100
samples is withheld rather than read off a handful of points.

CPU and memory cover both halves of a PySpark driver: the Python process
and the JVM it drives (with any processes the JVM starts, such as Python
workers). The Python process's own counters never include the JVM, so the
JVM side is read from ``/proc/<pid>``.
"""

from __future__ import annotations

import math
import os
import statistics
from typing import List, Optional, Sequence

MIN_TAIL = 10
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def percentile(samples: Sequence[float], q: float,
               min_tail: int = MIN_TAIL) -> Optional[float]:
    """The ``q`` quantile (0 < q < 1) of ``samples``, or None when fewer
    than ``min_tail`` samples lie above it (n * (1 - q) < min_tail).

    Nearest-rank on the sorted samples: the value at rank ceil(q * n)."""
    n = len(samples)
    if n == 0 or n * (1 - q) < min_tail - 1e-9:
        return None
    ordered = sorted(samples)
    return ordered[max(0, math.ceil(q * n) - 1)]


def median(samples: Sequence[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return statistics.median(samples)


def error_ratio(attempted: int, failed: int, wrong: int) -> float:
    """Ops that raised (``failed``) or returned a wrong result
    (``wrong``) over ops attempted. An op counts once even if it both
    raised and was checked, so callers pass disjoint counts."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if failed < 0 or wrong < 0 or failed + wrong > attempted:
        raise ValueError(
            f"bad counts: {failed} failed + {wrong} wrong of {attempted}")
    return (failed + wrong) / attempted


def parse_stat_cpu_ticks(stat_text: str) -> int:
    """utime + stime + cutime + cstime from a /proc/<pid>/stat line.
    The command name (field 2) may hold spaces or parentheses, so fields
    are counted from the last ')'."""
    fields = stat_text.rsplit(")", 1)[1].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    return sum(int(f) for f in fields[11:15])


def parse_vmhwm_kb(status_text: str) -> int:
    """Peak resident set size (VmHWM, kB) from /proc/<pid>/status; 0 for
    a process without memory (a zombie awaiting its parent)."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def process_tree(pid: int) -> List[int]:
    """``pid`` and every live descendant, read from /proc children lists."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
            except FileNotFoundError:
                pass
    return out


def _read(path: str) -> Optional[str]:
    try:
        with open(path) as f:
            return f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None


def tree_cpu_seconds(pid: int) -> float:
    """CPU seconds used by ``pid`` and its live descendants (plus the
    children they have already reaped)."""
    ticks = 0
    for p in process_tree(pid):
        text = _read(f"/proc/{p}/stat")
        if text is not None:
            ticks += parse_stat_cpu_ticks(text)
    return ticks / CLOCK_TICKS


def tree_peak_rss_kb(pid: int) -> int:
    """Sum of VmHWM over ``pid`` and its live descendants."""
    total = 0
    for p in process_tree(pid):
        text = _read(f"/proc/{p}/status")
        if text is not None:
            total += parse_vmhwm_kb(text)
    return total


def self_cpu_seconds() -> float:
    """CPU seconds of this Python process alone (its threads included)."""
    t = os.times()
    return t.user + t.system


def cpu_ms_per_op(driver_cpu_s: float, jvm_cpu_s: float, ops: int) -> float:
    """Driver plus JVM CPU over a window, in ms per completed op."""
    if ops < 1:
        raise ValueError("no ops completed")
    return (driver_cpu_s + jvm_cpu_s) * 1000.0 / ops


def peak_rss_mb(driver_kb: int, jvm_kb: int) -> float:
    """Driver VmHWM plus JVM VmHWM, in MiB."""
    return (driver_kb + jvm_kb) / 1024.0
