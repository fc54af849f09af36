"""Measurement helpers with no Spark dependency: order statistics, the
operation ledger behind ``attempted``/``failed``, and process-tree memory."""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback
from collections.abc import Callable
from typing import Any


def median(xs: list[float]) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that has at least
    ``beyond`` samples above it, read as the sample with exactly
    ``beyond`` larger ones.  With ``beyond`` or fewer samples no such
    percentile exists and the maximum is returned at percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return s[-1], 100.0, n
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n


class Ledger:
    """Counts operations; an operation fails when it raises or when its
    output check returns a non-empty problem string."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()  # warm-ups run operations from threads

    def run(
        self,
        name: str,
        op: Callable[[], Any],
        check: Callable[[Any], str | None] = lambda _: None,
    ) -> tuple[Any, float]:
        """(result, seconds): run ``op``, time it, then check its result
        outside the timed region.  The result is None when ``op`` raised."""
        with self._lock:
            self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = op()
        except Exception:  # an operation's failure is data, not a crash
            dt = time.perf_counter() - t0
            self._fail(name, traceback.format_exc())
            return None, dt
        dt = time.perf_counter() - t0
        try:
            problem = check(out)
        except Exception:
            problem = traceback.format_exc()
        if problem:
            self._fail(name, problem)
        return out, dt

    def _fail(self, name: str, why: str) -> None:
        with self._lock:
            self.failed += 1
        print(f"[perfbench] FAILED {name}: {why}", file=sys.stderr, flush=True)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def tree_peak_rss_mb(pid: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of ``pid`` and every living
    descendant: this Python process, the JVM and the Python workers."""
    root = os.getpid() if pid is None else pid
    total_kb = 0
    for p in [root, *descendants(root)]:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
