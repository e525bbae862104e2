"""Pure helpers shared by the workloads: percentiles, failure accounting and
the machine-context readers. Nothing here imports Spark."""

from __future__ import annotations

import math
import os
import statistics

TAIL_SAMPLES = 10


def tail_percentile(n: int, wanted: float, tail: int = TAIL_SAMPLES) -> float | None:
    """The percentile to report from ``n`` samples: ``wanted`` when at least
    ``tail`` samples lie beyond it, else None.

    A sample lies beyond percentile p when its rank exceeds ``ceil(p/100·n)``
    (the nearest-rank definition used by :func:`percentile`).
    """
    if n <= 0:
        return None
    beyond = n - math.ceil(wanted / 100.0 * n)
    return wanted if beyond >= tail else None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def median(values) -> float:
    return statistics.median(values)


class Outcomes:
    """Counts operations attempted and failed; a wrong answer is a failure.

    ``failed_share`` is failed / attempted, where an operation that errors,
    returns a wrong result, or is refused counts once as failed.
    """

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 50:
                self.problems.append(what)
        return ok

    @property
    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


# ---------------------------------------------------------------- /proc readers


def vm_hwm_kb(pid: int) -> int:
    """High-water resident set (``VmHWM``) of one process, in KiB; 0 when
    the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def tree_hwm_mb(pid: int) -> float:
    """VmHWM of a process plus its direct children (the Python driver and its
    JVM), in MB."""
    kb = vm_hwm_kb(pid) + sum(vm_hwm_kb(c) for c in child_pids(pid))
    return kb / 1024.0


def cpu_times() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted in user/nice
    return sum(fields[:8]), steal


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[0] - start[0]
    return (end[1] - start[1]) / total if total > 0 else 0.0
