"""Spark-free measurement arithmetic for the benchmark.

Everything here is pure Python so it can be unit-tested without a JVM:
percentiles, the "highest percentile with >= 10 samples beyond it" tail
rule, failure accounting, run-to-run spread against a metric's bound,
span self-time arithmetic, and a process-tree resident-memory sampler.
"""

from __future__ import annotations

import os
import statistics
import threading
from dataclasses import dataclass, field

TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float] | None:
    """Latency at the highest percentile that has at least ``beyond``
    samples above it: the (beyond+1)-th largest sample. Returns
    ``(percentile, value)``, or None when there are too few samples to
    leave ``beyond`` of them in the tail."""
    n = len(values)
    if n <= beyond:
        return None
    xs = sorted(values)
    return 100.0 * (n - beyond) / n, float(xs[n - beyond - 1])


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, with quartiles as
    ``statistics.quantiles(values, n=4)`` computes them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


def worsening(old_median: float, new_median: float, better: str) -> float:
    """How much worse ``new`` is than ``old``, as a share of ``old``
    (negative when it is better)."""
    if better == "lower":
        return (new_median - old_median) / old_median
    if better == "higher":
        return (old_median - new_median) / old_median
    raise ValueError(f"better must be 'lower' or 'higher', got {better!r}")


def within_bound(old: list[float], new: list[float], better: str, bound: float) -> bool:
    """True when the median of ``new`` is not worse than the median of
    ``old`` by more than ``bound`` (a share of the old median)."""
    return worsening(median(old), median(new), better) <= bound


@dataclass
class Outcomes:
    """Operations attempted and failed. An operation fails when it raises
    or when its output check does not hold; a failed operation's latency
    is not counted as a sample."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(why or "output check failed")

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval covered by its
    children (children clipped to the parent, overlaps merged)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        ivs = sorted(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.sid, [])
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.sid]
    return out


def _ppid_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows the closing paren
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all of its descendants (Linux /proc)."""
    kids = _ppid_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
        stack.extend(kids.get(pid, []))
    return total


class PeakRss:
    """Samples the resident memory of this process tree (this Python
    process, the JVM it launched and the JVM's Python workers) on one
    background thread and keeps the peak."""

    def __init__(self, interval_s: float = 0.1):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_bytes = 0

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(me))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))
