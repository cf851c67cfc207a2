"""Pure measurement helpers: order statistics, span arithmetic and the
/proc readers for the driver, JVM and Python-worker process tree.

Nothing here imports Spark, so the tests exercise it without a JVM.
"""

from __future__ import annotations

import os
import statistics
import threading
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """Latency at the highest percentile that still has at least
    `min_beyond` samples strictly above its rank.

    Returns (percentile level in %, value), or None when fewer than
    2 * min_beyond samples exist (too few for any tail to be more than
    the median)."""
    n = len(values)
    if n < 2 * min_beyond:
        return None
    ordered = sorted(values)
    k = n - min_beyond - 1  # 0-based rank; ordered[k+1:] has min_beyond samples
    return round(100.0 * (k + 1) / n, 2), ordered[k]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None
    kind: str = "op"
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return max(0.0, self.end - self.start)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted(
        (max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return [
        sp.duration - union_length(children.get(i, []), sp.start, sp.end)
        for i, sp in enumerate(spans)
    ]


# ------------------------------------------------------------------ /proc


def parse_stat(text: str) -> tuple[str, int, int, int]:
    """(command, ppid, own cpu ticks, reaped-children cpu ticks) from
    /proc/<pid>/stat.

    The command name is parenthesised and may contain spaces or
    parentheses, so fields are counted from the last ')'."""
    comm = text[text.index("(") + 1 : text.rindex(")")]
    rest = text[text.rindex(")") + 2 :].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14..17
    ppid = int(rest[1])
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return comm, ppid, utime + stime, cutime + cstime


def parse_status_kb(text: str, key: str) -> int:
    """A `kB` field such as VmRSS from /proc/<pid>/status or Pss from
    /proc/<pid>/smaps_rollup (0 if absent, as for kernel threads)."""
    for line in text.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # process exited between listing and reading
        return None


def process_tree(root: int, proc: str = "/proc") -> list[int]:
    """`root` and every live descendant."""
    parent: dict[int, int] = {}
    for entry in os.listdir(proc):
        if entry.isdigit():
            text = _read(f"{proc}/{entry}/stat")
            if text:
                parent[int(entry)] = parse_stat(text)[1]
    tree, frontier = [root], [root]
    while frontier:
        front = set(frontier)
        frontier = [p for p, pp in parent.items() if pp in front]
        tree.extend(frontier)
    return tree


@dataclass
class TreeSample:
    cpu_s: float  # user+sys of live processes plus what they reaped
    worker_cpu_s: float  # the part spent in Python workers
    pids: int


def sample_tree(root: int, proc: str = "/proc") -> TreeSample:
    """CPU of the driver, its JVM and the JVM's Python workers (every
    descendant that is neither the driver nor `java`)."""
    ticks, worker_ticks, n = 0, 0, 0
    for pid in process_tree(root, proc):
        stat = _read(f"{proc}/{pid}/stat")
        if stat is None:
            continue
        comm, _, own, reaped = parse_stat(stat)
        ticks += own + reaped
        if pid != root and comm != "java":
            worker_ticks += own + reaped
        n += 1
    return TreeSample(ticks / CLK_TCK, worker_ticks / CLK_TCK, n)


def tree_pss_mb(root: int, proc: str = "/proc") -> float:
    """Resident memory of `root` and its live descendants now, as the
    sum of their proportional set sizes: a page that forked workers
    share counts once in the total, not once per process."""
    kb = 0
    for pid in process_tree(root, proc):
        text = _read(f"{proc}/{pid}/smaps_rollup")
        if text is not None:
            kb += parse_status_kb(text, "Pss")
    return kb / 1024.0


class PeakMemory:
    """Largest `tree_pss_mb` seen while the block is open, sampled every
    `interval` seconds on a background thread (plus once at each end).
    Workers that start and exit inside the region are seen while they
    live; peaks of different processes only add up when they coincide."""

    def __init__(self, root: int, interval: float = 0.25, proc: str = "/proc"):
        self.root, self.interval, self.proc = root, interval, proc
        self.peak_mb, self.samples = 0.0, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root, self.proc))
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakMemory":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
