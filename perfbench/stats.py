"""Summary statistics and process-tree memory sampling.

Timings are reported as a median with quartiles and a sample count, and a
tail at the highest percentile that still has at least ``MIN_BEYOND``
samples above it.
"""

from __future__ import annotations

import os
import statistics
import threading

MIN_BEYOND = 10
SAMPLE_S = 0.2        # memory sampling interval
REFRESH_SAMPLES = 5   # samples between walks of the process tree


def tail(xs: list[float]) -> dict:
    """The highest percentile that has at least MIN_BEYOND samples above
    it: the (n - MIN_BEYOND)-th smallest of n samples, at percentile
    100 * (n - MIN_BEYOND) / n. With n <= MIN_BEYOND no percentile
    qualifies; the maximum is reported and ``qualified`` is false."""
    s = sorted(xs)
    rank = len(s) - MIN_BEYOND
    if rank < 1:
        return {"value": s[-1], "percentile": 100.0, "beyond": 0,
                "n": len(s), "qualified": False}
    return {"value": s[rank - 1], "percentile": 100.0 * rank / len(s),
            "beyond": MIN_BEYOND, "n": len(s), "qualified": True}


def summary(xs: list[float]) -> dict:
    """Median, quartiles and sample count of two or more samples."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": len(xs)}


def _stat_fields(pid: int | str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (which may
    contain spaces): state, ppid, ..."""
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    return stat[stat.rindex(")") + 2:].split()


def children(pid: int) -> list[int]:
    """Child processes of ``pid``: the children lists of its threads."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:  # the process exited
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(map(int, f.read().split()))
        except OSError:
            continue
    return out


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, found by walking down from it, so
    the cost grows with this process tree, not with the machine's."""
    out, todo = [], children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children(pid))
    return out


def running(pid: int) -> bool:
    """True until the process has exited (a zombie counts as exited)."""
    try:
        return _stat_fields(pid)[0] != "Z"
    except OSError:
        return False


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(pids: list[int]) -> int:
    """Resident bytes of ``pids``, counted as proportional set size: pages
    shared between processes (a forked child of the JVM, forked Python
    workers) count once in the sum."""
    total = 0
    for pid in pids:
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process exited
            continue
    return total


class RssSampler:
    """Samples the resident memory of this process tree on a thread, and
    with it ``heap_used()`` (bytes) if given, and keeps the peaks since the
    last ``take_peak``. Use as a context manager.

    The tree is walked again only every REFRESH_SAMPLES samples: the JVM
    and the Python worker daemon live as long as the session, and reused
    workers outlive many tasks, so the sampling thread spends its time
    reading the memory figures rather than finding processes."""

    def __init__(self, heap_used=None):
        self.heap_used = heap_used
        self._peak = self._heap_peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me, pids, n = os.getpid(), [], 0
        while True:
            if n % REFRESH_SAMPLES == 0:
                pids = [me, *descendants(me)]
            n += 1
            rss = tree_rss_bytes(pids)
            heap = self.heap_used() if self.heap_used else 0
            with self._lock:
                self._peak = max(self._peak, rss)
                self._heap_peak = max(self._heap_peak, heap)
            if self._stop.wait(SAMPLE_S):
                return

    def take_peak(self) -> tuple[int, int]:
        """(resident, heap_used) peak bytes since the previous call; starts
        a new window."""
        with self._lock:
            peaks = self._peak, self._heap_peak
            self._peak = self._heap_peak = 0
        return peaks

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
