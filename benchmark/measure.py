"""Small measurement helpers: medians, tails, spans and a /proc RSS
sampler for the Spark JVM and its Python workers."""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time

RSS_INTERVAL_S = 0.25  # seconds between two RSS samples
RSS_TREE_EVERY = 4  # samples between two re-reads of the process tree


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float]:
    """``(value, percentile)`` of the highest percentile with at least ten
    samples beyond it.  With fewer than eleven samples no such percentile
    exists; the maximum is returned with percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    if n < 11:
        return float(xs[-1]), 100.0
    k = n - 11  # xs[k] has exactly ten samples above it
    return float(xs[k]), 100.0 * (k + 1) / n


class Spans:
    """Wall-clock spans around layer calls.  Each span also tags the
    Spark jobs it starts with a job group named after its layer, so the
    event-log fold can attribute executor work to it."""

    def __init__(self):
        self.items: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, spark=None, desc: str = ""):
        if spark is not None:
            spark.sparkContext.setJobGroup(name, desc or name)
        rec = {"name": name, "desc": desc, "start_ms": time.time() * 1e3}
        self.items.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1e3


def _proc_stats() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, per pid."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        out[int(entry)] = stat[stat.rindex(")") + 2 :].split()
    return out


def _descendants(stats: dict[int, list[str]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    pids, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the Spark JVM and its Python workers, reaped children included).
    Time the hypervisor steals from the box is not in it."""
    stats = _proc_stats()
    me = os.getpid()
    total = 0
    for pid in [me, *_descendants(stats, me)]:
        f = stats.get(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def box_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this box since boot
    (``steal`` in /proc/stat); kept in the report to explain slow runs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak summed RSS of every descendant of this process (the Spark JVM
    and the Python workers it forks), sampled from /proc every
    ``RSS_INTERVAL_S``.  The process tree is re-read every
    ``RSS_TREE_EVERY`` samples; in between only the known descendants'
    ``statm`` files are read, to keep the sampler's share of the
    interpreter small."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._pids: list[int] = []

    def _refresh_tree(self) -> None:
        self._pids = _descendants(_proc_stats(), os.getpid())

    def _rss(self) -> int:
        total = 0
        for pid in self._pids:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _loop(self):
        i = 0
        while not self._stop.is_set():
            if i % RSS_TREE_EVERY == 0:
                self._refresh_tree()
            self.peak_bytes = max(self.peak_bytes, self._rss())
            i += 1
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
