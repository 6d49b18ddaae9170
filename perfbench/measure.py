"""Small measurement helpers: order statistics, a process-tree RSS
sampler and an in-memory span recorder."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], higher_is_worse: bool = True) -> dict:
    """Median plus the highest percentile with at least ten samples beyond
    it (the bad side of the distribution), with the sample count. Below 11
    samples no such percentile exists and `tail_pct` is None."""
    n = len(values)
    out = {"n": n, "median": median(values), "tail_pct": None,
           "tail_value": None}
    if n >= 11:
        pct = math.floor(100 * (1 - 10 / n))
        ordered = sorted(values, reverse=not higher_is_worse)
        out["tail_pct"] = pct
        out["tail_value"] = ordered[math.ceil(n * pct / 100) - 1]
    return out


def descendants(root: int) -> list[int]:
    """Process ids of every live descendant of `root`."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _proc_table().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _proc_table() -> dict[int, int]:
    """pid -> parent pid, from /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:   # process ended between listdir and open
            continue
        # comm may hold spaces: ppid is the 2nd field after the last ')'
        table[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return table


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of every descendant of `root` (not root itself)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the summed RSS of this process's descendants (the Spark
    driver JVM and its Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Spans:
    """In-memory spans (name, start, end, parent, run id), written out
    once at the end. Times are epoch seconds, the event log's clock."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def add(self, name: str, start: float, end: float,
            parent: int | None, **attrs) -> int:
        self.rows.append({"id": len(self.rows), "name": name,
                          "start": start, "end": end, "parent": parent,
                          "run": self.run_id, **attrs})
        return len(self.rows) - 1

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def duration(self, sid: int) -> float:
        r = self.rows[sid]
        return r["end"] - r["start"]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its children cover."""
        r = self.rows[sid]
        kids = sorted((c["start"], c["end"]) for c in self.rows
                      if c["parent"] == sid)
        return (r["end"] - r["start"]) - union_length(kids, r["start"],
                                                      r["end"])


class _SpanCtx:
    def __init__(self, spans: Spans, name: str, attrs: dict):
        self.spans, self.name, self.attrs = spans, name, attrs

    def __enter__(self) -> int:
        s = self.spans
        self.sid = s.add(self.name, time.time(), float("nan"), s.current(),
                         **self.attrs)
        s._stack.append(self.sid)
        return self.sid

    def __exit__(self, *exc) -> None:
        self.spans._stack.pop()
        self.spans.rows[self.sid]["end"] = time.time()


def union_length(intervals: list[tuple[float, float]], lo: float = -math.inf,
                 hi: float = math.inf) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
