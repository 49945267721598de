"""Spans and counters recorded from the benchmark's side of each layer call.

A span is (name, start, end, parent, op): `op` groups the spans of one
benchmark operation.  Spans opened with counters=True also record the Spark
jobs started inside them (SparkContext.statusTracker) and the CPU seconds
the benchmark process, the Spark JVM and its Python workers spent (user+sys
from /proc/<pid>/stat of the process tree, reaped children included).
Everything is kept in memory and written out once, when the run ends.

With tracing off, `NullTracer` stands in and records nothing, so the
end-to-end figures carry no tracing cost; the traced run's figures minus
the untraced ones are the tracing overhead (README.md).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


def stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields after ')' are fixed
    return raw[raw.rindex(")") + 2 :].split()


def children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = stat_fields(int(name))
            if f is not None:
                out.setdefault(int(f[1]), []).append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    kids = children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """user+sys seconds of pid and its descendants, reaped children included."""
    total = 0
    for p in [pid, *descendants(pid)]:
        f = stat_fields(p)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in f[11:15])
    return total / CLK_TCK


def process_start_perf() -> float:
    """This process's start time on the time.perf_counter() clock."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    started = int(stat_fields(os.getpid())[19]) / CLK_TCK
    return time.perf_counter() - (uptime - started)


def steal_s() -> float:
    """CPU seconds the hypervisor took from this machine's vCPUs so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def rss_bytes() -> int:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


class Tracer:
    def __init__(self, spark, root_pid: int):
        self._tracker = spark.sparkContext.statusTracker()
        self._root_pid = root_pid
        self._stack: list[int] = []
        self.spans: list[dict] = []

    def jobs(self) -> int:
        """Spark jobs started so far (job ids are sequential from 0)."""
        ids = self._tracker.getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    @contextmanager
    def span(self, name: str, op=None, counters: bool = False):
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
        }
        if counters:
            j0, c0 = self.jobs(), tree_cpu_s(self._root_pid)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if counters:
                rec["spark_jobs"] = self.jobs() - j0
                rec["cpu_s"] = tree_cpu_s(self._root_pid) - c0

    def total(self, name: str, key: str) -> float:
        if key == "wall_s":
            return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)
        return sum(s[key] for s in self.spans if s["name"] == name)

    def write(self, path: str, header: dict) -> None:
        """The spans, after `header` (the run's identity and its
        end-to-end figures, for the tracing-overhead comparison)."""
        with open(path, "w") as f:
            json.dump({**header, "spans": self.spans}, f)


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    @contextmanager
    def span(self, name: str, op=None, counters: bool = False):
        yield None

    def write(self, path: str, header: dict) -> None:
        pass
