"""Machine-side measurements: peak resident memory of the process tree,
co-tenant steal from /proc/stat, and a fixed CPU-bound control job
(bench.py's noise precedent)."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces: fields follow the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; returns those still running."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = []
        for p in pids:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(p)
            except OSError:
                pass
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants: here the
    benchmark's Python process, the Spark JVM and the Python workers."""
    kids, total, todo = _children(), 0, [(root, None)]
    while todo:
        pid, parent_statm = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                statm = f.read()
        except OSError:
            continue
        todo.extend((k, statm) for k in kids.get(pid, []))
        # a child between vfork and exec shares its parent's memory and
        # reports the same statm: count that memory once
        if statm != parent_statm:
            total += int(statm.split()[1]) * _PAGE
    return total / 1e6


class PeakRss:
    """Samples the process tree's resident memory on a thread while
    the ``with`` block runs; ``peak_mb`` is the largest sample."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[1] - before[1]) / max(after[0] - before[0], 1)


def control_job(spark):
    """A fixed CPU-bound Spark job whose plan never changes: md5 over
    1M generated rows into a no-op sink."""
    from pyspark.sql import functions as F

    return spark.range(0, 1_000_000, 1, numPartitions=8).select(
        F.md5(F.col("id").cast("string")).alias("h")
    )


def run_control(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0
