"""Process-tree helpers: peak RSS sampling and a clean Spark shutdown.

The benchmark's memory is the summed RSS of its whole process tree — the
benchmark's own Python process, the Spark JVM it launches and the JVM's Python
workers — read from ``/proc``.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed /proc
        # the command name may hold spaces and parentheses; ppid is the
        # second field after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the summed RSS of this process's tree until stopped."""

    def __init__(self, interval_s: float = 0.5):
        self.peak = tree_rss_bytes(os.getpid())
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self._interval):
            self.peak = max(self.peak, tree_rss_bytes(me))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


def stop_spark_and_wait(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end its JVM and wait until every process the
    session started (JVM, Python daemon and workers) has exited.

    The JVM exits when its stdin closes; its Python workers exit when the
    JVM does, but are re-parented away from us first, so their pids are
    taken before the stop.
    """
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None
    for pid in _wait_gone(started, timeout_s):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(started, 5.0)
