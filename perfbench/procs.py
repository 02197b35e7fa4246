"""Process-level probes: peak resident memory of the benchmark's process
tree (Python driver, Spark driver JVM, Python workers) sampled from /proc,
and a clean shutdown of the JVM the session started.

Memory is summed as PSS (proportional set size): Python workers are forked
from one daemon and share most of its pages, which plain RSS would count
once per worker."""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    """Summed PSS of `root` and all its descendants."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _pss_bytes(pid)
        todo.extend(kids.get(pid, ()))
    return total


class PeakMemory:
    """Samples the process tree every `interval` seconds on a daemon thread
    until `stop()`; `peak` holds the largest summed PSS seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-memory", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_pss_bytes(me))
            if self._done.wait(self.interval):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        self._done.set()
        self._thread.join(timeout=10)


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait for the JVM process (and with it the
    Python workers) to exit; kill it if it does not."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait(timeout=timeout)
