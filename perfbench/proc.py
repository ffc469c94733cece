"""Memory use of the benchmark's process tree (this process, the JVM it
launches and the JVM's Python workers), read from /proc."""

from __future__ import annotations

import os
import threading


def tree_pids(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        p = todo.pop()
        pids.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return pids


def tree_pss_kb(root: int | None = None) -> int:
    """Resident memory of the tree as proportional set size, so pages the
    forked Python workers share with their daemon count once."""
    total = 0
    for p in tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


class PeakMemory:
    """Samples :func:`tree_pss_kb` on a thread while the context is open."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.peak_kb = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_pss_kb())
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
