"""Peak resident memory of this process and all its descendants (the JVM
it launched and the JVM's Python workers), sampled from /proc on a
background thread.

Each process counts its proportional set size (``Pss`` in
``smaps_rollup``): pages shared between the Python worker daemon and the
workers it forks are split between them instead of counted once per
process, so the sum is the tree's resident memory.
"""

from __future__ import annotations

import os
import threading


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # ppid is the 2nd field after the parenthesised command name
        ppid = int(stat[stat.rfind(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process ended between listing and reading
            pass
        stack.extend(children.get(pid, ()))
    return total


class PeakSampler:
    """``with PeakSampler() as s: ...`` then ``s.peak_mb``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
