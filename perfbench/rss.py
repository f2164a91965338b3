"""Peak resident memory of a process tree, sampled from /proc.

The benchmark's tree is the driver Python process, the Spark JVM it
launches and the JVM's Python workers; their summed RSS is what the host
must hold. One background thread samples it; ``peak_mb`` is the largest
sum seen.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict:
    """pid -> (ppid, rss_bytes) for every readable process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss_pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited between listdir and open
        # comm may contain spaces and parentheses: split after the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        out[int(name)] = (ppid, rss_pages * _PAGE)
    return out


def tree_pids(ppid_of: dict, root: int) -> set:
    """``root`` and all of its descendants under the pid -> ppid map."""
    children: dict = {}
    for pid, ppid in ppid_of.items():
        children.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        todo.extend(children.get(pid, ()))
    return seen


def tree_rss_bytes(root: int) -> int:
    table = _proc_table()
    pids = tree_pids({p: v[0] for p, v in table.items()}, root)
    return sum(table[p][1] for p in pids if p in table)


class TreeRssSampler:
    """Samples the summed RSS of ``root``'s process tree every
    ``interval`` seconds on one daemon thread until ``stop()``."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = root if root is not None else os.getpid()
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "TreeRssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stops the thread, takes a last sample; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak_mb

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
