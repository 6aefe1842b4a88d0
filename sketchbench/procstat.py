"""CPU and resident memory of this process and its descendants only.

The driver's tree is the Python driver, the Spark JVM it launches, the
PySpark daemon and its forked workers.  Each is read from
``/proc/<pid>/stat``; a child that has exited and
been reaped still counts through its parent's ``cutime``/``cstime``.
Whole-machine ``/proc/stat`` is never used: on a shared host it counts every
other tenant's CPU too.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may contain spaces and parentheses; fields resume
    # after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_rss_mb(root: int) -> float:
    """Resident memory of the tree.  A child caught between a vfork-style
    spawn and its exec (the JVM starts helpers such as ``chmod`` that way)
    shares its parent's address space and would count it twice; such a child
    reports exactly its parent's virtual size, and is skipped."""
    stats = {}
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # ppid, vsize (bytes), rss (pages): stat fields 4, 23, 24
            stats[pid] = (int(fields[1]), int(fields[20]), int(fields[21]))
    pages = 0
    for pid, (ppid, vsize, rss) in stats.items():
        parent = stats.get(ppid)
        if parent is not None and parent[1] == vsize:
            continue
        pages += rss
    return pages * _PAGE / 1e6


class RssSampler:
    """Background sampler of the tree's total RSS.  ``disarm()`` returns the
    highest total seen since the last ``arm()``."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self._root = root
        self._interval = interval_s
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0.0
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            if self._armed.is_set():
                rss = tree_rss_mb(self._root)
                with self._lock:
                    self._peak = max(self._peak, rss)

    def arm(self) -> None:
        with self._lock:
            self._peak = tree_rss_mb(self._root)
        self._armed.set()

    def disarm(self) -> float:
        self._armed.clear()
        rss = tree_rss_mb(self._root)
        with self._lock:
            self._peak = max(self._peak, rss)
            return self._peak

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
