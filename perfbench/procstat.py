"""CPU time and resident memory of this process and all its descendants
(the JVM the driver launches and the Python workers the JVM forks), read
from /proc so no third-party package is needed."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> dict[int, list[str]]:
    """Stat fields of ``root`` and every descendant, by pid."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    """Pids of every live (non-zombie) descendant of ``root``."""
    return [pid for pid, st in _tree(root).items() if pid != root and st[0] != "Z"]


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) of the tree, counting exited children
    through their reaper's cumulative fields, so the total is conserved as
    workers come and go."""
    root = os.getpid() if root is None else root
    # fields after ')' start at 'state' (field 3): utime=14, stime=15,
    # cutime=16, cstime=17 -> offsets 11..14
    ticks = sum(int(s[11]) + int(s[12]) + int(s[13]) + int(s[14]) for s in _tree(root).values())
    return ticks / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    root = os.getpid() if root is None else root
    return sum(int(s[21]) for s in _tree(root).values()) * _PAGE / 2**20


class RssSampler:
    """Background thread recording the peak tree RSS between start and stop."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
