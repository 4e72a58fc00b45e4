"""CPU time and memory of this benchmark's own process tree.

The tree is this Python process, the JVM it launches and the JVM's
Python daemon and workers. CPU comes from ``/proc/<pid>/stat``
(utime + stime of each live member plus cutime + cstime, which hold the
time of members already reaped), never from the host-wide
``/proc/stat``: neighbours and hypervisor steal cannot inflate it.
Steal is still read host-wide, to be disclosed beside the CPU figure.
"""

from __future__ import annotations

import os
import threading
import time

HZ = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(path: str) -> list[str] | None:
    """Fields of one ``/proc/<pid>/stat`` after the ``(comm)`` field,
    or None if the process is gone. ``comm`` may hold spaces and
    parentheses, so the split is at the LAST ``)``."""
    try:
        with open(path) as f:
            text = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    return text[text.rfind(")") + 2:].split()


def tree_stats(root_pid: int | None = None, proc: str = "/proc") -> dict[int, list[str]]:
    """{pid: stat fields} of ``root_pid`` and all its descendants.
    Field indices follow proc(5) minus 3: 0 state, 1 ppid, 11 utime,
    12 stime, 13 cutime, 14 cstime, 21 rss."""
    root_pid = os.getpid() if root_pid is None else root_pid
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        fields = _read_stat(os.path.join(proc, name, "stat"))
        if fields is None:
            continue
        pid = int(name)
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    out: dict[int, list[str]] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int | None = None, proc: str = "/proc") -> float:
    """CPU seconds (user + system) used so far by the tree, including
    members that have exited and been reaped by a member."""
    ticks = 0
    for f in tree_stats(root_pid, proc).values():
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / HZ


def tree_rss_bytes(root_pid: int | None = None, proc: str = "/proc") -> int:
    return sum(int(f[21]) for f in tree_stats(root_pid, proc).values()) * PAGE


def host_steal_ticks(proc: str = "/proc") -> tuple[int, int]:
    """(steal, total) jiffies from the host-wide cpu line."""
    with open(os.path.join(proc, "stat")) as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v[:8])


class Window:
    """One measured interval: wall seconds, tree CPU seconds, steal %."""

    def __init__(self):
        self.t0 = time.monotonic()
        self.c0 = tree_cpu_s()
        self.s0, self.j0 = host_steal_ticks()

    def stop(self) -> dict:
        s1, j1 = host_steal_ticks()
        return {
            "wall_s": time.monotonic() - self.t0,
            "cpu_s": tree_cpu_s() - self.c0,
            "steal_pct": 100.0 * (s1 - self.s0) / max(j1 - self.j0, 1),
        }


class RssSampler:
    """Samples the tree's resident set every ``interval`` seconds on a
    daemon thread; ``peak`` is the largest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
