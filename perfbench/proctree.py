"""CPU time and resident memory of this process and its descendants.

Spark in local mode runs as this Python driver, a JVM child and Python
worker grandchildren, so driver-side cost has to be summed over the
whole tree.  Everything is read from /proc: CPU as utime + stime plus
the cutime + cstime of reaped children, RSS from the `rss` field.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:  # the process ended between listing and reading
        return None
    # The command name (field 2) may contain spaces; split after it.
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """`root` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """CPU seconds of the tree under `root`."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat(pid)
        if fields is not None:
            # fields[0] is `state` (stat field 3), so utime..cstime,
            # fields 14..17 in proc(5), are 11..14 here.
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def host_ticks() -> tuple[int, int]:
    """Ticks the host's CPUs were stolen by the hypervisor, and all
    ticks, summed over CPUs since boot (the `cpu` line of /proc/stat)."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def rss_bytes(root: int) -> int:
    """Resident bytes of the tree under `root`, counting only `root` and
    descendants that have run for a second or more.

    The JVM starts short-lived helpers (`chmod` through `jspawnhelper`
    for files it writes, as the native Hadoop library is absent), and
    until such a child has exec'd it shares the JVM's memory, so its
    `rss` would count the JVM a second time."""
    with open("/proc/uptime") as fh:
        now = float(fh.read().split()[0]) * _TICK
    rss = 0
    for pid in tree_pids(root):
        fields = _stat(pid)
        # `starttime` and `rss` are stat fields 22 and 24.
        if fields is not None and (pid == root or now - int(fields[19]) >= _TICK):
            rss += int(fields[21]) * _PAGE
    return rss


class PeakRss:
    """Background sampler of the tree's resident memory.

    `reset()` starts a new window and `peak()` returns the largest
    resident size seen in it, in bytes."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self._root, self._interval = root, interval_s
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            rss = rss_bytes(self._root)
            with self._lock:
                self._peak = max(self._peak, rss)

    def reset(self) -> None:
        with self._lock:
            self._peak = rss_bytes(self._root)

    def peak(self) -> int:
        rss = rss_bytes(self._root)
        with self._lock:
            return max(self._peak, rss)
