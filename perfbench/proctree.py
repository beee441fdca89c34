"""CPU time and resident memory of a process tree, read from /proc.

`psutil` is not a dependency, and `getrusage(RUSAGE_CHILDREN)` only
counts children that have been reaped, which misses Spark's Python
workers while they live. This module walks /proc instead: the tree is
the benchmark's own process, the driver JVM it launched, the PySpark
daemon and every Python worker the daemon forked.

CPU time is utime + stime of every live process in the tree, plus
cutime + cstime (children already reaped) of each, so a worker that
exits between two reads is still counted once, in its parent. Resident
memory is the stat `rss` of every process in the tree except a clone of
the JVM that has not yet exec'd the command it spawns.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") / 1024.0


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name sits in parentheses and may itself contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _tree(root: int) -> dict[int, list[str]]:
    """{pid: stat fields} of `root` and all its live descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            stats[int(name)] = fields
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree_pids(root: int) -> list[int]:
    """`root` and all its live descendants."""
    return list(_tree(root))


def tree_usage(root: int) -> tuple[float, float]:
    """(cpu seconds, resident MB) summed over the tree of `root`."""
    tree = _tree(root)
    ticks = 0
    rss_pages = 0
    for pid, fields in tree.items():
        # fields[0] is the state, fields[1] the parent; utime, stime,
        # cutime, cstime and rss are fields 14-17 and 24 of stat(5),
        # i.e. offsets 11-14 and 21 after the name
        ticks += sum(int(v) for v in fields[11:15])
        # A child of the JVM that still runs the java binary is the JVM
        # spawning a command between clone and exec (Hadoop's local file
        # system runs shell commands when its native library is
        # missing). It shares the JVM's memory; counting it would count
        # the JVM twice.
        ppid = int(fields[1])
        if ppid in tree:
            exe = _exe(pid)
            if exe is not None and exe.endswith("/java") and exe == _exe(ppid):
                continue
        rss_pages += int(fields[21])
    return ticks / _TICK, rss_pages * _PAGE_KB / 1024.0


class TreeSampler:
    """Samples the tree's resident memory on a background thread so the
    peak between `start()` and `stop()` is seen, and reads CPU time at
    both ends. One sampler per measured operation."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._peak_mb = 0.0
        self._cpu0 = 0.0
        self._own_cpu = 0.0

    def _run(self) -> None:
        t0 = time.thread_time()
        while not self._stop.wait(self.interval_s):
            _, rss = tree_usage(self.root)
            self._peak_mb = max(self._peak_mb, rss)
        # the sampler runs inside the measured tree; its own CPU is not
        # the program's
        self._own_cpu = time.thread_time() - t0

    def start(self) -> None:
        self._cpu0, self._peak_mb = tree_usage(self.root)
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> tuple[float, float]:
        """(cpu seconds the tree used since start, not counting the
        sampler's own, and peak resident MB)."""
        self._stop.set()
        self._thread.join(timeout=5.0)
        cpu1, rss = tree_usage(self.root)
        return cpu1 - self._cpu0 - self._own_cpu, max(self._peak_mb, rss)
