"""CPU seconds and RSS of a process tree, read from /proc.

The tree is the benchmark process and every descendant: the JVM that
pyspark launches and the Python workers the JVM forks. CPU time of a
child that has exited and been reaped is folded into its parent's
``cutime``/``cstime``, so summing all four fields over the live tree
loses nothing between two readings.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
#: Between fork and exec a child launched by the JVM shares the JVM's
#: address space, so processes younger than this are not counted.
MIN_AGE_S = 1.0
#: How often the sampler reads the tree's RSS.
SAMPLE_INTERVAL_S = 0.1


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses; fields resume after the last ')'.
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime + stime + cutime + cstime summed over the tree, in seconds."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            # stat fields 14-17 (1-based), i.e. 11-14 after pid and comm.
            total += sum(int(x) for x in fields[11:15])
    return total / _TICKS


def tree_rss_mb(root: int) -> float:
    """Summed RSS of the tree, skipping processes younger than
    ``MIN_AGE_S``."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if not fields or uptime - int(fields[19]) / _TICKS < MIN_AGE_S:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * _PAGE / 2**20


class RssSampler:
    """One background thread keeping the peak summed RSS of the tree."""

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    start_ticks = int(_stat_fields(os.getpid())[19])
    return uptime - start_ticks / _TICKS
