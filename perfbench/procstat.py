"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark worker plus every descendant: the Spark JVM it
launches and the Python workers that JVM forks. CPU of a child that has
exited and been reaped is counted through its parent's cutime/cstime, so a
tree total never loses the time of short-lived Python workers.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name; index 0 is field 3 (state)
    return s[s.rfind(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(name)
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime + stime of every live process in the tree, plus the reaped
    children each one accounts for."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(str(pid))
        if fields:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def pss_mb(pids: list[int]) -> float:
    """Summed proportional set size of ``pids`` (``/proc/<pid>/smaps_rollup``).
    PySpark's Python workers are forked from one daemon and share its pages;
    PSS splits each shared page across the processes that map it, so the sum
    is the tree's real resident footprint however many workers are alive."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1e3


class Descendants:
    """Every process seen below ``root`` while it ran. The Spark JVM and the
    PySpark daemon outlive the worker for a moment and leave its process
    group, so they are tracked by (pid, start time) and waited for here."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.seen: dict[int, str] = {}

    def sample(self) -> list[int]:
        """Record the live descendants; returns the live tree, root first."""
        pids = tree_pids(self.root)
        for pid in pids[1:]:
            fields = _stat_fields(str(pid))
            if fields:
                self.seen.setdefault(pid, fields[19])
        return pids

    def alive(self) -> list[int]:
        out = []
        for pid, start in self.seen.items():
            fields = _stat_fields(str(pid))
            if fields and fields[19] == start and fields[0] != "Z":
                out.append(pid)
        return out

    def wait(self, grace_s: float = 5.0, kill_s: float = 10.0) -> list[int]:
        """Wait ``grace_s`` for the tracked processes to exit, SIGKILL the
        rest, wait ``kill_s`` more; returns any still alive."""
        deadline = time.time() + grace_s
        while self.alive() and time.time() < deadline:
            time.sleep(0.1)
        for pid in self.alive():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.time() + kill_s
        while self.alive() and time.time() < deadline:
            time.sleep(0.1)
        return self.alive()
