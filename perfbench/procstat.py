"""CPU seconds and peak resident memory of this process and its descendants.

The benchmark's Spark workloads run in three kinds of process: this Python
driver, the JVM it launches, and the Python workers the JVM forks. Their
CPU and memory are read from ``/proc`` so that all three are counted,
including the workers Spark's own task metrics do not see.
"""

from __future__ import annotations

import os
import signal
import time

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces and parentheses; fields resume
    # after the last ')' with the state (field 3 of proc(5)) at index 0
    return text[text.rindex(")") + 2:].split()


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcessTree:
    """This process and every live descendant, sampled on demand."""

    def __init__(self):
        self.root = os.getpid()
        self._peak_kb = 0

    def _members(self) -> dict[int, list[str]]:
        fields, children = {}, {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            f = _stat_fields(name)
            if f is None:
                continue
            pid = int(name)
            fields[pid] = f
            children.setdefault(int(f[1]), []).append(pid)
        members, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in fields:
                members[pid] = fields[pid]
                todo.extend(children.get(pid, ()))
        return members

    def cpu_s(self) -> float:
        """User + system CPU of the tree since each process started.

        A child that has ended and been reaped is counted through its
        parent's ``cutime``/``cstime``, so differences of this value
        between two samples include processes that lived only between
        them. Each call also samples the tree's memory for
        ``peak_rss_mb``."""
        total = rss = 0
        for pid, f in self._members().items():
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            rss += _peak_rss_kb(pid)
        self._peak_kb = max(self._peak_kb, rss)
        return total / _TICKS

    def peak_rss_mb(self) -> float:
        """The largest sum, over the processes alive at one sample, of
        each one's peak resident set (VmHWM). Processes that ended before
        a sample do not add to it, so how many short-lived workers Spark
        forked does not change the figure."""
        self.cpu_s()
        return self._peak_kb / 1024

    def wait_for_children(self) -> None:
        """Wait until no descendant is left; kill any still alive after
        60 s, then reap them."""
        deadline = time.time() + 60
        while True:
            left = [p for p in self._members() if p != self.root]
            if not left:
                return
            if time.time() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            time.sleep(0.1)
