"""CPU time and peak memory of the benchmark's process tree, from /proc.

The tree is this Python process, the JVM it launched and the Python
workers the JVM forks. A process that ends is reaped by its parent in
the tree, whose children's times then hold its CPU time, so the tree's
total only grows and the difference of two reads is the CPU time spent
between them. Time the host gives other guests (steal) is not in it.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None  # ended between the listing and the read
    # The command name may hold spaces; the fields after it do not.
    return data[data.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[str]:
    """root (default: this process) and every live descendant."""
    root = str(root or os.getpid())
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                children.setdefault(st[1], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of the tree, ended children included."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5).
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident memory of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
