"""Process-tree and machine counters read from ``/proc``.

The tree is the benchmark's Spark client process, the JVM it launches and
the Python workers the JVM forks. CPU of a descendant that has already
exited is kept: its reaped time shows in its parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_s(root: int, python_workers_only: bool = False) -> float:
    """User + system CPU seconds of the tree, reaped children included.
    With ``python_workers_only``, only the Python worker processes the JVM
    forks (``pyspark.daemon`` and its forked workers)."""
    total = 0
    for pid in tree(root):
        if python_workers_only and "pyspark.daemon" not in _cmdline(pid):
            continue
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / TICK


def peak_rss_mb(root: int) -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def box() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies of the whole machine."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = v[:8]
    return user + nice + system + irq + softirq, steal, sum(v[:8])
