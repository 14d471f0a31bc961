"""CPU time and peak memory of the engine's processes, from procfs.

The engine runs in three kinds of process: this Python driver, the JVM it
starts, and the Python workers the JVM forks for pandas UDFs. CPU time is
what they consumed, whoever else shares the machine: time the hypervisor
gives to other guests ("steal") inflates wall time but is not charged to
these processes.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may hold spaces; fields after it are plain
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def cpu_seconds(root_pid: int) -> float:
    """User + system seconds of this process plus ``root_pid`` and all its
    descendants, including descendants that already exited and were
    reaped."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[1]), []).append(pid)
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        ticks += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
        todo.extend(kids.get(pid, []))
    own = os.times()
    return ticks / _TICK + own.user + own.system


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size of ``pid`` (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")
