"""CPU time and peak resident memory of this process and everything it
started (the Spark JVM, the Python daemon and its UDF workers), read
from /proc. No sampling thread: CPU comes from the kernel's counters
and the peak from each process's VmHWM high-water mark."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    return s[s.rindex(")") + 2:].split()  # fields from `state` on


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s(pids: list[int] | None = None) -> float:
    """user+sys seconds of the tree, including exited children that a
    process in the tree has reaped (cutime/cstime)."""
    total = 0
    for pid in pids or tree():
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def reset_peak(pids: list[int] | None = None) -> None:
    """Restart every process's VmHWM at its current RSS."""
    for pid in pids or tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int] | None = None) -> float:
    """Sum of per-process VmHWM since :func:`reset_peak` — an upper
    bound on the tree's peak (the processes need not peak together)."""
    kb = 0
    for pid in pids or tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0
