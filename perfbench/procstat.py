"""CPU time and resident memory of this process tree, read from /proc.

The tree is the driver Python process, the JVM it launched and the
PySpark worker processes under the JVM. Linux only.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s(pids: list[int]) -> float:
    """User+system CPU of the given processes, including their reaped
    children (a reaped child's time lives only in its parent's
    cutime/cstime, a live child's only in its own fields, so summing
    over a tree counts nothing twice)."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_cpu_s(root: int) -> float:
    return cpu_s(descendants(root))


def peak_rss_mb(root: int) -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def process_age_s() -> float:
    """Seconds since this process started (interpreter start included)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat(os.getpid())[19]) / _TICK
