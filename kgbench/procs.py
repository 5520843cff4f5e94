"""Process-tree CPU and memory, and host noise, read from /proc (Linux).

The tree is this Python driver, the JVM it launched, and the JVM's
Python workers. CPU of a child that already exited and was reaped is
in its parent's cutime/cstime, so summing utime+stime+cutime+cstime
over the live tree counts the whole tree's CPU since it started.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after its ')' splits cleanly
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> dict[int, list[str]]:
    """{pid: stat fields (from field 3 on)} of `root` and all its descendants."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                stats[int(name)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user+system, reaped children included) of this
    process's tree."""
    # fields 14-17 of /proc/<pid>/stat, counted from the one after comm
    ticks = sum(sum(int(v) for v in f[11:15]) for f in _tree(os.getpid()).values())
    return ticks / _TICK


def tree_rss() -> tuple[float, int]:
    """(summed resident set size in MB, number of processes) of this
    process's tree."""
    tree = _tree(os.getpid())
    # A child the JVM spawns (posix_spawn uses vfork) shares the JVM's
    # memory until it execs, and its stat shows the JVM's vsize and rss
    # meanwhile; count such a child once, with its parent.
    own = [f for f in tree.values()
           if int(f[1]) not in tree or tree[int(f[1])][20:22] != f[20:22]]
    return sum(int(f[21]) for f in own) * _PAGE / 1e6, len(own)


def steal_ticks() -> int:
    """Host-wide CPU steal ticks so far (the 8th value of /proc/stat's cpu line)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> int:
    """Host-wide CPU ticks so far, all states (the base of the steal share)."""
    with open("/proc/stat") as f:
        return sum(int(v) for v in f.readline().split()[1:9])


def process_age_s() -> float:
    """Seconds since this process started (field 22 of /proc/self/stat)."""
    # starttime counts clock ticks since boot, the base of CLOCK_BOOTTIME
    start = int(_stat_fields(os.getpid())[19]) / _TICK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start
