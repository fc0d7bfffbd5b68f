"""Process-tree readings from /proc: the benchmark's own process, the
JVM it starts and the JVM's Python workers."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name, for
    every process we can see."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                pass
    return out


def _tree(pid: int, stats: dict[int, list[str]]) -> set[int]:
    parents = {p: int(f[1]) for p, f in stats.items()}
    found, frontier = set(), {pid}
    while frontier:
        frontier = {c for c, p in parents.items() if p in frontier} - found
        found |= frontier
    return found


def descendants(pid: int) -> set[int]:
    return _tree(pid, _stats())


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) spent so far by ``pid`` and every live
    descendant, including the children each of them has reaped.  Time the
    hypervisor gave to other machines (steal) is not in it."""
    stats = _stats()
    total = 0
    for p in _tree(pid, stats) | {pid}:
        f = stats.get(p)
        if f is not None:
            # utime, stime, cutime, cstime
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK
