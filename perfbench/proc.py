"""The benchmark's process tree (this process, the JVM it launched and
the Python workers under it), read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    """/proc/<pid>/stat fields after the command name (field 3 onwards)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_pids(root: int | None = None) -> set[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_stat_fields(int(d))[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, todo = set(), [os.getpid() if root is None else root]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
    return tree


def tree_pss_mb() -> float:
    """Resident memory of the tree, each shared page counted once: the sum
    of the processes' proportional set sizes. Summed RSS would count a
    page twice when two processes map it, as when the JVM forks to start
    a Python worker and the child holds the JVM's pages until it execs."""
    total = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total / 1e6


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, including children that
    exited and were waited for (cutime, cstime)."""
    ticks = 0
    for p in tree_pids():
        try:
            f = _stat_fields(p)
            ticks += sum(int(x) for x in f[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / _TICK
