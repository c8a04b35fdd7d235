"""/proc readings of a process tree: CPU seconds and resident memory.

The engine process launches the Spark JVM as a child, and the JVM
launches the Python workers, so the tree rooted at the engine process is
everything under test. The walk is the one ``bench.py`` uses for its
process-tree CPU seconds, extended with resident memory.
"""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree(root: int) -> dict[int, tuple[float, int]]:
    """pid -> (CPU seconds, RSS bytes) for ``root`` and every live
    descendant, parents before their children."""
    procs: dict[int, tuple[int, float, int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                s = fh.read()
        except OSError:  # the process exited while we listed
            continue
        # comm may hold spaces or parens: fields restart after the last ')'
        rest = s[s.rindex(")") + 2:].split()
        procs[int(pid)] = (int(rest[1]), (int(rest[11]) + int(rest[12])) / _TICKS, int(rest[21]) * _PAGE)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    found: dict[int, tuple[float, int]] = {}
    stack = [root]
    while stack:
        p = stack.pop()
        if p in procs:
            found[p] = procs[p][1:]
        stack.extend(children.get(p, []))
    return found


def tree_usage(root: int) -> tuple[float, int]:
    """(CPU seconds, RSS bytes) summed over the live tree under ``root``."""
    found = tree(root).values()
    return sum(c for c, _ in found), sum(r for _, r in found)
