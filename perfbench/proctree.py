"""Resident memory and CPU time of a process tree, read from ``/proc``.

The tree of a benchmark run is the Python driver, the JVM it launched and
the JVM's Python workers.
"""

from __future__ import annotations

import os

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")

#: Thread names (``comm``, truncated to 15 characters) of the JVM's JIT
#: compilers.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str]:
    """Fields of a ``stat`` file after the command name, from field 3."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _snapshot() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, rss bytes, CPU ticks of itself and its reaped children)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            fields = _stat_fields(f"/proc/{entry}/stat")
        except OSError:  # exited while we looked
            continue
        utime, stime, cutime, cstime = (int(v) for v in fields[11:15])
        out[int(entry)] = (int(fields[1]), int(fields[21]) * _PAGE, utime + stime + cutime + cstime)
    return out


def _tree(snap: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in snap.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in snap:
            found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants."""
    snap = _snapshot()
    return sum(snap[pid][1] for pid in _tree(snap, root))


def cpu_seconds(root: int) -> float:
    """User plus system CPU time of ``root`` and all its descendants, live
    or already reaped by a process in the tree."""
    snap = _snapshot()
    return sum(snap[pid][2] for pid in _tree(snap, root)) / _TICK


def cpu_split(root: int) -> tuple[float, dict[tuple[int, int], float]]:
    """The tree's CPU seconds, and the CPU seconds of each live JIT compiler
    thread in it, keyed by ``(pid, tid)``.

    The difference of two calls gives the CPU a stretch of work used, and
    the part of it spent compiling; a compiler thread that exits in between
    is left out of the latter.
    """
    snap = _snapshot()
    jit = {}
    for pid in _tree(snap, root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        if len(tids) < 2:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().strip() not in JIT_THREADS:
                        continue
                fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            jit[(pid, int(tid))] = (int(fields[11]) + int(fields[12])) / _TICK
    total = sum(snap[pid][2] for pid in _tree(snap, root)) / _TICK
    return total, jit
