"""Process accounting from /proc: the engine is the Spark driver JVM,
its Python workers (descendants of the JVM) and this process."""

from __future__ import annotations

import os

def _children(pid: int) -> list[int]:
    out = []
    for task in _tasks(pid):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def _tasks(pid: int) -> list[str]:
    try:
        return os.listdir(f"/proc/{pid}/task")
    except OSError:
        return []


def tree(pid: int) -> list[int]:
    """*pid* and all its descendants."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += _children(p)
    return out


def hwm_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of *pids*, in MiB."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024
