"""Memory and CPU of a process tree, read from /proc (psutil is not needed).

The Spark driver JVM is the root of the tree; the PySpark daemon and the
Python workers it forks are its descendants.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, proc: str = "/proc") -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 onward).
    The name sits in parentheses and may itself hold spaces or ')'."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int, proc: str = "/proc") -> list[int]:
    """Pids of every live descendant of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name), proc)
        if fields is None:
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def status_kb(pid: int, key: str, proc: str = "/proc") -> int:
    """A ``kB`` field of /proc/<pid>/status such as VmHWM; 0 when the
    process is gone or the field is absent."""
    try:
        with open(f"{proc}/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def peak_rss_mb(root: int, proc: str = "/proc") -> float:
    """Sum over ``root`` and its live descendants of each process's peak
    resident set (VmHWM), in MiB. Per-process peaks need not coincide, so
    this is an upper bound on the tree's simultaneous peak."""
    pids = [root] + descendants(root, proc)
    return sum(status_kb(p, "VmHWM", proc) for p in pids) / 1024.0


def cpu_seconds(root: int, proc: str = "/proc") -> float:
    """CPU time (user + system, own + reaped children) summed over ``root``
    and its live descendants. A worker that exits is reaped by its parent,
    whose children's time then holds it, so the difference of two readings
    is the tree's CPU use in between."""
    total = 0
    for p in [root] + descendants(root, proc):
        fields = _stat_fields(p, proc)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK
