"""The benchmark's view of its own process tree (driver, JVM, Python
workers), read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def alive(pid: int) -> bool:
    try:
        return _stat(pid)[0] != "Z"
    except OSError:
        return False


def descendants(root_pid: int) -> list[int]:
    """``root_pid``'s live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            fields = _stat(int(d))
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants."""
    total = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu_seconds(root_pid: int) -> float:
    """CPU time (user + system, reaped children included) used so far by
    ``root_pid`` and all its live descendants."""
    ticks = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            ticks += sum(int(x) for x in _stat(pid)[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / _TICK
