"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark worker, the JVM it launches and the JVM's Python
worker pool (a daemon and the workers it forks). Memory counts the worker
and the JVM at their peak resident size (``VmHWM``), which the kernel keeps
without the page-table walk that would slow a running JVM; the pool counts
by its current proportional set size (PSS), because its workers are forks
of the daemon and share most of their pages with it, so summing their RSS
would count those pages once per worker. CPU time counts each
live process's own user+sys time plus what it has collected from children
that exited (``cutime``/``cstime``), so Python workers that come and go
are still counted once their parent reaps them.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # The command name is in parentheses and may contain spaces.
    return raw[raw.rindex(")") + 2:].split()


def _snapshot() -> dict[int, list[str]]:
    """The stat fields of every live process, by pid."""
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields is not None:
                out[int(entry)] = fields
    return out


def tree(root: int) -> dict[int, tuple[int, list[str]]]:
    """(depth, stat fields) of ``root`` (depth 0) and of every live
    descendant of it."""
    snap = _snapshot()
    children: dict[int, list[int]] = {}
    for pid, fields in snap.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [(root, 0)]
    while todo:
        pid, depth = todo.pop()
        if pid in snap:
            out[pid] = (depth, snap[pid])
            todo.extend((c, depth + 1) for c in children.get(pid, ()))
    return out


def group_members(pgid: int) -> list[int]:
    """Live processes whose process group is ``pgid``."""
    # Skip zombies: they hold no resources and wait for their parent.
    return [pid for pid, fields in _snapshot().items()
            if int(fields[2]) == pgid and fields[0] != "Z"]


def cpu_seconds(root: int) -> float:
    """User+sys CPU seconds used so far by the tree under ``root``."""
    # utime, stime, cutime, cstime: fields 14-17 of proc_pid_stat(5).
    ticks = sum(int(x) for _, f in tree(root).values() for x in f[11:15])
    return ticks / _TICK


def _kb_field(path: str, key: str) -> int:
    """A ``key: N kB`` line of a /proc file, in bytes; 0 if it is gone."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited, or a kernel thread without a map
        pass
    return 0


def memory_bytes(root: int) -> int:
    """Peak resident size of ``root`` and its children (the worker and the
    JVM) plus the current PSS of deeper descendants (the Python pool)."""
    return sum(
        _kb_field(f"/proc/{pid}/status", "VmHWM:") if depth <= 1
        else _kb_field(f"/proc/{pid}/smaps_rollup", "Pss:")
        for pid, (depth, _) in tree(root).items()
    )
