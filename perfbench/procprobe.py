"""CPU time and peak memory of this process and all its descendants, read
from ``/proc`` (Linux; ``psutil`` is not required).

Which processes count: this Python process, the JVM it launches through
``spark-submit`` (the launcher shell ``exec``s into ``java``), and every
Python process the JVM forks (the ``pyspark.daemon`` and its UDF workers).
The tree is found by walking parent pids from ``/proc/<pid>/stat``.

CPU is ``utime + stime + cutime + cstime`` of each live process in the
tree. A live process's own time is in its ``utime``/``stime``; a process
that has exited and been reaped by its parent is in the parent's
``cutime``/``cstime`` (kept across ``exec``). Each CPU second is therefore
counted exactly once, and Python workers the daemon reaps stay covered
through the daemon's ``cutime``. A delta between two samples is the CPU the
tree spent in between.

Peak memory is the sum of ``VmHWM`` (each process's peak resident set)
over the live processes of the tree, also split into the JVM and the Python
processes. Processes that already exited are not in it; the daemon reuses
its workers, so in practice that is none.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime in clock ticks) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces or ')'; fields resume after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 (state): ppid is field 4, utime..cstime 14..17
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree(root: int | None = None) -> dict[int, int]:
    """{pid: cpu ticks} for ``root`` (default: this process) and all its
    live descendants."""
    root = os.getpid() if root is None else root
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, int] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the process tree (see module docstring)."""
    return sum(tree(root).values()) / _CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """Sum of ``VmHWM`` over the live process tree in MiB: ``total``, and
    split into ``jvm`` (processes named ``java``) and ``python`` (the rest:
    this process, the pyspark daemon and its workers)."""
    out = {"total": 0.0, "jvm": 0.0, "python": 0.0}
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                kind = "jvm" if f.read().strip() == "java" else "python"
            with open(f"/proc/{pid}/status") as f:
                kb = next(int(line.split()[1]) for line in f
                          if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        out[kind] += kb / 1024.0
        out["total"] += kb / 1024.0
    return out
