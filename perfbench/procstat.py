"""Process-tree CPU and memory from /proc (psutil is not available).

CPU of a process tree is the sum over every live process in it of
utime + stime + cutime + cstime: the c* fields carry the CPU of children
that already exited and were reaped, so short-lived Python workers are
counted once they are gone, and live ones through their own fields.  A
process is never counted twice, because a reaped child is no longer live.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, proc: str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None when the
    process is gone.  The name may hold spaces and parentheses, so split
    after the last ')'."""
    try:
        with open(os.path.join(proc, str(pid), "stat")) as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def parent_map(proc: str = "/proc") -> dict[int, list[int]]:
    """ppid → child pids over every process visible in ``proc``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name), proc)
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    return children


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all its live descendants."""
    children = parent_map(proc)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s(pid: int, proc: str = "/proc") -> float:
    """utime + stime + cutime + cstime of one process, in seconds."""
    fields = _stat_fields(pid, proc)
    if fields is None:
        return 0.0
    # After the name: state ppid ... utime(11) stime(12) cutime(13) cstime(14).
    return sum(int(x) for x in fields[11:15]) / CLK_TCK


def tree_cpu_s(root: int, proc: str = "/proc", *, exclude_root: bool = False) -> float:
    """CPU seconds of ``root``'s process tree (see the module docstring).
    ``exclude_root`` keeps only the descendants: for the JVM, those are
    the PySpark daemon and its Python workers."""
    pids = tree_pids(root, proc)
    if exclude_root:
        pids = pids[1:]
    return sum(cpu_s(p, proc) for p in pids)


def vm_hwm_mb(pid: int, proc: str = "/proc") -> float:
    """Peak resident set (VmHWM) of one process in MiB; 0 when gone."""
    try:
        with open(os.path.join(proc, str(pid), "status")) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_hwm_mb(root: int, proc: str = "/proc") -> float:
    return sum(vm_hwm_mb(p, proc) for p in tree_pids(root, proc))


def self_cpu_s() -> float:
    """This Python process's own CPU (children excluded: the JVM is a
    child and is counted through its own tree)."""
    t = os.times()
    return t.user + t.system


def cpu_ticks(proc: str = "/proc") -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open(os.path.join(proc, "stat")) as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def loadavg(proc: str = "/proc") -> list[float]:
    with open(os.path.join(proc, "loadavg")) as f:
        return [float(x) for x in f.read().split()[:3]]


def mem_available_mb(proc: str = "/proc") -> float:
    with open(os.path.join(proc, "meminfo")) as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemAvailable missing from meminfo")
