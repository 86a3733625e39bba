"""CPU and memory of a process tree, read from ``/proc``.

Linux only, standard library only. CPU counts ``utime + stime`` of
every live process in the tree plus ``cutime + cstime``, the time of
children that already ended and were reaped, so a worker that comes and
goes between two readings still shows in the difference.
"""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, proc: str = "/proc") -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None
    when the process is gone."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # The command name sits in parentheses and may contain spaces.
    return raw[raw.rindex(")") + 2:].split()


def parse_stat_cpu_s(fields: list[str]) -> float:
    """utime + stime + cutime + cstime, in seconds. ``fields`` starts
    at the state letter (field 3 of ``proc(5)``)."""
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return (utime + stime + cutime + cstime) / _TICKS


def children(proc: str = "/proc") -> dict[int, list[int]]:
    """Parent pid → child pids over every visible process."""
    out: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name), proc)
        if fields is not None:
            out.setdefault(int(fields[1]), []).append(int(name))
    return out


def tree(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all its live descendants."""
    kids = children(proc)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int, proc: str = "/proc") -> dict[str, float]:
    """CPU seconds used so far by the tree under ``root``, split into
    ``driver`` (``root`` itself), ``jvm`` and ``python_workers``
    (everything else: PySpark's worker daemon and its forks)."""
    jvm = find_jvm(root, proc)
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}
    for pid in tree(root, proc):
        fields = _stat_fields(pid, proc)
        if fields is None:
            continue
        kind = "driver" if pid == root else "jvm" if pid == jvm else "python_workers"
        out[kind] += parse_stat_cpu_s(fields)
    return out


def status_kb(pid: int, key: str, proc: str = "/proc") -> int:
    """A ``kB`` field of ``/proc/<pid>/status`` such as ``VmHWM``;
    0 when the process or field is gone."""
    try:
        with open(f"{proc}/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def cmdline(pid: int, proc: str = "/proc") -> list[str]:
    try:
        with open(f"{proc}/{pid}/cmdline", "rb") as f:
            return [a.decode(errors="replace") for a in f.read().split(b"\0") if a]
    except (FileNotFoundError, ProcessLookupError):
        return []


def find_jvm(root: int, proc: str = "/proc") -> int | None:
    """The Spark driver JVM among ``root``'s descendants."""
    for pid in tree(root, proc):
        args = cmdline(pid, proc)
        if args and os.path.basename(args[0]) == "java" and any(
            "SparkSubmit" in a for a in args
        ):
            return pid
    return None


def pids_with_env(key: str, value: str, proc: str = "/proc") -> list[int]:
    """Processes whose environment holds ``key=value``: everything a
    run started, even what re-parented itself away from the tree."""
    needle = f"{key}={value}".encode()
    out = []
    for name in os.listdir(proc):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"{proc}/{name}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    out.append(int(name))
        except OSError:
            continue
    return out


def host_steal_s(proc: str = "/proc") -> float:
    """CPU seconds the hypervisor has taken from this machine's vCPUs
    since boot (the ``steal`` column of ``/proc/stat``)."""
    with open(f"{proc}/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICKS


def host_cpus(proc: str = "/proc") -> int:
    """vCPUs of this machine: the per-CPU lines of ``/proc/stat``."""
    with open(f"{proc}/stat") as f:
        return sum(1 for line in f if line[:3] == "cpu" and line[3].isdigit())
