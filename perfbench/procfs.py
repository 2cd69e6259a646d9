"""Process-tree CPU and memory readings from ``/proc`` (Linux only).

The benchmark's process tree is the Python driver, the JVM it launches and
the PySpark Python workers the JVM forks. CPU of a process that has exited
and been reaped by a parent in the tree stays visible in that parent's
``cutime``/``cstime``, so summing the four fields over the live tree gives
the tree's cumulative CPU.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    """Every live process below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """Cumulative user+system CPU seconds of ``root`` and its live descendants,
    including reaped children."""
    root = os.getpid() if root is None else root
    total = 0
    for pid in [root, *descendants(root)]:
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 (utime, stime, cutime, cstime) sit at 11-14 here
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def peak_rss_mb(root: int | None = None) -> float:
    """Kernel high-water RSS (``VmHWM``): the driver plus the JVM plus the
    largest single Python worker, in MiB."""
    root = os.getpid() if root is None else root
    jvm, worker = 0, 0
    for pid in descendants(root):
        hwm = _status_kb(pid, "VmHWM")
        if "java" in _cmdline(pid).split(" ")[0]:
            jvm = max(jvm, hwm)
        else:
            worker = max(worker, hwm)
    return (_status_kb(root, "VmHWM") + jvm + worker) / 1024.0


def seconds_since_process_start() -> float:
    """Wall seconds since this process was created (10 ms resolution)."""
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    start_ticks = int(_stat_fields(os.getpid())[19])  # field 22: starttime
    return uptime - start_ticks / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over CPUs
    since boot (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / _TICK


def loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return [float(x) for x in fh.read().split()[:3]]
