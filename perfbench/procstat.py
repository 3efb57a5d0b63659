"""Process and machine readings from /proc (no third-party dependency).

The benchmark's process tree is this Python driver, the JVM it
launches and the Python worker processes the JVM forks. CPU is summed
over the whole tree; exited workers are still counted because their
parent (the worker daemon) reaps them into its ``cutime``/``cstime``.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """user + sys CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    """The JVM this process launched (its ``java`` child), if any."""
    for pid in _children().get(os.getpid(), ()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def machine_stamp() -> dict:
    """nproc, SPARK_GRAFT_CPUS, load averages and CPU pressure (PSI)."""
    stamp: dict = {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }
    try:
        with open("/proc/loadavg") as f:
            stamp["loadavg"] = [float(x) for x in f.read().split()[:3]]
    except OSError:
        stamp["loadavg"] = None
    try:
        with open("/proc/pressure/cpu") as f:
            some = f.readline().split()
        stamp["cpu_psi_some"] = {k: float(v) for k, v in (kv.split("=") for kv in some[1:4])}
    except (OSError, ValueError):
        stamp["cpu_psi_some"] = None
    return stamp
