"""Host state, CPU time and process memory, read from ``/proc`` (psutil
is not available in the benchmark's environment)."""

from __future__ import annotations

import os
import time


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM's vCPUs since
    boot, summed over vCPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _cmdline(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def other_spark_jvms(own_pid: int | None = None) -> int:
    """Live JVMs running Spark that this process did not start: the
    host noise a timing taken alongside them would carry."""
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == own_pid:
            continue
        cmd = _cmdline(pid)
        if "java" in cmd and "org.apache.spark" in cmd:
            n += 1
    return n


def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def alive(pid: int) -> bool:
    """Running, not exited (a zombie awaiting its reaper has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], timeout_s: float) -> bool:
    """Wait until none of ``pids`` is running; False on timeout."""
    deadline = time.monotonic() + timeout_s
    while any(map(alive, pids)):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants (the driver JVM and the Python
    worker daemon and workers it forks)."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.append(pid)
            todo.extend(_children(pid))
    return out


def busy_cpu_s() -> float:
    """CPU seconds this machine's CPUs have spent busy since boot, summed
    over CPUs: user, nice, system, irq and softirq time from
    ``/proc/stat``. Idle, I/O wait and the time the hypervisor stole are
    left out.

    The run is the only workload on its machine, so this is the CPU time
    of the benchmark process, the driver JVM and the Python workers it
    forks. Summing ``/proc/<pid>/stat`` over that process tree instead
    lost up to 2 s of a 10 s request cycle: the CPU time of Python
    workers that exited in between did not always reach a parent still
    in the tree."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:8]]
    user, nice, system, _idle, _iowait, irq, softirq = ticks
    return (user + nice + system + irq + softirq) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(root: int) -> float:
    """Summed peak RSS (``VmHWM``) of ``root`` and its live descendants, in
    MB. Each process keeps its own high-water mark, so one read at the end
    of the timed region covers it without sampling inside it."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024
