"""Host and process-tree counters read from /proc.

The benchmark process is the root of its tree: it launches the Spark JVM,
which forks the PySpark daemon, which forks the Python workers. CPU is
utime+stime of every live process in the tree plus cutime+cstime (the CPU of
children already reaped), so a worker that exits between two readings still
counts once, in its parent.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may hold spaces and parentheses; the fields start after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _cpu_s(pid: int) -> float:
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # utime, stime, cutime, cstime are fields 14-17 of stat(5); the slice
    # starts at field 3 (state)
    return sum(int(x) for x in fields[11:15]) / CLK_TCK


def _is_pyworker(pid: int) -> bool:
    cmd = _cmdline(pid)
    return "pyspark.daemon" in cmd or "pyspark.worker" in cmd


def cpu_snapshot() -> dict:
    """CPU seconds of the whole tree and of its PySpark worker processes."""
    pids = tree_pids()
    total = 0.0
    workers = 0.0
    for pid in pids:
        s = _cpu_s(pid)
        total += s
        if _is_pyworker(pid):
            workers += s
    return {"tree_cpu_s": total, "pyworker_cpu_s": workers}


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over the tree, in MiB."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def steal_s() -> float:
    """Host-wide steal time since boot, in seconds (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK if len(fields) > 8 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))
