"""/proc readers for the benchmark: process-tree CPU and memory, and the
host checks made before a workload starts. Linux only."""

from __future__ import annotations

import os
import time

HZ = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")

SPARK_MARKERS = ("org.apache.spark.deploy.SparkSubmit", "pyspark.daemon", "pyspark/daemon")


def _stat(pid: int):
    """(ppid, cpu jiffies incl. reaped children, rss pages, start ticks,
    comm) of one process, or None if it has exited."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces and parentheses: fields resume after the last ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    cpu = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return int(f[1]), cpu, int(f[21]), int(f[19]), comm


def snapshot() -> dict[int, tuple]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                out[int(d)] = st
    return out


def descendants(snap: dict[int, tuple], root: int) -> list[int]:
    """``root`` and every process below it in ``snap``."""
    children: dict[int, list[int]] = {}
    for pid, st in snap.items():
        children.setdefault(st[0], []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in snap:
            out.append(pid)
            stack.extend(children.get(pid, []))
    return out


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


class TreeMeter:
    """CPU seconds and resident memory of one process tree, split into the
    Python driver (the root), the JVM and the Python workers the JVM forks.
    A process's CPU includes its reaped children, so workers that exit
    between samples are still counted through their parent."""

    def __init__(self, root: int):
        self.root = root
        self._kind: dict[tuple[int, int], str] = {}

    def _kind_of(self, pid: int, start: int, comm: str) -> str:
        key = (pid, start)
        if key not in self._kind:
            if pid == self.root:
                kind = "driver"
            elif comm == "java" or "java" in cmdline(pid).split(" ", 1)[0]:
                kind = "jvm"
            else:
                kind = "py"
            self._kind[key] = kind
        return self._kind[key]

    def sample(self) -> dict[str, float]:
        """{'driver','jvm','py','total'} CPU seconds, 'rss_mb', 'pids'."""
        snap = snapshot()
        out = {"driver": 0.0, "jvm": 0.0, "py": 0.0, "rss_mb": 0.0}
        pids = descendants(snap, self.root)
        kinds = {pid: self._kind_of(pid, snap[pid][3], snap[pid][4]) for pid in pids}
        for pid in pids:
            ppid, cpu, rss, _, _ = snap[pid]
            out[kinds[pid]] += cpu / HZ
            # a process the JVM is spawning shares the JVM's memory until it
            # execs (vfork), and reads as a JVM: counting it would count the
            # JVM's resident memory twice
            if not (kinds[pid] == "jvm" and kinds.get(ppid) == "jvm"):
                out["rss_mb"] += rss * PAGE / 2**20
        out["total"] = out["driver"] + out["jvm"] + out["py"]
        out["pids"] = [(pid, snap[pid][3]) for pid in pids]
        return out


def alive(pid: int, start: int) -> bool:
    st = _stat(pid)
    return st is not None and st[3] == start


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    return sum(vals) - idle, sum(vals)


def host_check(window_s: float = 0.5) -> dict:
    """Busy cores, load average, processes using more than half a core and
    Spark JVMs or Python workers left running by someone else, sampled
    over ``window_s`` before the workload starts."""
    me = os.getpid()
    busy0, total0 = _cpu_times()
    snap0 = snapshot()
    time.sleep(window_s)
    busy1, total1 = _cpu_times()
    snap1 = snapshot()
    ncpu = os.cpu_count() or 1
    busy_cores = ncpu * (busy1 - busy0) / max(total1 - total0, 1)
    hot, spark = [], []
    for pid, st in snap1.items():
        if pid == me:
            continue
        cores = (st[1] - snap0[pid][1]) / HZ / window_s if pid in snap0 else 0.0
        if cores > 0.5:
            hot.append({"pid": pid, "comm": st[4], "cores": round(cores, 2)})
        if any(m in cmdline(pid) for m in SPARK_MARKERS):
            spark.append({"pid": pid, "comm": st[4], "ppid": st[0]})
    with open("/proc/loadavg") as fh:
        load = [float(v) for v in fh.read().split()[:3]]
    return {
        "busy_cores": round(busy_cores, 2),
        "loadavg": load,
        "busy_processes": hot,
        "foreign_spark_processes": spark,
    }


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")
