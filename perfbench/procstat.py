"""CPU accounting from /proc: process-tree CPU, machine steal and the
per-run machine record."""

from __future__ import annotations

import os
import platform
import time

CLK_TCK = float(os.sysconf("SC_CLK_TCK"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime jiffies) for live processes."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # comm may hold spaces or parens: split after the last ") "
                rest = f.read().rsplit(") ", 1)[1].split()
            out[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
        except (OSError, IndexError, ValueError):
            continue  # raced an exit
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and its live descendants (the Python
    process, its JVM and the JVM's Python workers). Reaped children are
    covered by their parent's cutime/cstime."""
    procs = _procs()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    seen: set[int] = set()
    stack = [root] if root in procs else []
    total = 0
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += procs[pid][1]
        stack.extend(kids.get(pid, []))
    return total / CLK_TCK


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM has exited. The JVM ends when the
    pipe on its standard input closes. A later session in this process
    starts a JVM of its own."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _machine() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = v
    return sum(v), user + nice + system + irq + softirq, steal


class Window:
    """One measured window: wall time, CPU of the program's process tree
    (``program_pid``), and the machine's steal share and the CPU share of
    processes outside this benchmark's own tree."""

    def __init__(self, program_pid: int) -> None:
        self.pid = program_pid
        self.wall0 = time.perf_counter()
        self.cpu0 = tree_cpu_s(program_pid)
        self.own0 = tree_cpu_s(os.getpid())
        self.m0 = _machine()

    def close(self) -> dict:
        wall = time.perf_counter() - self.wall0
        cpu = tree_cpu_s(self.pid) - self.cpu0
        own = (tree_cpu_s(os.getpid()) - self.own0) * CLK_TCK
        m1 = _machine()
        total, busy, steal = (b - a for a, b in zip(self.m0, m1))
        total = max(total, 1)
        return {
            "wall_s": wall,
            "cpu_s": cpu,
            "steal_share": steal / total,
            "other_cpu_share": max(0.0, busy - own) / total,
        }


def machine_record(master: str, window: dict) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": nproc(),
        "spark_master": master,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "steal_share": round(window["steal_share"], 5),
        "other_cpu_share": round(window["other_cpu_share"], 5),
    }
