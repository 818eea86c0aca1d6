"""Host-side measurements taken from outside the engine: CPU time and
peak memory of the Spark JVM process tree (from ``/proc``), bytes on disk
under a directory, and a fixed-cost canary for ambient host load."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(p))
    return kids


def tree_cpu_s(pid: int) -> float:
    """User+system CPU seconds of ``pid`` and its descendants (the JVM and
    its Python worker daemon and workers), including reaped children."""
    kids = _children()
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        todo.extend(kids.get(p, []))
    return total / _TICK


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def jvm_thread_cpu_s(pid: int) -> dict[str, float]:
    """CPU seconds of the JVM's own threads by kind: JIT compilers, garbage
    collection, Spark task threads and the rest."""
    out = {"jit": 0.0, "gc": 0.0, "tasks": 0.0, "other": 0.0}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                name = fh.read().strip()
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kind = ("jit" if "Compiler" in name else
                "gc" if name.startswith(("GC ", "G1 ", "VM Thread")) else
                "tasks" if name.startswith("Executor task") else "other")
        out[kind] += (int(f[11]) + int(f[12])) / _TICK
    return out


def reset_peak_rss(pid: int) -> None:
    """Restart the kernel's peak-RSS counter (VmHWM) of ``pid``."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def files_under(root: str) -> dict[tuple[int, int], int]:
    """(inode, mtime ns) -> size of every regular file under ``root``.
    Hard links (the warehouse shares unchanged files between table
    versions) keep the mtime, so they count once; a file created in an
    inode number freed since an earlier snapshot has a new mtime, so it
    does not pass for the file that was there before."""
    out: dict[tuple[int, int], int] = {}
    for d, _dirs, fs in os.walk(root):
        for f in fs:
            try:
                st = os.lstat(os.path.join(d, f))
            except FileNotFoundError:
                continue
            out[(st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def canary_s(spark) -> float:
    """Fixed-cost CPU-bound Spark job (no I/O, no shuffle, no Python), the
    same shape as ``bench.py``'s canary at a size for a few cores: its
    wall time moves only when the host does. Minimum of two runs."""
    from pyspark.sql import functions as F

    def one() -> float:
        t0 = time.perf_counter()
        spark.range(0, 100_000_000, 1, 8).select(
            F.sum(F.xxhash64("id").cast("double"))).collect()
        return time.perf_counter() - t0

    spark.sparkContext._jvm.System.gc()
    return min(one(), one())
