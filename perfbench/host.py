"""Host context recorded with every run, plus process-level probes.

Nothing here selects or discards samples: the context is reported next to
the metrics so that a noisy run can be recognised, not hidden.
"""

from __future__ import annotations

import gc
import hashlib
import os
import platform
import subprocess
import sys
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 1/CLK_TCK resolution)."""
    start_ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / CLK_TCK


def peak_rss_mb(pid: int | str = "self") -> float:
    """High-water resident set size (VmHWM) of a process, in MB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pool_peaks_mb(jvm) -> dict[str, float]:
    """Peak used memory of each JVM memory pool (heap and non-heap), in MB:
    what the program used, not the heap the JVM reserved or touched."""
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return {f"{p.getType().name()} {p.getName()}": p.getPeakUsage().getUsed() / 2**20
            for p in pools}


def jvm_live_heap_mb(jvm) -> float:
    """Heap the JVM still holds after full collections, in MB: what the
    program retains (cached blocks, broadcasts, status and plan state). The
    heap's peak is mostly the young generation, whose size G1 picks from
    pause times; it moved by half between runs of the same code.

    Python's collector runs first, so that frames the driver dropped release
    their JVM objects; Spark's cleaner then frees blocks and broadcasts of
    collected objects asynchronously, so collections repeat until the heap
    stops shrinking."""
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = float("inf")
    for _ in range(8):
        gc.collect()
        jvm.java.lang.System.gc()
        used = mx.getHeapMemoryUsage().getUsed() / 2**20
        if last - used < 1.0:
            return used
        last = used
        time.sleep(0.5)
    return last


# JVM thread names (as /proc shows them, cut to 15 characters) by kind
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
GC_THREADS = ("GC Thread#", "G1 ", "VM Thread")


def _thread_ticks(pid: int) -> tuple[int, int]:
    """(JIT compiler, GC) CPU ticks of the live threads of one process."""
    jit = collector = 0
    try:
        tasks = list(Path(f"/proc/{pid}/task").iterdir())
    except OSError:
        return 0, 0
    for t in tasks:
        try:
            text = (t / "stat").read_text()
        except OSError:
            continue
        comm, rest = text[text.index("(") + 1:text.rindex(")")], text.rsplit(")", 1)[1].split()
        ticks = int(rest[11]) + int(rest[12])
        if comm.startswith(JIT_THREADS):
            jit += ticks
        elif comm.startswith(GC_THREADS):
            collector += ticks
    return jit, collector


def tree_cpu_s(root: int | None = None) -> dict[str, float]:
    """CPU seconds (user + system, reaped children included) of a process and
    all its descendants: the driver, the JVM it launched and Spark's Python
    workers, as ``total``; the part of it spent in the JVM's JIT compiler
    threads and GC threads as ``jit`` and ``gc``. Time the hypervisor steals
    is not charged to a process."""
    root = root or os.getpid()
    stats: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            f = (d / "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        stats[int(d.name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    ticks = jit = collector = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        j, g = _thread_ticks(pid)
        jit, collector = jit + j, collector + g
        todo.extend(kids.get(pid, ()))
    return {"total": ticks / CLK_TCK, "jit": jit / CLK_TCK, "gc": collector / CLK_TCK}


def _steal_jiffies() -> int:
    fields = Path("/proc/stat").read_text().splitlines()[0].split()
    return int(fields[8]) if len(fields) > 8 else 0


def steal_s_per_cpu() -> float:
    """Time the hypervisor has stolen so far, summed over CPUs and divided by
    their number: the wall time one CPU lost."""
    return _steal_jiffies() / CLK_TCK / (os.cpu_count() or 1)


def _cgroup_throttle() -> dict[str, int]:
    for p in ("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/cpu/cpu.stat"):
        try:
            text = Path(p).read_text()
        except OSError:
            continue
        kv = dict(line.split() for line in text.splitlines() if len(line.split()) == 2)
        return {k: int(kv[k]) for k in ("nr_throttled", "throttled_usec", "throttled_time") if k in kv}
    return {}


def sample() -> dict[str, object]:
    return {"loadavg": Path("/proc/loadavg").read_text().split()[:3],
            "steal_jiffies": _steal_jiffies(), "cgroup": _cgroup_throttle()}


def delta(before: dict, after: dict) -> dict[str, object]:
    cg = {k: after["cgroup"].get(k, 0) - v for k, v in before["cgroup"].items()}
    return {"loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
            "steal_jiffies": after["steal_jiffies"] - before["steal_jiffies"],
            "cgroup_throttling": cg}


def _git_commit(root: Path) -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() or None


def source_digest(pkg: Path) -> str:
    """SHA-256 over the package's Python sources: identifies the code under
    test when the checkout is not a git repository."""
    h = hashlib.sha256()
    for f in sorted(pkg.rglob("*.py")):
        h.update(str(f.relative_to(pkg)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def static_context(root: Path, pkg: Path, spark) -> dict[str, object]:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "platform": platform.platform(),
        "git_commit": _git_commit(root),
        "source_sha256": source_digest(pkg),
    }
