"""Host-noise evidence for benchmark legs.

This sandbox shares a physical host whose external load swings by 2-15
within minutes, and (observed in round 3) other harness processes can
start their own Spark JVMs INSIDE the container mid-leg — a 4-core
pinned leg was measured burning 3,128 CPU-s in 468 s (physically
impossible on 4 cores) while a foreign ``local[16]`` JVM ran alongside.
load1 alone cannot separate "our JVM is busy" from "someone else's JVM
is busy".

The harnesses record this noise next to every measurement and never
wait on it; a reader weighs the evidence instead of re-running:

* :func:`foreign_spark_processes` — Spark-ish processes (SparkSubmit
  JVMs, ``pyspark.daemon`` worker pools) whose ancestry does NOT reach
  the calling process: anything it returns is a co-tenant burning the
  same container CPU quota.  Polled before, during and after a phase
  or leg; one hit marks it contaminated.
* :func:`load1` — ``/proc/loadavg`` IS host-visible in this container
  (verified round 3: load1 10.3 with zero container processes).
* :func:`container_cpu_ns` — cgroup CPU burned by the whole container
  (the JVM and its Python workers), the steal-immune work signal.

Used by ``bench.py`` (per-phase ``cpu_s`` and ``foreign_jvm``),
``scripts/scaling_run.py`` (in-flight leg monitor and ``cpu_total_s``)
and ``perfbench/run.py`` (run context).
"""

from __future__ import annotations

import os
from pathlib import Path

# substrings that identify a Spark-related process in /proc cmdlines
_SPARK_MARKERS = ("org.apache.spark", "pyspark.daemon", "pyspark.worker")


def _stat_ppid(pid: int) -> int | None:
    """Parent pid from /proc/<pid>/stat (robust to spaces/parens in the
    comm field: everything up to the LAST ')' is pid+comm)."""
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    try:
        return int(stat.rsplit(")", 1)[1].split()[1])
    except (IndexError, ValueError):
        return None


def _descends_from(pid: int, root_pid: int, max_depth: int = 64) -> bool:
    current = pid
    for _ in range(max_depth):
        if current == root_pid:
            return True
        if current in (0, 1) or current is None:
            return False
        parent = _stat_ppid(current)
        if parent is None or parent == current:
            return False
        current = parent
    return False


def spark_processes() -> list[tuple[int, str]]:
    """(pid, abbreviated cmdline) of every Spark-ish process in the
    container (JVMs and Python worker daemons)."""
    found: list[tuple[int, str]] = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        pid = int(entry)
        try:
            cmdline = Path(f"/proc/{pid}/cmdline").read_bytes()
        except OSError:
            continue
        text = cmdline.replace(b"\x00", b" ").decode("utf-8", "replace")
        if any(marker in text for marker in _SPARK_MARKERS):
            found.append((pid, text[:160].strip()))
    return found


def foreign_spark_processes(root_pid: int | None = None) -> list[tuple[int, str]]:
    """Spark-ish processes NOT descended from ``root_pid`` (default: this
    process) — i.e. co-tenant Spark work contaminating the container's
    CPU accounting and cores.  Empty list == clean."""
    root = root_pid if root_pid is not None else os.getpid()
    return [
        (pid, cmd)
        for pid, cmd in spark_processes()
        if not _descends_from(pid, root)
    ]


def load1() -> float | None:
    """Host 1-minute loadavg (host-visible in this container)."""
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except OSError:
        return None


def container_cpu_ns() -> int | None:
    """Container-wide cumulative CPU in ns (covers the JVM and the Python
    workers; per-process rusage cannot see an unwaited JVM).  cgroup v1
    cpuacct first, the v2 unified cpu.stat as fallback."""
    try:
        return int(Path("/sys/fs/cgroup/cpuacct/cpuacct.usage").read_text())
    except OSError:
        pass
    for path in ("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/unified/cpu.stat"):
        try:
            for line in Path(path).read_text().splitlines():
                if line.startswith("usage_usec"):
                    return int(line.split()[1]) * 1000
        except OSError:
            continue
    return None
