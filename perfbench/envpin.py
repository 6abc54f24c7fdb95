"""Environment pinning and recording for one benchmark process.

Everything here runs BEFORE ``crux_spark`` is imported: the package reads
its switches (``CRUX_SPARK_*``) and session sizing (``SPARK_GRAFT_*``) from
the environment, so the benchmark scrubs the switches (the program then runs
its defaults) and pins the sizing to this machine.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys
import time


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        return os.cpu_count() or 1


def mem_total_mb() -> float:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def driver_mem() -> str:
    """A driver heap that leaves room for the Python side and other tenants:
    a quarter of RAM, clamped to [1g, 4g]."""
    gb = int(mem_total_mb() / 1024 / 4)
    return f"{max(1, min(4, gb))}g"


def pin(root: str, workdir: str) -> dict:
    """Scrub every CRUX_SPARK_* switch and pin the session environment.
    Returns the removed switches (recorded in the report)."""
    scrubbed = {k: os.environ.pop(k) for k in list(os.environ) if k.startswith("CRUX_SPARK_")}
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    py_path = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
            "SPARK_LOCAL_DIRS": local,
            # Python workers import crux_spark UDF closures
            "PYTHONPATH": os.pathsep.join(dict.fromkeys(py_path)),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": tmp,
            # no hsperfdata files in /tmp: the JVM writes only under workdir
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # collected timestamps are naive local time; the oracles are UTC
            "TZ": "UTC",
        }
    )
    time.tzset()
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    return scrubbed


def _java_version() -> str:
    java = shutil.which("java")
    if not java:
        return "unknown"
    try:
        out = subprocess.run(
            [java, "-version"], capture_output=True, text=True, timeout=30
        )
        lines = (out.stderr or out.stdout).splitlines()
        return next(ln.strip() for ln in lines if not ln.startswith("Picked up"))
    except (OSError, subprocess.SubprocessError, StopIteration):
        return "unknown"


def record(seed: int, scrubbed: dict) -> dict:
    import pyspark

    return {
        "seed": seed,
        "nproc": nproc(),
        "mem_total_mb": round(mem_total_mb(), 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_graft_driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "scrubbed_switches": sorted(scrubbed),
    }


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
