"""Helpers shared by the benchmark's worker processes."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak RSS of this Python process and of its JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return {"python": vm_hwm_mb(), "jvm": vm_hwm_mb(jvm_pid)}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def host_info(spark) -> dict:
    import pyarrow
    import pyspark

    return {
        "cores": len(os.sched_getaffinity(0)),
        "spark_master": spark.sparkContext.master,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


def cached(path: Path, make) -> Path:
    """Create ``path`` with ``make(tmp_path)`` unless it exists; the rename
    makes an interrupted run leave no half-written file behind."""
    if not path.exists():
        path.parent.mkdir(parents=True, exist_ok=True)
        make(f"{path}.tmp")
        os.replace(f"{path}.tmp", path)
    return path


def write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)
