"""Host stamp, memory high-water mark and the frequency-ceiling control."""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import subprocess
from typing import Dict, List

import oracles


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def source_id(root: str) -> str:
    """git SHA of the checkout, or a hash of the package sources when the
    checkout is not a git repository."""
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = ""
    if sha:
        return sha
    h = hashlib.sha256()
    pkg = os.path.join(root, "crawler_engine_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return "src-sha256:" + h.hexdigest()[:16]


def _governor() -> str:
    path = "/sys/devices/system/cpu/cpu0/cpufreq/scaling_governor"
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return "unavailable"


def stamp(root: str, java: str, ceiling: float) -> Dict[str, object]:
    import pyspark

    return {
        "nproc": cpus(),
        "ceiling_efficiency": round(ceiling, 4),
        "cpufreq_governor": _governor(),
        "source": source_id(root),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": java,
        "machine": platform.machine(),
    }


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command field may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> Dict[str, float]:
    """VmHWM in MB of this driver process, of the JVM, and of the JVM's
    descendants (the PySpark daemon and its Python workers), and their sum.
    Other children of the driver, such as the checking pool, are not
    counted."""
    kids = _children()
    jvm = spark.sparkContext._gateway.proc.pid
    todo, workers = list(kids.get(jvm, [])), 0
    while todo:
        pid = todo.pop()
        workers += _hwm_kb(pid)
        todo.extend(kids.get(pid, []))
    parts = {"driver": _hwm_kb(os.getpid()), "jvm": _hwm_kb(jvm), "workers": workers}
    out = {k: v / 1024.0 for k, v in parts.items()}
    out["total"] = sum(out.values())
    return out


def ceiling_efficiency(pool, workers: int, pages: int = 60, reps: int = 3) -> float:
    """Plain-multiprocessing control of the kernel at 1 and ``workers``
    processes: per-process kernel rate at ``workers`` over the rate at 1.
    Below 1.0 is the machine's frequency/shared-core ceiling, not Spark."""
    one, many = [], []
    pool.map(oracles.control_work, [pages // 4] * workers)  # warm imports
    for _ in range(reps):
        one.append(pool.map(oracles.control_work, [pages])[0])
        many.append(max(pool.map(oracles.control_work, [pages] * workers)))
    return statistics.median(one) / statistics.median(many)
