"""The host block every result carries, and the load gate."""

from __future__ import annotations

import os
import platform
import subprocess
import time

# a run that starts while other work keeps more than this share of the
# cores busy is flagged, and still measured
LOAD_GATE_SHARE = 0.5


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def git_head(root: str) -> str | None:
    """HEAD of ``root`` when ``root`` is itself a git checkout."""
    def git(*args):
        return subprocess.run(["git", "-C", root, *args], capture_output=True,
                              text=True, timeout=10).stdout.strip()

    try:
        top = git("rev-parse", "--show-toplevel")
        if not top or os.path.realpath(top) != os.path.realpath(root):
            return None
        return git("rev-parse", "HEAD") or None
    except (OSError, subprocess.SubprocessError):
        return None


def busy_cores(interval: float = 0.5) -> float:
    """Cores kept busy by anything on the host (steal included) over
    ``interval`` seconds, from /proc/stat. Unlike the load average this
    does not remember a run that just ended."""
    def sample():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        idle = v[3] + v[4]
        return sum(v) - idle, sum(v)

    b0, t0 = sample()
    time.sleep(interval)
    b1, t1 = sample()
    return (os.cpu_count() or 1) * (b1 - b0) / max(1, t1 - t0)


def is_loaded(busy: float, nproc: int) -> bool:
    return busy > LOAD_GATE_SHARE * nproc


def host_block(root: str, seed: int, cores: int, busy_before: float,
               load_before, load_after) -> dict:
    import pyspark

    nproc = os.cpu_count() or 1
    return {
        "nproc": nproc,
        "cores_used": cores,
        "mem_total_mb": round(mem_total_mb()),
        "loadavg_before": list(load_before),
        "loadavg_after": list(load_after),
        "busy_cores_before": round(busy_before, 3),
        "loaded": is_loaded(busy_before, nproc),
        "git_head": git_head(root),
        "seed": seed,
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
    }


def jvm_peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
