"""Per-run environment record: context that explains an outlier run,
never a gated metric."""

from __future__ import annotations

import os
import platform


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    ticks = [int(x) for x in fields[1:]]
    return sum(ticks), (ticks[7] if len(ticks) > 7 else 0)


class CpuWindow:
    """CPU steal share and load average over a window of the run."""

    def __init__(self):
        self.start = _cpu_ticks()

    def close(self) -> dict:
        total, steal = _cpu_ticks()
        d_total = total - self.start[0]
        with open("/proc/loadavg") as fh:
            load1 = float(fh.read().split()[0])
        return {"cpu_steal_pct": 100.0 * (steal - self.start[1]) / d_total if d_total else 0.0,
                "loadavg_1m": load1}


def _commit(root: str) -> str:
    """HEAD commit read from the checkout's .git, if it has one."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def record(root: str) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "commit": _commit(root),
    }
