"""Statistics, process accounting and the run-environment record.

Nothing here imports Spark: the process and statistics helpers are plain
functions over numbers and ``/proc``, so the unit tests run without a JVM.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import subprocess
import time
from collections.abc import Callable, Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile q={q} outside 0..100")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values: Sequence[float]) -> float:
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may itself hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                kids.setdefault(int(fields[1]), []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class ProcessMeter:
    """CPU seconds and peak RSS of the driver and its JVM.

    CPU covers the Python driver, the JVM and the JVM's descendants (the
    Python workers that run UDFs report to the JVM's worker daemon, which
    reaps them, so their time lands in its child counters)."""

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid
        self._tick = os.sysconf("SC_CLK_TCK")

    def cpu_s(self) -> float:
        pids = [os.getpid()]
        if self.jvm_pid:
            pids += process_tree(self.jvm_pid)
        ticks = 0
        for pid in pids:
            fields = _stat_fields(pid)
            if fields:
                # utime, stime, cutime, cstime: fields 14-17 of stat(5)
                ticks += sum(int(x) for x in fields[11:15])
        return ticks / self._tick

    def peak_rss_mb(self) -> dict[str, float]:
        """VmHWM of the driver and of the JVM, in MB."""
        out = {}
        for who, pid in (("driver", os.getpid()), ("jvm", self.jvm_pid)):
            try:
                with open(f"/proc/{pid}/status") as f:
                    out[who] = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")) / 1024
            except (OSError, StopIteration, TypeError):
                out[who] = 0.0
        return out


def load1() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot: the share of
    steal between two readings is CPU time the hypervisor gave to others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def python_probe() -> float:
    """Median wall time of a fixed CPU-bound Python task (hashing 8 MiB)."""
    buf = bytes(8 << 20)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        hashlib.sha256(buf).digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def timed(fn: Callable[[], object]) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def source_fingerprint(root: str, package: str) -> str:
    """sha256 over the package's Python sources: identifies the code under
    test when the checkout is not a git repository."""
    h = hashlib.sha256()
    base = os.path.join(root, package)
    for dirpath, dirnames, filenames in os.walk(base):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_head(root: str) -> str | None:
    """HEAD of ``root`` when it is itself a git work tree, else None."""
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None
