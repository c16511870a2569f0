"""Host-level measurements: memory of the process tree and the control job."""

from __future__ import annotations

import hashlib
import os
import statistics
import time

# The control job's median may drift by this share between the start and
# the end of a run before the run is flagged as measured in a bad window.
CONTROL_DRIFT_BOUND = 0.15


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum over the live process tree (Python driver, JVM, Python workers)
    of each process's peak resident set, in MiB."""
    return sum(_status_kb(p, "VmHWM") for p in tree_pids()) / 1024.0


def control_job(reps: int = 5) -> float:
    """Median wall of a fixed single-thread job that no engine code takes
    part in: SHA-256 over a fixed 16 MiB buffer, four times."""
    buf = bytes(range(256)) * (1 << 16)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for _ in range(4):
            hashlib.sha256(buf).digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
