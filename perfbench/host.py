"""Host facts stamped on every result: core count, a CPU speed calibration
and the peak resident memory of the benchmark's process tree."""

from __future__ import annotations

import hashlib
import os
import threading
import time


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_calibration_s(rounds: int = 3) -> float:
    """Median wall time of a fixed single-core job (a chained sha256 over a
    1 MiB buffer, 200 links). Results from hosts whose calibration differs
    are not comparable."""
    buf = bytes(range(256)) * 4096
    times = []
    for _ in range(rounds):
        h = b""
        t0 = time.perf_counter()
        for _ in range(200):
            h = hashlib.sha256(buf + h).digest()
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2]


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the Python driver,
    the Spark JVM it launched and any Python workers), read from /proc.

    A child running the same executable as its parent is skipped: the JVM
    starts every subprocess by a vfork that shares its address space until
    the exec, and counting that transient child would count the JVM twice.
    """
    total, todo, seen = 0, [(root, None)], set()
    while todo:
        pid, parent_exe = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        exe = _exe(pid)
        if parent_exe is not None and exe == parent_exe:
            continue
        total += _rss_bytes(pid)
        todo.extend((c, exe) for c in _children(pid))
    return total


class RssSampler:
    """Background thread sampling the process tree's RSS every ``interval``
    seconds; ``peak_mb`` is the highest sample seen."""

    def __init__(self, interval: float = 0.2, root: int | None = None):
        self.interval = interval
        self.root = root or os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler",
                                        daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)
