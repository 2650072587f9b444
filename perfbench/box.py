"""Facts about the machine and the processes under test, read from
``/proc``: process-tree RSS, CPU, threads and descriptors, load, steal
time, and library versions."""

from __future__ import annotations

import os
import platform
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(pid: int) -> list[int]:
    """``pid`` and all its descendants (Python plus the JVM it forked)."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def alive(pid: int) -> bool:
    """Whether ``pid`` still runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def tree_rss_mb(pid: int) -> float:
    return sum(_status(p, "VmRSS") for p in tree(pid)) / 1024.0


def tree_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of the tree's live processes."""
    total = 0
    for p in tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / _TICK


def tree_threads_fds(pid: int) -> tuple[int, int]:
    threads = fds = 0
    for p in tree(pid):
        threads += _status(p, "Threads")
        try:
            fds += len(os.listdir(f"/proc/{p}/fd"))
        except OSError:
            pass
    return threads, fds


def cpu_times() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


class RssSampler:
    """Samples a process tree's RSS on a thread; ``peak_mb`` is the
    highest total seen."""

    def __init__(self, pid: int, every_s: float = 0.25):
        self.pid = pid
        self.every_s = every_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))
            self._stop.wait(self.every_s)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))
        return self.peak_mb


class Window:
    """Load and steal over one measured window."""

    def __init__(self):
        self.load_start = os.getloadavg()
        self._cpu0 = cpu_times()
        self._t0 = time.perf_counter()

    def close(self) -> dict:
        tot1, st1 = cpu_times()
        tot0, st0 = self._cpu0
        return {
            "seconds": round(time.perf_counter() - self._t0, 3),
            "load_start": [round(x, 2) for x in self.load_start],
            "load_end": [round(x, 2) for x in os.getloadavg()],
            "steal_share": round((st1 - st0) / max(1, tot1 - tot0), 5),
        }


def versions() -> dict:
    out = {"python": platform.python_version()}
    for mod in ("pyspark", "pyarrow", "duckdb"):
        try:
            out[mod] = __import__(mod).__version__
        except ImportError:
            out[mod] = None
    return out


def git_sha(root: str) -> str | None:
    """HEAD of ``root`` when it is a git checkout, else None."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None
