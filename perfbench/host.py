"""Host block and memory sampling, read from ``/proc``.

Recorded, not gated: the CPU canary and steal explain a slow run after
the fact (a slow host reads slow on every row, a regression on some)."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading
import time
from pathlib import Path


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_canary() -> float:
    """Seconds of a fixed pure-Python loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def cpu_times() -> "tuple[int, int]":
    """``(steal, total)`` jiffies of all CPUs from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def source_digest(root: Path) -> str:
    """SHA-256 over the package sources, for checkouts without git."""
    h = hashlib.sha256()
    for path in sorted((root / "zcollection_spark").rglob("*.py")):
        h.update(str(path.relative_to(root)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def commit(root: Path) -> "str | None":
    """HEAD of the checkout, when the checkout itself is a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                             cwd=root, capture_output=True, text=True,
                             timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 \
            or Path(lines[0]).resolve() != root:
        return None
    return lines[1]


class HostBlock:
    """Host facts taken at the start and the end of a run."""

    def __init__(self, root: Path):
        import pyspark
        self.root = root
        self.start = {"canary_s": cpu_canary(), "cpu": cpu_times()}
        self.info = {
            "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "commit": commit(root),
            "source_digest": source_digest(root),
        }

    def finish(self) -> dict:
        steal0, total0 = self.start["cpu"]
        steal1, total1 = cpu_times()
        return {**self.info,
                "canary_before_s": round(self.start["canary_s"], 4),
                "canary_after_s": round(cpu_canary(), 4),
                "cpu_steal_share": round(
                    (steal1 - steal0) / max(total1 - total0, 1), 5)}


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and every descendant (the JVM, the Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Peak summed RSS of this process and its descendants."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(pid) for pid in process_tree(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
