"""Host sizing, noise record and process-tree bookkeeping, read from
/proc. Nothing here changes a measured number: the noise record is
stored beside the metrics so drift between runs can be seen."""

from __future__ import annotations

import os
import signal
import statistics
import threading
import time
from typing import Dict, List


def affinity() -> List[int]:
    return sorted(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem(total_mb: int) -> str:
    """Spark driver heap: a fifth of physical memory, 1g..4g. The
    machine is shared, and local mode runs executors inside the
    driver JVM, so this is the whole engine's heap."""
    return f"{max(1, min(4, total_mb // 5 // 1024))}g"


def _cpu_times() -> List[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def burn_probe() -> float:
    """Median seconds of a fixed pure-Python loop (3 tries)."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append(time.perf_counter() - t)
    return statistics.median(times)


class NoiseRecord:
    """Steal share of all CPU time over the run, load average at start
    and end, and the burn probe at start and end."""

    def __init__(self) -> None:
        self.cpu0 = _cpu_times()
        self.load0 = os.getloadavg()[0]
        self.burn0 = burn_probe()

    def finish(self) -> Dict:
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self.cpu0, cpu1)]
        total = sum(delta[:8]) or 1  # user..steal; guest is inside user
        return {
            "steal_share": round(delta[7] / total, 5),
            "loadavg_start": self.load0,
            "loadavg_end": os.getloadavg()[0],
            "burn_s_start": round(self.burn0, 5),
            "burn_s_end": round(burn_probe(), 5),
        }


def children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int) -> List[int]:
    """``root`` and all its descendants."""
    kids = children_map()
    out, i = [root], 0
    while i < len(out):
        out.extend(kids.get(out[i], []))
        i += 1
    return out


def cpu_s(pids: List[int]) -> float:
    """User + system CPU seconds the live processes ``pids`` and their
    reaped children have used (all threads). Steal time is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def cpu_split(root: int):
    """(CPU seconds of ``root``'s process tree, the part of it spent in
    the Python workers the JVM forks), as ``cpu_s`` counts them."""
    pids = tree(root)
    py = []
    for p in pids[1:]:
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().startswith("python"):
                    py.append(p)
        except OSError:
            continue  # exited while listing
    return cpu_s(pids), cpu_s(py)


def pss_mb(pids: List[int]) -> float:
    """Summed proportional set size: pages shared between the forked
    Python workers count once in total, not once per worker."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue  # exited while sampling
    return total_kb / 1024


class MemSampler(threading.Thread):
    """Peak summed PSS of a process tree (the worker, its JVM and the
    JVM's Python workers), sampled every ``period`` seconds."""

    def __init__(self, root: int, period: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.root, self.period = root, period
        self.peak = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, pss_mb(tree(self.root)))
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=5)
        return self.peak


def _marked(entry: bytes) -> List[int]:
    """Live processes whose environment holds ``entry`` (KEY=VALUE)."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                env = f.read().split(b"\0")
            with open(f"/proc/{d}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except (OSError, IndexError):
            continue  # exited while listing
        if entry in env and state != "Z":
            out.append(int(d))
    return out


def kill_marked(entry: bytes, timeout: float = 20.0) -> None:
    """SIGKILL every process carrying ``entry`` in its environment and
    wait until none is left. Every process a worker starts inherits
    it: the JVM, and the Python daemon and workers, which move to a
    process group of their own and outlive their parent briefly."""
    deadline = time.monotonic() + timeout
    while True:
        pids = _marked(entry)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass  # already gone
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} survived SIGKILL")
        time.sleep(0.05)
