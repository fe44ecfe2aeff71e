"""Small measurement helpers: percentiles with their sample counts,
process-tree RSS and on-disk byte counts. Pure Python, no Spark."""

from __future__ import annotations

import math
import os
import threading


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of ``values``,
    the same rule as ``numpy.percentile``'s default."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"q={q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summary(values: list[float]) -> dict:
    """Median, the highest percentile with at least ten samples beyond it
    (None below 20 samples), and the sample count behind both."""
    out = {"n": len(values),
           "p50": percentile(values, 50.0) if values else None,
           "tail_q": None, "tail": None}
    for q in (99.0, 90.0):
        if len(values) * (100.0 - q) / 100.0 >= 10:
            out["tail_q"], out["tail"] = q, percentile(values, q)
            break
    return out


def cpu_jiffies(proc: str = "/proc") -> tuple[int, int]:
    """(busy, steal) jiffies of all CPUs since boot, from ``/proc/stat``.
    Busy is user + nice + system + irq + softirq; steal is time the
    hypervisor ran something else while a vCPU of this VM was runnable."""
    with open(os.path.join(proc, "stat")) as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the runnable CPU time between two ``cpu_jiffies`` readings
    that the hypervisor stole. Kept beside each timing in the run record:
    a high share marks a timing taken on a contended host."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live descendant, found by walking the parent
    links in ``/proc/<pid>/stat``."""
    return list(tree_parents(root, proc))


def tree_parents(root: int, proc: str = "/proc") -> dict[int, int]:
    """``{pid: parent pid}`` of ``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as f:
                stat = f.read()
        except OSError:  # exited while we walked
            continue
        # the command name is parenthesised and may itself hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = {}, [(root, 0)]
    while todo:
        pid, ppid = todo.pop()
        out[pid] = ppid
        todo.extend((c, pid) for c in children.get(pid, ()))
    return out


def _exe(pid: int, proc: str = "/proc") -> str | None:
    try:
        return os.readlink(os.path.join(proc, str(pid), "exe"))
    except OSError:
        return None


def own_memory_pids(root: int, proc: str = "/proc") -> list[int]:
    """``tree_pids`` less the children of a JVM still running the JVM's
    own binary. The JVM starts each Python worker daemon with a fork or
    vfork and an exec; until the exec the child shares or copies the
    JVM's pages, and its RSS would count the JVM's memory twice."""
    tree = tree_parents(root, proc)
    exe = {p: _exe(p, proc) for p in tree}
    return [p for p, pp in tree.items()
            if not (exe[p] is not None and exe[p] == exe.get(pp)
                    and os.path.basename(exe[p]) == "java")]


def rss_bytes(pid: int, proc: str = "/proc") -> int:
    """Resident set size of one process, 0 if it has exited."""
    try:
        with open(os.path.join(proc, str(pid), "status")) as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _name(pid: int, proc: str = "/proc") -> str:
    try:
        with open(os.path.join(proc, str(pid), "comm")) as f:
            return f.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Background sampler of the process tree's summed RSS (JVM, driver
    and Python workers); ``peak`` holds the largest sum seen and
    ``at_peak`` each process's (name, RSS bytes) at that moment."""

    def __init__(self, root: int | None = None, interval_s: float = 0.25):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: list[tuple[str, int]] = []
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            pids = own_memory_pids(self.root)
            rss = [rss_bytes(p) for p in pids]
            if sum(rss) > self.peak:
                self.peak = sum(rss)
                self.at_peak = [(_name(p), r) for p, r in zip(pids, rss)]
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def dir_bytes(path: str, data_only: bool = False) -> int:
    """Bytes of the regular files under ``path``. ``data_only`` skips the
    files a parquet writer leaves beside the data (``_SUCCESS``, ``.crc``
    checksums and other dot/underscore files)."""
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            if data_only and f.startswith(("_", ".")):
                continue
            p = os.path.join(d, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def data_files(path: str) -> list[str]:
    """Parquet data files under a store directory."""
    return sorted(os.path.join(d, f) for d, _dirs, files in os.walk(path)
                  for f in files
                  if f.endswith(".parquet") and not f.startswith(("_", ".")))
