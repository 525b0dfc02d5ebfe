"""Host record and process-tree memory sampling.

The host record (core counts, load average, CPU probes) is kept for
diagnosing noisy runs only; it never normalises a metric.
"""

from __future__ import annotations

import concurrent.futures
import hashlib
import os
import threading
import time


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def _hash_work() -> None:
    buf = b"\x5a" * (1 << 20)
    h = hashlib.sha256()
    for _ in range(32):
        h.update(buf)
    h.digest()


def cpu_probe_ms() -> float:
    """Single-core reference: ms to SHA-256 a 1 MiB buffer 32 times."""
    t0 = time.perf_counter()
    _hash_work()
    return (time.perf_counter() - t0) * 1000.0


def mt_probe_ms() -> float:
    """All-core reference: ms for one hashing thread per core to finish
    the single-core probe's work concurrently (sha256 releases the GIL).
    Near-ideal scaling reads close to ``cpu_probe_ms``."""
    n = os.cpu_count() or 1
    t0 = time.perf_counter()
    with concurrent.futures.ThreadPoolExecutor(max_workers=n) as ex:
        for f in [ex.submit(_hash_work) for _ in range(n)]:
            f.result()
    return (time.perf_counter() - t0) * 1000.0


def cpu_jiffies() -> dict[str, int]:
    """Host-wide CPU time by state since boot (first line of /proc/stat);
    ``steal`` is time the hypervisor gave this VM's vCPUs to others."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()[1:9]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, map(int, fields)))


def host_record() -> dict:
    load1, load5, load15 = os.getloadavg()
    return {
        "loadavg": [load1, load5, load15],
        "cpu_probe_ms": cpu_probe_ms(),
        "mt_probe_ms": mt_probe_ms(),
        "cpu_jiffies": cpu_jiffies(),
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_pss(pid: int) -> dict[int, int]:
    """Proportional resident bytes of ``pid`` and each of its descendants.

    A page shared by n processes counts 1/n to each, so the sum counts
    every resident page of the tree once, also the pages a forked child
    (a Python worker, or the JVM between fork and exec) still shares with
    its parent; summing plain RSS would count those twice."""
    out = {}
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        out[p] = int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # exited since it was listed
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="utf-8") as f:
            return f.read().strip()
    except OSError:
        return "?"


class TreeRssSampler:
    """Samples the resident memory of this process and all its
    descendants (driver JVM, Python workers) as summed PSS on a background
    thread; ``peak_mb`` is the largest simultaneous total seen."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict[str, float] = {}  # MB per command name at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        rss = tree_pss(os.getpid())
        total = sum(rss.values())
        if total > self.peak:
            self.peak = total
            by_comm: dict[str, float] = {}
            for p, b in rss.items():
                name = _comm(p)
                by_comm[name] = by_comm.get(name, 0.0) + b / (1 << 20)
            self.at_peak = by_comm

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "TreeRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)
