"""Host probes: a pinned calibration workload and a peak-RSS sampler.

The calibration runs the same fixed work at the start and the end of
every run, separately for the JVM (a ``spark.range`` aggregate), the
Python workers (a ``mapInPandas`` pass) and the driver (a numpy GEMM),
so a loaded host shows up as slower calibration instead of being
inferred from the program's own timings.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np


def _identity_batches(it):
    for pdf in it:
        yield pdf[["id"]]


def _median_ms(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append((time.perf_counter() - t0) * 1000)
    return statistics.median(walls)


def calibrate(spark) -> dict[str, float]:
    jvm = spark.range(0, 4_000_000, numPartitions=4).selectExpr("sum(id % 7) AS s")
    py = spark.range(0, 2_000, numPartitions=2).mapInPandas(_identity_batches, "id BIGINT")
    rng = np.random.default_rng(0)
    a, b = rng.random((256, 256)), rng.random((256, 256))

    def gemm():
        for _ in range(20):
            a @ b

    return {
        "calib.jvm_ms": _median_ms(jvm.collect),
        "calib.pyworker_ms": _median_ms(py.count),
        "calib.numpy_ms": _median_ms(gemm),
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the time the
    hypervisor ran another guest while this one had work."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants: the Python driver, the driver
    JVM it launched and the JVM's Python workers."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parents.get(pid, []))
    return out


class PeakRss:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in _tree(os.getpid()))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
