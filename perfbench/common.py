"""Helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics
import sys
import time

from perfbench import probes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# per-layer metrics every traced run measures, whatever the workload
COMMON_LAYERS = (
    "calib.jvm_ms", "calib.pyworker_ms", "calib.numpy_ms",
    "calib.jvm_ms_end", "calib.pyworker_ms_end", "calib.numpy_ms_end", "calib.steal_pct",
    "session.peak_rss_mb", "trace.overhead_ratio", "warmup.first_op_ms",
)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def calibration(ctx, when: str) -> None:
    """Run the host calibration; its numbers are per-layer metrics of a
    traced run and go to stderr otherwise. ``when`` is start or end;
    between the two, the share of CPU time stolen by the hypervisor is
    measured too."""
    if when == "end":
        steal, total = (b - a for a, b in zip(ctx.cpu_ticks, probes.cpu_ticks()))
        ctx.metrics["calib.steal_pct"] = 100 * steal / max(total, 1)
    cal = probes.calibrate(ctx.spark)
    if when == "start":
        ctx.cpu_ticks = probes.cpu_ticks()
    else:
        cal = {f"{k}_end": v for k, v in cal.items()}
    ctx.metrics.update(cal)
    print(f"perfbench: calibration at {when}: {cal}", file=sys.stderr)


def repeat_for(seconds: float, op) -> list[float]:
    """Run ``op`` back to back for ``seconds``: at least once, then
    again only while the median call so far still fits in the window.
    Returns each call's wall in ms."""
    walls: list[float] = []
    deadline = time.perf_counter() + seconds
    while not walls or time.perf_counter() + median(walls) / 1000 <= deadline:
        t0 = time.perf_counter()
        op()
        walls.append((time.perf_counter() - t0) * 1000)
    return walls


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def trace_path(ctx) -> str:
    """Where a traced run writes its spans (one JSON object per line)."""
    out = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(out, exist_ok=True)
    return os.path.join(out, f"{ctx.workload}-{ctx.seed}.jsonl")
