"""The repository benchmark.

    python3 perfbench/run.py --workload records-api --seed 1 --seconds 25 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``records-api``: GET /records through the real HTTP server under a
  closed loop of 4 clients in a separate process;
- ``ingest-curate``: one operation drains a KPL backlog with
  Structured Streaming ``Trigger.AvailableNow`` from the Python data
  source, then runs curation -> chunk -> pack, image decode + pHash and
  SemDeDup over a generated multimodal corpus.

Every input is generated from ``--seed`` inside a per-run directory
that is removed at the end. The program's outputs are checked outside
the timed window. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``). Run it from the repository root; it exits non-zero
without a result when the package is not there.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_DIR = os.path.join(ROOT, "kinesis_stream_reader_spark")
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
CPUS = 4
WORKLOADS = {"records-api": "records", "ingest-curate": "batch"}


def declared_metrics(trace: bool) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def isolate(run_dir: str) -> None:
    """Point every scratch, temp and spill location of the package, Spark
    and the JVM into ``run_dir``, and put the repository on the Python
    workers' path. Must run before the package is imported: its
    session module reads these at import time."""
    scratch, local, tmp = (os.path.join(run_dir, d) for d in ("scratch", "local", "tmp"))
    for d in (scratch, local, tmp):
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        {
            "KSR_SCRATCH": scratch,
            "SPARK_GRAFT_LOCAL_DIR": local,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
            # spark-submit's launcher JVM, which the driver options miss
            "SPARK_LAUNCHER_OPTS": java_opts,
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options {shlex.quote(java_opts)} "
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Context:
    """What a workload needs and what it reports."""

    def __init__(self, args, run_dir: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.started = time.perf_counter()
        self.spark = None
        self.metrics: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.cpu_ticks = (0, 0)  # /proc/stat (steal, total) at the window start
        self._cleanups: list = []

    def start_spark(self, cpus: int = CPUS):
        from kinesis_stream_reader_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}", cpus=cpus)
        return self.spark

    def setup_done(self) -> None:
        self.metrics["setup_s"] = time.perf_counter() - self.started

    def record(self, ok_or_reason: str | None, what: str = "") -> None:
        """Count one attempted operation; a reason marks it failed."""
        self.attempted += 1
        if ok_or_reason is not None:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{what}: {ok_or_reason}")

    def on_exit(self, fn) -> None:
        self._cleanups.append(fn)

    def close(self) -> None:
        for fn in reversed(self._cleanups):
            try:
                fn()
            except Exception:  # teardown must go on
                traceback.print_exc()
        stop_spark()


def stop_spark() -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until the JVM has exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(PACKAGE_DIR, "__init__.py")):
        print(f"perfbench: package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2
    declared = declared_metrics(bool(args.trace))

    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=RUNS_DIR)
    isolate(run_dir)
    from perfbench.common import COMMON_LAYERS

    mod = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
    ctx = Context(args, run_dir)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        mod.run(ctx)
    finally:
        ctx.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    for err in ctx.errors:
        print(f"perfbench: wrong output: {err}", file=sys.stderr)
    # a traced run reports the layers off this workload's path as 0: the
    # prediction for them is "flat"
    own = set(COMMON_LAYERS) | set(mod.LAYERS) if ctx.trace else set(declared)
    missing = sorted(n for n in own if n not in ctx.metrics)
    if missing:
        print(f"perfbench: workload did not measure {missing}", file=sys.stderr)
        return 3
    metrics = {
        name: {"value": float(ctx.metrics.get(name, 0.0)), "unit": unit}
        for name, unit in declared.items()
    }
    extra = sorted(set(ctx.metrics) - set(declared))
    if extra:
        print(f"perfbench: also measured {extra}: "
              + json.dumps({k: ctx.metrics[k] for k in extra}), file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed if ctx.attempted else 1,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
