"""ingest-curate: the batch side of the system, one operation at a time.

One operation drains the generated KPL backlog with
``Trigger.AvailableNow`` (``kpl.py``: ``python_source``, ``ingest``,
``filters`` over parsed JSON, ``streaming.jobs``) and then runs the
curation job over the generated multimodal corpus (``corpus.py``:
``plans.curate``/``plans.training``, ``text``, ``dedup``,
``similarity``, ``multimodal``). Both are backlogs handed over whole,
so operations run back to back. Every drain's sink and every job's
outputs are checked after the window.

The two halves share one workload because each is an operation of
several seconds that is mostly fixed cost: run apart, neither held
enough operations in a window to be steady.
"""

from __future__ import annotations

import os
import sys
import time

from perfbench import common, corpus, gen, kpl

LAYERS = kpl.LAYERS + corpus.LAYERS
# two Spark task slots: each task of the pandas UDFs keeps a JVM thread
# and a Python worker busy, so four slots oversubscribe a 4-core host
CPUS = 2


def run(ctx) -> None:
    spark = ctx.start_spark(cpus=CPUS)
    kpl.register_source(spark)
    kpl_inputs = gen.write_kpl_shards(ctx.seed, os.path.join(ctx.data_dir, "shards"))
    corpus_inputs = gen.write_corpus(ctx.seed, os.path.join(ctx.data_dir, "corpus"))
    drain = kpl.Drain(spark, kpl_inputs, kpl.event_ddl())
    job = corpus.Job(spark, corpus_inputs)
    sinks, outputs = [], []
    splits = []  # (drain, job) wall of each operation, ms

    def op() -> None:
        t0 = time.perf_counter()
        sinks.append(drain())
        t1 = time.perf_counter()
        outputs.append(job())
        splits.append((round((t1 - t0) * 1000), round((time.perf_counter() - t1) * 1000)))

    t0 = time.perf_counter()
    op()
    first_ms = (time.perf_counter() - t0) * 1000
    # a second operation before the window: the JVM is still compiling
    # after the first (nine operations in one session on a 4-vCPU VM:
    # the first took 29.4 s, the next two 10.8-11.5 s, the rest
    # 9.5-10.9 s), and a window that opened on it held one slow
    # operation or two faster ones
    op()
    ctx.setup_done()
    ctx.metrics["warmup.first_op_ms"] = first_ms
    common.calibration(ctx, "start")

    tmp_root = os.path.join(ctx.run_dir, "local")
    before = common.dir_bytes(tmp_root)
    window = ctx.seconds / 2 if ctx.trace else ctx.seconds
    walls = common.repeat_for(window, op)
    # what the drains left under the temp root (run_available_now keeps
    # each drain's parquet output directory)
    leaked_mb = (common.dir_bytes(tmp_root) - before) / 1e6 / len(walls)
    common.calibration(ctx, "end")
    ctx.metrics["ops_per_s"] = common.median([1000 / w for w in walls])
    ctx.metrics["p50_ms"] = common.median(walls)
    print(f"perfbench: {len(walls)} operations, each a drain of {kpl_inputs.n_user_delivered} "
          f"records ({kpl_inputs.n_wire} wire records) and a job over {corpus_inputs.n_docs} "
          f"documents; (drain, job) walls (ms) from the first {splits}", file=sys.stderr)

    curated_ids = None
    if ctx.trace:
        from perfbench import probes

        with probes.PeakRss() as rss:
            curated_ids = _traced(ctx, drain, job, corpus_inputs, sinks, outputs, walls)
        ctx.metrics["session.peak_rss_mb"] = rss.peak_mb
        ctx.metrics["streaming.leaked_mb"] = leaked_mb
    kpl.check_sinks(ctx, spark, kpl_inputs, sinks)
    if ctx.trace:
        # restarts Spark on one core, so it comes after every check
        # that reads a sink
        ctx.metrics["ingest.records_per_s_1core"] = kpl.one_core_rate(ctx, kpl_inputs, drain.ddl)
    corpus.check_outputs(ctx, corpus_inputs, outputs, curated_ids)


def _traced(ctx, drain: kpl.Drain, job: corpus.Job, corpus_inputs: gen.CorpusInputs,
            sinks: list, outputs: list, untraced_walls: list[float]) -> set:
    """One traced operation with a streaming progress listener, then the
    layers' prefix timings. Returns the curated ids the traced job's
    curate_corpus call produced."""
    from perfbench.trace import Tracer

    spark = ctx.spark
    tracer = Tracer()
    kpl.wrap(tracer)
    corpus.wrap(tracer)
    progress = kpl.Progress()
    spark.streams.addListener(progress.listener)
    try:
        t0 = time.perf_counter()
        sinks.append(drain())
        outputs.append(job())
        wall = (time.perf_counter() - t0) * 1000
    finally:
        time.sleep(1.0)  # progress events arrive asynchronously
        spark.streams.removeListener(progress.listener)
        tracer.restore()
    tracer.write(common.trace_path(ctx))
    ctx.metrics["trace.overhead_ratio"] = wall / common.median(untraced_walls)
    ctx.metrics.update(kpl.layer_metrics(spark, drain.inputs, drain.ddl, progress))
    metrics, curated_ids = corpus.layer_metrics(tracer, job, corpus_inputs)
    ctx.metrics.update(metrics)
    return curated_ids
