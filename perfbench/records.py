"""records-api: GET /records end to end under 4 closed-loop clients.

The real ``http_server.serve(RecordsApp(spark_records_fn(spark, dir)))``
runs in this process over a generated events table; the clients run in
a separate process (``client.py``). Operations are requests; each
response is checked against DuckDB after the window.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import check, common, gen
from perfbench.client import CLIENTS, fetch

LAYERS = (
    "api.validate_us", "http_server.handle_ms", "http_server.outside_handle_ms",
    "http_server.collect_ms", "http_server.jobs_per_req", "http_server.tasks_per_req",
    "http_server.rows_per_req", "http_server.body_kb", "plans.pipeline.plan_ms",
    "sources.tables.load_ms",
)
HERE = os.path.dirname(os.path.abspath(__file__))


def _serve(spark, data_dir: str, wrap_records_fn=None):
    from kinesis_stream_reader_spark.http_server import RecordsApp, serve, spark_records_fn

    records_fn = spark_records_fn(spark, data_dir)
    if wrap_records_fn is not None:
        records_fn = wrap_records_fn(records_fn)
    return serve(RecordsApp(records_fn))


def _load(ctx, port: int, schedule: list[dict], seconds: float) -> dict:
    """One closed-loop window from the client process."""
    sched_path = os.path.join(ctx.run_dir, "schedule.json")
    out_path = os.path.join(ctx.run_dir, f"load-{port}.json")
    with open(sched_path, "w") as fh:
        json.dump([s["query"] for s in schedule], fh)
    subprocess.run(
        [sys.executable, os.path.join(HERE, "client.py"), "--port", str(port),
         "--schedule", sched_path, "--seconds", str(seconds), "--out", out_path],
        check=True, timeout=seconds + 150,
    )
    with open(out_path) as fh:
        return json.load(fh)


def closed_loop_rate(requests: list) -> float:
    """Completed requests per second of client busy time: each client
    is busy from the window start to its last completion, so the rate
    is the count over the clients' mean busy span (the window plus the
    request each client had in flight at its end)."""
    busy: dict[int, float] = {}
    for r in requests:
        busy[r[4]] = max(busy.get(r[4], 0.0), r[5])
    return len(requests) / (sum(busy.values()) / len(busy))


def _warmup(port: int, schedule: list[dict]) -> float:
    """First request after start (timed: the cold plan/codegen cost),
    then one block of the schedule from 4 threads. Without the block the
    window measured the JVM still compiling the request path: one seed
    ran 2.4-2.8 requests/s against 3.75-3.84 after the block, on a
    4-vCPU VM."""
    t0 = time.perf_counter()
    fetch(port, next(s["query"] for s in schedule if s["kind"] == "selective"))
    first_ms = (time.perf_counter() - t0) * 1000
    block = [s["query"] for s in schedule[: len(gen.BLOCK_ORDER)]]
    with ThreadPoolExecutor(CLIENTS) as pool:
        list(pool.map(lambda q: fetch(port, q), block))
    return first_ms


def _check(ctx, oracle, schedule: list[dict], load: dict) -> None:
    for idx, status, _, body, *_ in load["requests"]:
        query = schedule[idx % len(schedule)]["query"]
        try:
            parsed = json.loads(body)
        except ValueError:
            ctx.record("body is not JSON", f"request {idx}")
            continue
        ctx.record(check.check_response(oracle, query, status, parsed), f"request {idx} {query}")


def run(ctx) -> None:
    spark = ctx.start_spark()
    gen.write_events(ctx.seed, ctx.data_dir)
    schedule = gen.request_schedule(ctx.seed)
    server = _serve(spark, ctx.data_dir)
    ctx.on_exit(server.server_close)
    ctx.on_exit(server.shutdown)
    first_ms = _warmup(server.server_address[1], schedule)
    ctx.setup_done()
    ctx.metrics["warmup.first_op_ms"] = first_ms
    common.calibration(ctx, "start")

    window = ctx.seconds / 2 if ctx.trace else ctx.seconds
    load = _load(ctx, server.server_address[1], schedule, window)
    common.calibration(ctx, "end")

    latencies = [r[2] for r in load["requests"]]
    ctx.metrics["ops_per_s"] = closed_loop_rate(load["requests"])
    ctx.metrics["p50_ms"] = common.median(latencies)
    print(f"perfbench: {len(latencies)} requests in {load['elapsed_s']:.2f} s; latencies (ms) "
          f"{sorted(round(x) for x in latencies)}", file=sys.stderr)

    traced = None
    if ctx.trace:
        from perfbench import probes

        with probes.PeakRss() as rss:
            traced, tracer, groups = _traced_window(ctx, schedule, window)
        ctx.metrics["session.peak_rss_mb"] = rss.peak_mb
        _layer_metrics(ctx, tracer, groups, traced, latencies)
        tracer.write(common.trace_path(ctx))

    oracle = check.RecordsOracle(os.path.join(ctx.data_dir, "events.parquet"))
    _check(ctx, oracle, schedule, load)
    if traced is not None:
        _check(ctx, oracle, schedule, traced)


def _traced_window(ctx, schedule, seconds):
    """Wrap the layers' public functions, build a second server from
    the wrapped functions, and run a closed-loop window against it."""
    import kinesis_stream_reader_spark.api as api
    import kinesis_stream_reader_spark.http_server as http_server
    import kinesis_stream_reader_spark.operators.events as events
    import kinesis_stream_reader_spark.operators.filters as filters
    import kinesis_stream_reader_spark.plans.pipeline as pipeline
    import kinesis_stream_reader_spark.sources.tables as tables
    from perfbench.trace import Tracer

    tracer = Tracer()
    tracer.wrap_method(http_server.RecordsApp, "handle", "http_server.handle", new_tag=True)
    tracer.wrap_method(api.QueryParamValidator, "validate_params", "api.validate_params")
    tracer.wrap_function(tables, "load_events", "sources.tables.load_events")
    tracer.wrap_function(events, "to_nested", "operators.events.to_nested")
    tracer.wrap_function(events, "flatten_ids", "operators.events.flatten_ids")
    tracer.wrap_function(pipeline, "records_plan", "plans.pipeline.records_plan")
    tracer.wrap_function(filters, "filter_records", "operators.filters.filter_records")
    tracer.wrap_function(filters, "with_data_relative_window", "operators.filters.window")

    sc = ctx.spark.sparkContext
    status = sc.statusTracker()
    groups: dict[str, tuple[int, int]] = {}  # tag -> (jobs, tasks)

    def with_job_group(fn):
        traced_fn = tracer.wrap_callable(fn, "http_server.records_fn")

        def records_fn(query):
            tag = tracer.tag
            sc.setJobGroup(tag, tag)
            try:
                return traced_fn(query)
            finally:
                sc.setJobGroup("", "")
                jobs = status.getJobIdsForGroup(tag)
                tasks = 0
                for j in jobs:
                    info = status.getJobInfo(j)
                    for s in info.stageIds if info else ():
                        stage = status.getStageInfo(s)
                        tasks += stage.numTasks if stage else 0
                groups[tag] = (len(jobs), tasks)

        return records_fn

    server = _serve(ctx.spark, ctx.data_dir, with_job_group)
    try:
        fetch(server.server_address[1], schedule[0]["query"])  # warm the wrapped plan path
        traced = _load(ctx, server.server_address[1], schedule, seconds)
    finally:
        server.shutdown()
        server.server_close()
        tracer.restore()
    return traced, tracer, groups


def _layer_metrics(ctx, tracer, groups, traced: dict, untraced_latencies: list[float]) -> None:
    m = ctx.metrics
    spans = tracer.spans
    handle = {s.tag: (s.end - s.start) * 1000 for s in spans if s.name == "http_server.handle"}
    selft = tracer.self_times()
    validate = [selft[s.id] * 1e6 for s in spans if s.name == "api.validate_params"]
    collect = [selft[s.id] * 1000 for s in spans if s.name == "http_server.records_fn"]
    plan = tracer.by_tag(
        {"sources.tables.load_events", "operators.events.to_nested",
         "plans.pipeline.records_plan", "operators.events.flatten_ids"}
    )
    load = tracer.by_tag({"sources.tables.load_events"})
    latencies = [r[2] for r in traced["requests"]]
    ok_rows = [len(json.loads(r[3])) for r in traced["requests"] if r[1] == 200]

    m["api.validate_us"] = common.median(validate)
    m["http_server.handle_ms"] = common.median(list(handle.values()))
    # means, so that client latency and handle time need no per-request match
    m["http_server.outside_handle_ms"] = (
        sum(latencies) / len(latencies) - sum(handle.values()) / max(len(handle), 1)
    )
    m["http_server.collect_ms"] = common.median(collect)
    m["http_server.jobs_per_req"] = sum(j for j, _ in groups.values()) / max(len(groups), 1)
    m["http_server.tasks_per_req"] = sum(t for _, t in groups.values()) / max(len(groups), 1)
    m["http_server.rows_per_req"] = sum(ok_rows) / max(len(ok_rows), 1)
    m["http_server.body_kb"] = sum(len(r[3]) for r in traced["requests"]) / 1024 / len(latencies)
    m["plans.pipeline.plan_ms"] = common.median([v * 1000 for v in plan.values()])
    m["sources.tables.load_ms"] = common.median([v * 1000 for v in load.values()])
    m["trace.overhead_ratio"] = common.median(latencies) / common.median(untraced_latencies)
