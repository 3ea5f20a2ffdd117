"""The ingest half of ingest-curate: the reference's ingest path as a
Structured Streaming backlog drain.

``kinesis_backfill`` streaming read -> ``deagg_explode`` ->
``json_parse`` -> ``filter_records`` (one serverName and one id filter)
-> ``jobs.run_available_now`` parquet sink. A drain takes the whole
backlog; every drain's sink is checked against the generator's planted
set.

The drain reads without ``maxRecordsPerShardPerBatch``: under
AvailableNow the capped source delivers only its first window (see
NOTES.md), so each drain is one micro-batch.
"""

from __future__ import annotations

import base64
import json
import os
import time

from perfbench import check, common, gen

LAYERS = (
    "python_source.read_s", "ingest.deagg_s", "ingest.kpl_decode_us", "ingest.parse_s",
    "filters.filter_s", "streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.latest_offset_ms", "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.leaked_mb", "ingest.records_per_s_1core",
)

def event_ddl() -> str:
    """schema.EVENT_SCHEMA as a DDL string json_parse accepts: every
    field name backtick-quoted, since the nested branch names contain
    dots (``EVENT_SCHEMA.simpleString()`` does not parse)."""
    from pyspark.sql.types import StructType

    from kinesis_stream_reader_spark.schema import EVENT_SCHEMA

    def ddl(t) -> str:
        if isinstance(t, StructType):
            return "STRUCT<" + ", ".join(f"`{f.name}`: {ddl(f.dataType)}" for f in t.fields) + ">"
        return t.simpleString().upper()

    return ", ".join(f"`{f.name}` {ddl(f.dataType)}" for f in EVENT_SCHEMA.fields)


class Drain:
    """One drain of the generated backlog through the streaming pipeline."""

    def __init__(self, spark, inputs: gen.KplInputs, ddl: str) -> None:
        self.spark = spark
        self.inputs = inputs
        self.ddl = ddl
        self.n = 0

    def __call__(self):
        from kinesis_stream_reader_spark.operators.filters import filter_records
        from kinesis_stream_reader_spark.operators.ingest import deagg_explode, json_parse
        from kinesis_stream_reader_spark.streaming.jobs import run_available_now

        stream = (
            self.spark.readStream.format("kinesis_backfill")
            .option("path", self.inputs.shard_dir)
            .load()
            # the payload's own sequence_number would clash with the
            # source column of the same name after json_parse
            .drop("sequence_number")
        )
        parsed = json_parse(deagg_explode(stream), schema=self.ddl)
        self.n += 1
        return run_available_now(filter_records(parsed, self.inputs.query), f"kpl_drain_{self.n}")


def register_source(spark) -> None:
    from kinesis_stream_reader_spark.sources.python_source import KinesisBackfillDataSource

    spark.dataSource.register(KinesisBackfillDataSource)


def check_sinks(ctx, spark, inputs: gen.KplInputs, sinks: list) -> None:
    """Every drain's sink against the planted set, and one batch census
    of the parsed records against the planted drop and INVALID JSON
    counts."""
    from pyspark.sql import functions as F

    from kinesis_stream_reader_spark.operators.ingest import deagg_explode, json_parse

    for i, sink in enumerate(sinks):
        seq = [r[0] for r in sink.select("sequence_number").collect()]
        ctx.record(check.check_drain(seq, inputs.expected_seq), f"drain {i}")
    batch = spark.read.format("kinesis_backfill").option("path", inputs.shard_dir).load()
    counts = json_parse(deagg_explode(batch.drop("sequence_number")), schema=event_ddl()).agg(
        F.count("*"), F.count("INVALID JSON")
    ).first()
    ctx.record(
        check.check_parse_counts(counts[0], counts[1], inputs.n_user_delivered, inputs.n_invalid_json),
        "batch parse census",
    )


class Progress:
    """StreamingQueryListener collecting every progress event."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


def wrap(tracer) -> None:
    """Trace the ingest path's public functions."""
    import kinesis_stream_reader_spark.operators.filters as filters
    import kinesis_stream_reader_spark.operators.ingest as ingest
    import kinesis_stream_reader_spark.streaming.jobs as jobs

    tracer.wrap_function(ingest, "deagg_explode", "operators.ingest.deagg_explode")
    tracer.wrap_function(ingest, "json_parse", "operators.ingest.json_parse")
    tracer.wrap_function(filters, "filter_records", "operators.filters.filter_records")
    tracer.wrap_function(jobs, "run_available_now", "streaming.jobs.run_available_now")


def layer_metrics(spark, inputs: gen.KplInputs, ddl: str, progress: Progress) -> dict[str, float]:
    """After a traced drain: its progress durations, the prefix timings
    and the driver-side decode cost."""
    out = _progress_metrics(progress.events)
    out.update(_prefix_times(spark, inputs, ddl))
    out["ingest.kpl_decode_us"] = _kpl_decode_us(inputs.shard_dir)
    return out


def _progress_metrics(events: list[dict]) -> dict[str, float]:
    """Per drain (one streaming query each): micro-batches with input and
    the sums of their durationMs fields; medians over the drains."""
    per_drain: dict[str, list[dict]] = {}
    for ev in events:
        per_drain.setdefault(ev["id"], []).append(ev)
    data = [evs for evs in per_drain.values() if any(e["numInputRows"] for e in evs)]
    out = {"streaming.batches": common.median(
        [sum(1 for e in evs if e["numInputRows"]) for evs in data])}
    for metric, key in (
        ("streaming.trigger_ms", "triggerExecution"),
        ("streaming.add_batch_ms", "addBatch"),
        ("streaming.latest_offset_ms", "latestOffset"),
        ("streaming.query_planning_ms", "queryPlanning"),
        ("streaming.wal_commit_ms", "walCommit"),
        ("streaming.commit_offsets_ms", "commitOffsets"),
    ):
        out[metric] = common.median([sum(e["durationMs"].get(key, 0) for e in evs) for evs in data])
    return out


def _prefix_times(spark, inputs: gen.KplInputs, ddl: str) -> dict[str, float]:
    """Batch read -> deagg -> parse -> filter, each prefix timed (best of
    two); a stage's time is its prefix's minus the previous prefix's.
    Prefixes are hashed whole, since a bare count() lets Spark prune the
    parse, and the aggregate is rebuilt for every run, since collecting
    the same DataFrame again reuses its shuffle output."""
    from pyspark.sql import functions as F

    from kinesis_stream_reader_spark.operators.filters import filter_records
    from kinesis_stream_reader_spark.operators.ingest import deagg_explode, json_parse

    read = spark.read.format("kinesis_backfill").option("path", inputs.shard_dir).load()
    deagg = deagg_explode(read.drop("sequence_number"))
    parsed = json_parse(deagg, schema=ddl)
    filtered = filter_records(parsed, inputs.query)
    out, prev = {}, 0.0
    for metric, df in (("python_source.read_s", read), ("ingest.deagg_s", deagg),
                       ("ingest.parse_s", parsed), ("filters.filter_s", filtered)):
        walls = []
        for _ in range(2):
            t0 = time.perf_counter()
            df.agg(F.sum(F.hash(*df.columns))).collect()
            walls.append(time.perf_counter() - t0)
        out[metric] = max(min(walls) - prev, 0.0)
        prev = min(walls)
    return out


def _kpl_decode_us(shard_dir: str, n: int = 100) -> float:
    """Driver-side ``kpl_decode`` per aggregate over the first ``n``
    aggregates of one shard file (median of three passes)."""
    from kinesis_stream_reader_spark.operators.ingest import kpl_decode
    from kinesis_stream_reader_spark.schema import KPL_MAGIC

    sample = []
    with open(os.path.join(shard_dir, "shard-0000.jsonl")) as fh:
        for line in fh:
            blob = base64.b64decode(json.loads(line)["data"])
            if blob[:4] == KPL_MAGIC:
                sample.append(blob)
            if len(sample) == n:
                break
    passes = []
    for _ in range(3):
        t0 = time.perf_counter()
        for blob in sample:
            kpl_decode(blob)
        passes.append((time.perf_counter() - t0) / len(sample) * 1e6)
    return common.median(passes)


def one_core_rate(ctx, inputs: gen.KplInputs, ddl: str) -> float:
    """The same drain on a local[1] session (one warm-up drain, then
    one timed): the single-thread baseline."""
    ctx.spark.stop()
    spark = ctx.start_spark(cpus=1)
    register_source(spark)
    drain = Drain(spark, inputs, ddl)
    drain()
    t0 = time.perf_counter()
    drain()
    return inputs.n_user_delivered / (time.perf_counter() - t0)
