"""The benchmark's own tests: seeded inputs are reproducible, every
checker rejects a corrupted result, and the metric names match
BENCHMARK.json.

    python3 -m pytest perfbench/tests -q

The last test runs every workload briefly in both modes (a few
minutes); ``-k "not run_emits"`` leaves it out.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import batch, check, gen, records  # noqa: E402
from perfbench.common import COMMON_LAYERS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(base, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _inputs(seed: int, out: str) -> str:
    gen.write_events(seed, out, n_rows=3_000)
    gen.write_kpl_shards(seed, os.path.join(out, "shards"), n_user=600)
    gen.write_corpus(seed, os.path.join(out, "corpus"), n_docs=120)
    with open(os.path.join(out, "schedule.json"), "w") as fh:
        json.dump(gen.request_schedule(seed, n=200), fh)
    return _digest(out)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _inputs(7, str(tmp_path / "a"))
    b = _inputs(7, str(tmp_path / "b"))
    c = _inputs(8, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_schedule_mix():
    sched = gen.request_schedule(3)
    kinds = [s["kind"] for s in sched]
    assert 0.05 < kinds.count("invalid") / len(kinds) < 0.15
    assert kinds.count("wide") and kinds.count("selective")
    assert gen.request_schedule(3) == sched != gen.request_schedule(4)


# --- checkers reject wrong answers ------------------------------------------


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events"))
    return check.RecordsOracle(gen.write_events(5, out, n_rows=20_000))


def _body(oracle, query):
    return [dict(zip(oracle.cols, row)) for row in oracle.rows(query)]


def test_records_checker(oracle):
    q = {"streamname": "s", "duration": "960", "tenantId": "8"}
    body = _body(oracle, q)
    assert body and check.check_response(oracle, q, 200, body) is None
    assert check.check_response(oracle, q, 200, body[1:]) is not None
    wrong = copy.deepcopy(body)
    wrong[0]["server_name"] = "Server-nope"
    assert check.check_response(oracle, q, 200, wrong) is not None
    assert check.check_response(oracle, q, 400, body) is not None


def test_records_checker_capped(oracle):
    q = {"streamname": "s", "duration": "960", "limit": "50"}
    full = _body(oracle, q)
    assert len(full) > 50
    assert check.check_response(oracle, q, 200, full[-50:]) is None
    assert check.check_response(oracle, q, 200, full[:49]) is not None
    stray = {**full[0], "event_id": -1}
    assert check.check_response(oracle, q, 200, full[:49] + [stray]) is not None


def test_records_checker_invalid(oracle):
    q = {"duration": "10", "bogus": "1"}
    env = check.expected_envelope(q)
    assert env == {"badRequest": True, "missingRequiredParams": ["streamname"],
                   "invalidParams": ["bogus"]}
    assert check.check_response(oracle, q, 400, env) is None
    assert check.check_response(oracle, q, 200, []) is not None
    assert check.check_response(oracle, q, 400, {**env, "invalidParams": []}) is not None


def test_records_checker_nan_filter_is_empty(oracle):
    q = {"streamname": "s", "duration": "960", "contactId": "abc"}
    assert oracle.rows(q) == []
    assert check.check_response(oracle, q, 200, []) is None
    assert check.check_response(oracle, q, 200, _body(oracle, {**q, "contactId": "3"})) is not None


def test_kpl_checkers(tmp_path):
    inputs = gen.write_kpl_shards(2, str(tmp_path), n_user=3_000)
    assert inputs.n_dropped_aggregates >= 0 and inputs.n_invalid_json > 0
    seq = sorted(inputs.expected_seq)
    assert check.check_drain(seq, inputs.expected_seq) is None
    assert check.check_drain(seq[1:], inputs.expected_seq) is not None
    assert check.check_drain(seq + [seq[0]], inputs.expected_seq) is not None
    assert check.check_drain(seq + [10**9], inputs.expected_seq) is not None
    n, bad = inputs.n_user_delivered, inputs.n_invalid_json
    assert check.check_parse_counts(n, bad, n, bad) is None
    assert check.check_parse_counts(n + 50, bad, n, bad) is not None
    assert check.check_parse_counts(n, bad - 1, n, bad) is not None


CAPPED_DRAIN = """
import json, sys
from perfbench.run import isolate, stop_spark
isolate(sys.argv[1])
from perfbench import gen, kpl
from kinesis_stream_reader_spark.operators.filters import filter_records
from kinesis_stream_reader_spark.operators.ingest import deagg_explode, json_parse
from kinesis_stream_reader_spark.session import get_spark
from kinesis_stream_reader_spark.streaming.jobs import run_available_now

spark = get_spark("perfbench-tests", cpus=2)
kpl.register_source(spark)
inputs = gen.write_kpl_shards(4, sys.argv[1] + "/shards", n_user=2_000)
stream = (
    spark.readStream.format("kinesis_backfill")
    .option("path", inputs.shard_dir)
    .option("maxRecordsPerShardPerBatch", "10")
    .load()
    .drop("sequence_number")
)
parsed = json_parse(deagg_explode(stream), schema=kpl.event_ddl())
sink = run_available_now(filter_records(parsed, inputs.query), "capped_drain")
seq = [r[0] for r in sink.select("sequence_number").collect()]
print(json.dumps({"sink": seq, "expected": sorted(inputs.expected_seq)}))
stop_spark()
"""


@pytest.mark.xfail(strict=True, raises=AssertionError,
                   reason="known defect: AvailableNow reads the capped latestOffset once, "
                   "so a capped drain stops after one window")
def test_capped_available_now_drain_delivers_the_whole_backlog(tmp_path):
    """Why ingest-curate drains without maxRecordsPerShardPerBatch: a drain of
    2000 user records (seed 4) capped at 10 records per shard per batch.
    When this starts passing, the workload can take the cap back. Runs in
    its own isolated process, so the drain's output directory stays
    under ``tmp_path``."""
    out = subprocess.run([sys.executable, "-c", CAPPED_DRAIN, str(tmp_path)],
                         cwd=ROOT, capture_output=True, text=True, timeout=400)
    if out.returncode:
        pytest.fail(f"capped drain did not run: {out.stderr[-3000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    sink, expected = result["sink"], set(result["expected"])
    assert check.check_drain(sink, expected) is None, (
        f"capped drain delivered {len(set(sink) & expected)} of {len(expected)} matching records"
    )


def test_kpl_planted_corruption_is_undecodable(tmp_path):
    import base64

    from kinesis_stream_reader_spark.operators.ingest import kpl_decode
    from kinesis_stream_reader_spark.schema import KPL_MAGIC

    for seed in range(20):
        inputs = gen.write_kpl_shards(seed, str(tmp_path / str(seed)), n_user=2_000)
        if inputs.n_dropped_aggregates:
            break
    delivered = 0
    for f in sorted(os.listdir(inputs.shard_dir)):
        with open(os.path.join(inputs.shard_dir, f)) as fh:
            for line in fh:
                blob = base64.b64decode(json.loads(line)["data"])
                delivered += len(kpl_decode(blob)) if blob[:4] == KPL_MAGIC else 1
    assert inputs.n_dropped_aggregates > 0
    assert delivered == inputs.n_user_delivered


@pytest.fixture(scope="module")
def small_corpus(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("corpus"))
    return gen.write_corpus(11, out, n_docs=150)


def test_curate_oracle_matches_registry_oracle(small_corpus):
    import duckdb

    import kinesis_stream_reader_spark.registry  # noqa: F401  (registers every oracle)
    from kinesis_stream_reader_spark.registry import ORACLES

    path = os.path.join(small_corpus.data_dir, "documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    registry = {r[0] for r in con.execute(ORACLES["curate_corpus"]).fetchall()}
    curated, _, pairs = check.curate_oracle(path)
    assert curated == registry
    assert set(small_corpus.near_dup_pairs) <= pairs


def test_corpus_checkers(small_corpus):
    path = os.path.join(small_corpus.data_dir, "documents.parquet")
    curated, toks, _ = check.curate_oracle(path)
    manifest = check.expected_manifest(curated, toks)
    assert check.check_manifest(manifest, manifest) is None
    wrong = [list(r) for r in manifest]
    wrong[0][4] += 1
    assert check.check_manifest([tuple(r) for r in wrong], manifest) is not None

    images = small_corpus.images
    feats = [(d, a.shape[1], a.shape[0], a.shape[2], round(float(a.mean()), 4))
             for d, a in images.items()]
    hashes = [(d, check.phash(a)) for d, a in images.items()]
    assert check.check_images(feats, hashes, images) is None
    bad = [(d, w, h, c, m + 0.5) if i == 3 else (d, w, h, c, m)
           for i, (d, w, h, c, m) in enumerate(feats)]
    assert check.check_images(bad, hashes, images) is not None
    assert check.check_images(feats, [(d, p ^ 1) for d, p in hashes], images) is not None


def test_semdedup_checker(small_corpus):
    oracle = check.semdedup_oracle(os.path.join(small_corpus.data_dir, "embeddings.parquet"))
    dups = small_corpus.embedding_dups
    assert dups and not any(oracle[d][1] for d in dups)
    rows = [(d, c, k) for d, (c, k) in sorted(oracle.items())]
    assert check.check_semdedup(rows, oracle, dups) is None
    assert check.check_semdedup(rows[1:], oracle, dups) is not None
    assert check.check_semdedup(rows + rows[:1], oracle, dups) is not None
    all_dropped = [(d, c, False) for d, c, _ in rows]
    assert check.check_semdedup(all_dropped, oracle, dups) is not None
    # a unique vector dropped, or one put in another cluster
    unique = next(i for i, (d, _, k) in enumerate(rows) if k and d not in dups)
    for wrong in ((rows[unique][0], rows[unique][1], False),
                  (rows[unique][0], rows[unique][1] + 1, True)):
        bad = rows[:unique] + [wrong] + rows[unique + 1 :]
        assert check.check_semdedup(bad, oracle, dups) is not None


def test_generated_pngs_hold_the_known_pixels(small_corpus):
    from kinesis_stream_reader_spark.operators.multimodal import decode_image, encode_png

    for arr in list(small_corpus.images.values())[:20]:
        assert (decode_image(encode_png(arr)) == arr).all()


# --- tracer -------------------------------------------------------------------


def test_tracer_patches_every_rebinding_and_restores():
    import kinesis_stream_reader_spark.operators.filters as filters
    import kinesis_stream_reader_spark.plans.pipeline as pipeline
    from perfbench.trace import Tracer

    original = filters.filter_records
    assert pipeline.filter_records is original
    tracer = Tracer()
    tracer.wrap_function(filters, "parse_int_param", "parse", capture=True)
    tracer.wrap_function(filters, "filter_records", "filter")
    try:
        assert pipeline.filter_records is filters.filter_records is not original
        assert filters.parse_int_param("12ab") == 12
    finally:
        tracer.restore()
    assert pipeline.filter_records is filters.filter_records is original
    assert [s.name for s in tracer.spans] == ["parse"]
    assert tracer.captured["parse"] == [(("12ab",), {}, 12)]


def test_tracer_self_time_subtracts_children_and_tags_requests():
    from perfbench.trace import Span, Tracer

    tracer = Tracer()
    tracer.spans = [
        Span(1, "outer", 0.0, 10.0, None, "r1"),
        Span(2, "a", 1.0, 4.0, 1, "r1"),
        Span(3, "b", 3.0, 6.0, 1, "r1"),  # overlaps a: covered once
        Span(4, "c", 2.0, 3.0, 2, "r1"),
    ]
    assert tracer.self_times() == {1: 5.0, 2: 2.0, 3: 3.0, 4: 1.0}
    assert tracer.by_tag({"a", "b"}) == {"r1": 6.0}

    class App:
        def handle(self):
            return tracer.tag

    tracer.wrap_method(App, "handle", "handle", new_tag=True)
    first, second = App().handle(), App().handle()
    tracer.restore()
    assert first != second and first.startswith("handle#")


# --- names ------------------------------------------------------------------


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_declared_names_are_well_formed_and_unique():
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))


def test_every_declared_layer_metric_has_a_producer():
    declared = {m["name"] for m in _spec()["per_layer"]}
    produced = set(COMMON_LAYERS) | set(records.LAYERS) | set(batch.LAYERS)
    assert declared == produced


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_run_emits_every_declared_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(NAME.match(k) for k in result["metrics"])
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
