"""HTTP contract tests mirroring the reference's chai suite
(app/server/test/index.js:25-81) plus a Spark-backed e2e:

1. GET /records?streamname=... -> 200 JSON array, stubbed producer
   (their proxyquire'd kinesisReader stub = our injected records_fn);
2. GET /INVALID_PATH -> 404;
3. GET /records (no streamname) -> 400 with {badRequest: true,
   missingRequiredParams: [...], invalidParams: [...]};
plus: invalid param -> 400, runtime failure -> 400 error envelope
(index.js:65-72), and the real pipeline over live HTTP.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from kinesis_stream_reader_spark.http_server import (
    RecordsApp,
    response_limit,
    serve,
    spark_records_fn,
)

TEST_DATA = [{"record": 1}, {"record": 2}, {"record": 3}]


@pytest.fixture()
def stub_app():
    return RecordsApp(lambda query: TEST_DATA)


def _get(port: int, path: str):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def test_ok_with_data(stub_app):
    status, body = stub_app.handle("/records", {"streamname": "test-stream"})
    assert status == 200
    assert isinstance(body, list)
    assert body == TEST_DATA  # test/index.js:38-49


def test_not_found(stub_app):
    status, _ = stub_app.handle("/INVALID_PATH", {})
    assert status == 404  # test/index.js:53-62


def test_missing_streamname_is_bad_request(stub_app):
    status, body = stub_app.handle("/records", {})
    assert status == 400  # test/index.js:65-80
    assert body["badRequest"] is True
    assert body["missingRequiredParams"] == ["streamname"]
    assert body["invalidParams"] == []


def test_invalid_param_is_bad_request(stub_app):
    status, body = stub_app.handle(
        "/records", {"streamname": "s", "nope": "1"}
    )
    assert status == 400
    assert body["badRequest"] is True
    assert body["invalidParams"] == ["nope"]


def test_runtime_failure_becomes_error_envelope():
    def boom(query):
        raise RuntimeError("InvalidStreamNameException")

    app = RecordsApp(boom)
    status, body = app.handle("/records", {"streamname": "nope"})
    assert status == 400  # index.js:65-72
    assert body["badRequest"] is True
    assert "InvalidStreamNameException" in body["error"]


def test_live_http_roundtrip_with_stub(stub_app):
    server = serve(stub_app)
    port = server.server_address[1]
    try:
        assert _get(port, "/records?streamname=test-stream") == (200, TEST_DATA)
        status, _ = _get(port, "/INVALID_PATH")
        assert status == 404
        status, body = _get(port, "/records")
        assert status == 400 and body["badRequest"] is True
    finally:
        server.shutdown()


def test_limit_param_is_allowed_and_bounds():
    """Engine extension: `limit` is in the allowed set (no 400) and
    response_limit resolves min(requested, ceiling)."""
    app = RecordsApp(lambda query: TEST_DATA[: response_limit(query, 2)])
    status, body = app.handle("/records", {"streamname": "s", "limit": "1"})
    assert (status, body) == (200, TEST_DATA[:1])
    # no limit param -> ceiling applies
    status, body = app.handle("/records", {"streamname": "s"})
    assert (status, body) == (200, TEST_DATA[:2])
    # requested limit can never RAISE the ceiling
    status, body = app.handle("/records", {"streamname": "s", "limit": "99"})
    assert (status, body) == (200, TEST_DATA[:2])


def test_limit_param_malformed_is_400_envelope():
    app = RecordsApp(lambda query: TEST_DATA[: response_limit(query)])
    for bad in ("abc", "0", "-5"):
        status, body = app.handle("/records", {"streamname": "s", "limit": bad})
        assert status == 400
        assert body["badRequest"] is True
        assert "error" in body


def test_default_ceiling_bounds_unbounded_producer():
    """A producer yielding an unbounded stream must still return at most
    MAX_RESPONSE_ROWS — the reference's whole-window-in-one-heap failure
    mode (responses/index.js:34) cannot happen here."""
    from itertools import count, islice

    from kinesis_stream_reader_spark.schema import MAX_RESPONSE_ROWS

    def endless(query):
        cap = response_limit(query)
        return [{"record": i} for i in islice(count(), cap)]

    app = RecordsApp(endless)
    status, body = app.handle("/records", {"streamname": "s"})
    assert status == 200
    assert len(body) == MAX_RESPONSE_ROWS


def test_spark_records_fn_limit(spark, sf_dir):
    """The Spark producer honors the per-request limit end-to-end: the
    plan ends in `.limit(cap)`, so its one collect() brings at most the
    resolved limit of rows to the driver."""
    fn = spark_records_fn(spark, sf_dir)
    rows = fn({"streamname": "events", "duration": "960", "limit": "5"})
    assert len(rows) == 5
    unlimited = fn({"streamname": "events", "duration": "960"})
    assert len(unlimited) <= 10_000


def test_live_http_spark_pipeline(spark, sf_dir):
    """The full engine pipeline behind real HTTP: same result set as
    the records_pipeline plan, same flat-id shape, CORS header set."""
    from kinesis_stream_reader_spark.operators.events import flatten_ids, to_nested
    from kinesis_stream_reader_spark.plans.pipeline import records_plan
    from kinesis_stream_reader_spark.sources.tables import load_events

    server = serve(RecordsApp(spark_records_fn(spark, sf_dir)))
    port = server.server_address[1]
    try:
        url = (
            f"http://127.0.0.1:{port}/records"
            "?streamname=events&duration=960&serverName=SERVER-click"
        )
        with urllib.request.urlopen(url) as resp:
            assert resp.status == 200
            assert resp.headers["Access-Control-Allow-Origin"] == "*"
            body = json.loads(resp.read())
        want = [
            r.asDict()
            for r in flatten_ids(
                records_plan(
                    to_nested(load_events(spark, sf_dir)),
                    {"streamname": "events", "duration": "960",
                     "serverName": "SERVER-click"},
                )
            ).collect()
        ]
        key = lambda d: d["event_id"]  # noqa: E731
        assert sorted(body, key=key) == sorted(want, key=key)
        assert len(body) > 0
    finally:
        server.shutdown()


def test_spark_records_fn_builds_static_plan_once(spark, sf_dir, monkeypatch):
    """The events scan and nested projection are built when the producer
    is made, not per request."""
    import kinesis_stream_reader_spark.operators.events as events
    import kinesis_stream_reader_spark.sources.tables as tables

    calls = {"load_events": 0, "to_nested": 0}

    def counted(module, name):
        original = getattr(module, name)

        def wrapper(*args, **kwargs):
            calls[name] += 1
            return original(*args, **kwargs)

        monkeypatch.setattr(module, name, wrapper)

    counted(tables, "load_events")
    counted(events, "to_nested")
    fn = spark_records_fn(spark, sf_dir)
    for limit in ("1", "2", "3"):
        assert len(fn({"streamname": "events", "duration": "960", "limit": limit})) == int(limit)
    assert calls == {"load_events": 1, "to_nested": 1}


def test_spark_records_fn_plan_has_no_join_and_caps_rows(spark, sf_dir, monkeypatch):
    """The per-request plan anchors the window with a scalar subquery (no
    join onto the stream) and is bounded to `cap` rows by its limit."""
    df_class = type(spark.range(1))
    collected = []
    original = df_class.collect

    def spy(self):
        collected.append(self)
        return original(self)

    monkeypatch.setattr(df_class, "collect", spy)
    fn = spark_records_fn(spark, sf_dir, max_rows=50)
    fn({"streamname": "events", "duration": "960", "limit": "7"})
    fn({"streamname": "events", "duration": "960", "tenantId": "12"})
    assert len(collected) == 2
    for df, cap in zip(collected, (7, 50)):
        plan = df._jdf.queryExecution().optimizedPlan()
        assert "Join" not in plan.toString()
        assert "scalar-subquery" in plan.toString()
        assert plan.maxRows().get() == cap


@pytest.mark.parametrize(
    "extra",
    [
        {"contactId": "480"},
        {"agentId": "110"},
        {"serverName": "SERVER-error"},
        {"tenantId": "12"},
        {"agentShiftId": "45"},
        {"contactId": "abc"},  # parseInt NaN: matches nothing
        {"tenantId": "12", "duration": "5000"},  # clamped to 960
    ],
    ids=["contactId", "agentId", "serverName", "tenantId", "agentShiftId",
         "nan", "duration_clamp"],
)
def test_spark_records_fn_matches_fresh_plan(spark, sf_dir, extra):
    """Responses from the reused plan equal a plan built fresh from the
    table for the same query."""
    from kinesis_stream_reader_spark.operators.events import flatten_ids, to_nested
    from kinesis_stream_reader_spark.plans.pipeline import records_plan
    from kinesis_stream_reader_spark.sources.tables import load_events

    query = {"streamname": "events", "duration": "960", **extra}
    got = spark_records_fn(spark, sf_dir)(query)
    want = [
        r.asDict()
        for r in flatten_ids(records_plan(to_nested(load_events(spark, sf_dir)), query)).collect()
    ]
    key = lambda d: d["event_id"]  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)
    if extra.get("contactId") == "abc":
        assert got == []
    else:
        assert got
