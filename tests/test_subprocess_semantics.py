"""Subprocess adapters."""

import sys

from pyspark.sql import functions as F

from cdf_spark.sources.subprocess_source import run_ndjson_subprocess, run_singer_tap

NDJSON_PRODUCER = r"""
import json
for i in range(5):
    print(json.dumps({"id": i, "name": f"row{i}"}))
"""

SINGER_TAP = r"""
import json
print(json.dumps({"type": "SCHEMA", "stream": "users",
                  "schema": {"properties": {"id": {"type": "integer"},
                                            "email": {"type": ["null", "string"]},
                                            "ts": {"type": "string", "format": "date-time"}}}}))
print(json.dumps({"type": "RECORD", "stream": "users", "record": {"id": 1, "email": "a@b.co", "ts": "2026-01-01T00:00:00"}}))
print(json.dumps({"type": "RECORD", "stream": "users", "record": {"id": 2, "email": None, "ts": "2026-01-02T00:00:00"}}))
print(json.dumps({"type": "STATE", "value": {"bookmark": {"users": 2}}}))
print(json.dumps({"type": "RECORD", "stream": "other", "record": {"x": 9}}))
"""


def test_ndjson_subprocess(spark):
    res = run_ndjson_subprocess(
        spark, [sys.executable, "-c", NDJSON_PRODUCER], schema={"id": "int64", "name": "utf8"}
    )
    assert res.records == 5
    assert res.df.filter("id = 4").collect()[0].name == "row4"


def test_singer_tap_protocol(spark):
    res = run_singer_tap(spark, [sys.executable, "-c", SINGER_TAP], stream="users")
    assert res.records == 2  # only the requested stream
    assert res.states == [{"bookmark": {"users": 2}}]
    assert dict(res.df.dtypes)["id"] == "bigint"
    assert dict(res.df.dtypes)["ts"] == "timestamp_ntz"
    assert res.df.filter(F.col("email").isNull()).count() == 1


AIRBYTE_SOURCE = r"""
import json
props = {"id": {"type": "integer"}, "name": {"type": "string"},
         "ts": {"type": "string", "format": "date-time"}}
cat = {"streams": [{"name": "users", "json_schema": {"properties": props}}]}
print(json.dumps({"type": "CATALOG", "catalog": cat}))
print(json.dumps({"type": "RECORD", "record": {"stream": "users", "emitted_at": 1700000000000,
                  "data": {"id": 1, "name": "ada", "ts": "2026-01-01T00:00:00"}}}))
print(json.dumps({"type": "RECORD", "record": {"stream": "users", "namespace": "public",
                  "emitted_at": 1700000000001, "data": {"id": 2, "name": "bob", "ts": "2026-01-02T00:00:00"}}}))
print(json.dumps({"type": "RECORD", "record": {"stream": "audit", "emitted_at": 1700000000002,
                  "data": {"id": 99}}}))
print(json.dumps({"type": "STATE", "state": {"type": "STREAM",
                  "stream": {"stream_descriptor": {"name": "users"}, "stream_state": {"cursor": 1}}}}))
print(json.dumps({"type": "STATE", "state": {"type": "STREAM",
                  "stream": {"stream_descriptor": {"name": "users"}, "stream_state": {"cursor": 2}}}}))
print(json.dumps({"type": "LOG", "log": {"level": "INFO", "message": "ignored"}}))
"""

AIRBYTE_LEGACY_STATE = r"""
import json
print(json.dumps({"type": "RECORD", "record": {"stream": "t", "emitted_at": 1, "data": {"a": 1}}}))
print(json.dumps({"type": "STATE", "state": {"data": {"bookmark": 7}}}))
"""

AIRBYTE_MALFORMED = r"""
import json
print(json.dumps({"type": "RECORD", "record": {"stream": "t", "data": {"a": 1}}}))
"""


def test_airbyte_source_protocol(spark):
    from cdf_spark.sources.subprocess_source import run_airbyte_source

    res = run_airbyte_source(spark, [sys.executable, "-c", AIRBYTE_SOURCE], stream="users")
    assert res.records == 2  # audit stream filtered out
    # catalog schema applied: typed columns, date-time parsed
    assert dict(res.df.dtypes)["id"] == "bigint"
    assert dict(res.df.dtypes)["ts"] == "timestamp_ntz"
    # STATE -> opaque sha256-addressed positions; last-wins merge
    assert len(res.positions) == 2
    merged = res.positions[0].merge(res.positions[1])
    assert merged is res.positions[1]
    assert merged.blob_sha256.startswith("sha256:")
    assert merged.protocol == "airbyte"
    # state value is the STREAM payload (reference: parse_state STREAM kind)
    assert res.states[1]["stream_state"] == {"cursor": 2}


def test_airbyte_legacy_state_and_namespace_filter(spark):
    from cdf_spark.sources.subprocess_source import run_airbyte_source

    res = run_airbyte_source(spark, [sys.executable, "-c", AIRBYTE_LEGACY_STATE])
    assert res.records == 1
    assert res.states == [{"bookmark": 7}]

    res2 = run_airbyte_source(
        spark, [sys.executable, "-c", AIRBYTE_SOURCE], stream="users", namespace="public"
    )
    assert res2.records == 1  # only bob carries namespace=public


def test_airbyte_malformed_record_raises(spark):
    import pytest

    from cdf_spark.sources.subprocess_source import AirbyteProtocolError, run_airbyte_source

    with pytest.raises(AirbyteProtocolError, match="line 1.*emitted_at"):
        run_airbyte_source(spark, [sys.executable, "-c", AIRBYTE_MALFORMED])


def test_context_capabilities(spark):
    """SDK Context parity: secrets resolution, cursor view from resume
    position, injected HTTP transport, logger presence."""
    from cdf_spark.sources.context import build_context
    from cdf_spark.sources.python_source import python_resource

    calls = []

    def transport(method, url, headers, body):
        from cdf_spark.sources.context import HttpResponse

        calls.append((method, url))
        return HttpResponse(200, {}, b'{"items": [{"id": 7, "v": "x"}]}')

    ctx = build_context(positions={"id": 5}, secrets={"env:API_KEY": "sekrit"}, transport=transport)
    assert ctx.secrets.get("env:API_KEY") == "sekrit"
    assert ctx.secrets.get("literal:abc") == "abc"
    assert ctx.cursor.get("id") == 5
    assert ctx.cursor.get("missing", 0) == 0
    resp = ctx.http.get("http://example.invalid/api")
    assert resp.status_code == 200 and resp.json()["items"][0]["id"] == 7
    assert calls == [("GET", "http://example.invalid/api")]
    ctx.logger.info("context works")

    # injection: a resource whose first param is `context` gets one,
    # with the cursor view seeded from the resume position
    @python_resource("ctx_feed", schema={"id": "int64"}, cursor="id")
    def feed(context):
        start = int(context.cursor.get("id", 0) or 0)
        for i in range(start + 1, start + 4):
            yield {"id": i}

    df = feed.read(spark, cursor_resume=10)
    assert [r.id for r in df.orderBy("id").collect()] == [11, 12, 13]


def test_context_unknown_secret_scheme_rejected(spark):
    import pytest

    from cdf_spark.sources.context import SecretProvider

    with pytest.raises(ValueError, match="unknown secret scheme"):
        SecretProvider().get("vault://prod/key")
