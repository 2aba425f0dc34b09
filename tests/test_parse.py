"""Parse-stage tests of the Arrow kernel — the analog of the
reference's store round-trip and serde golden tests
(otel-worker-cli/src/data/tests.rs:13-89,
otel-worker-core/src/api/models/otel.rs:320-384)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from otel_worker_spark.fixtures import (
    GOLDEN_CHILD_SPAN_ID,
    GOLDEN_ROOT_SPAN_ID,
    GOLDEN_TRACE_ID,
    golden_trace_envelope,
    token_df_from_payloads,
)
from otel_worker_spark.parse_arrow import parse_token_sequences_arrow
from otel_worker_spark.tokens import tokenize_expr


def split_quarantine(parsed):
    """(valid spans, quarantined rows with their reason)."""
    good = parsed.filter(F.col("is_valid")).drop("is_valid", "invalid_reason")
    bad = parsed.filter(~F.col("is_valid")).drop("is_valid")
    return good, bad


def parse_one(spark, payloads, **kw):
    df = token_df_from_payloads(spark, payloads)
    return parse_token_sequences_arrow(df, **kw)


def test_golden_trace_flatten(spark):
    """P1: 1 envelope → 2 flat span rows with resource/scope context
    copied down (otel.rs:49-118) and the parent link preserved."""
    good, bad = split_quarantine(parse_one(spark, [golden_trace_envelope()]))
    rows = {r.span_id: r for r in good.collect()}
    assert bad.count() == 0
    assert set(rows) == {GOLDEN_ROOT_SPAN_ID, GOLDEN_CHILD_SPAN_ID}
    root = rows[GOLDEN_ROOT_SPAN_ID]
    child = rows[GOLDEN_CHILD_SPAN_ID]
    assert root.trace_id == GOLDEN_TRACE_ID
    assert root.parent_span_id is None  # P4: "" → NULL
    assert child.parent_span_id == GOLDEN_ROOT_SPAN_ID
    assert root.kind == "Server" and child.kind == "Client"  # P5
    assert root.status_code == "Ok"  # P6
    assert root.name == "GET /api/users"
    # resource/scope denormalized onto every row (J2-by-denorm)
    for r in (root, child):
        assert r.service_name == "test-service"
        assert r.scope_name == "test-instrumentation"
        assert r.resource_attributes["service.name"] == '"test-service"'
    # P2: nanos → timestamps (1648138140 = 2022-03-24T16:09:00Z)
    assert root.start_time.isoformat().startswith("2022-03-24T16:09:00")
    assert root.end_time.isoformat().startswith("2022-03-24T16:09:01")


def test_attribute_map_sorted_and_untagged(spark):
    """P7/P8: values JSON-encoded untagged (golden test otel.rs:325-383),
    keys sorted (BTreeMap, otel.rs:232-255)."""
    env = {
        "resourceSpans": [
            {
                "scopeSpans": [
                    {
                        "spans": [
                            {
                                "traceId": "ab" * 16,
                                "spanId": "cd" * 8,
                                "name": "attr-test",
                                "startTimeUnixNano": "1000000000",
                                "endTimeUnixNano": "2000000000",
                                "attributes": [
                                    {"key": "zz", "value": {"stringValue": 'quote"me'}},
                                    {"key": "aa", "value": {"intValue": "-7"}},
                                    {"key": "mm", "value": {"doubleValue": 1.5}},
                                    {"key": "bb", "value": {"boolValue": True}},
                                    {
                                        "key": "arr",
                                        "value": {
                                            "arrayValue": {
                                                "values": [
                                                    {"stringValue": "x"},
                                                    {"intValue": "2"},
                                                ]
                                            }
                                        },
                                    },
                                    {
                                        "key": "kv",
                                        "value": {
                                            "kvlistValue": {
                                                "values": [
                                                    {"key": "b", "value": {"intValue": "1"}},
                                                    {"key": "a", "value": {"stringValue": "y"}},
                                                ]
                                            }
                                        },
                                    },
                                ],
                            }
                        ]
                    }
                ]
            }
        ]
    }
    good, bad = split_quarantine(parse_one(spark, [env]))
    assert bad.count() == 0
    row = good.collect()[0]
    attrs = row.attributes
    assert attrs["zz"] == '"quote\\"me"'
    assert attrs["aa"] == "-7"
    assert attrs["mm"] == "1.5"
    assert attrs["bb"] == "true"
    assert json.loads(attrs["arr"]) == ["x", 2]
    # kvlist keys sorted
    assert attrs["kv"] == '{"a":"y","b":1}'
    # inner JSON embeds attribute values as raw JSON, not re-quoted,
    # and serializes map keys in sorted (BTreeMap) order. (Python-side
    # dict order from py4j collect() is not meaningful — the engine-side
    # map and its serialization are what carry the guarantee.)
    inner = json.loads(row.inner)
    assert inner["attributes"]["aa"] == -7
    assert inner["attributes"]["arr"] == ["x", 2]
    assert inner["attributes"]["kv"] == {"a": "y", "b": 1}
    assert list(inner["attributes"].keys()) == sorted(inner["attributes"].keys())


def test_kind_and_status_decode_table(spark):
    """P5/P6: the full proto-int → string tables (otel.rs:120-157,
    216-230) incl. defaults (missing kind → Unspecified,
    data/models.rs:58)."""
    spans = []
    for i, _ in enumerate(range(7)):
        sp = {
            "traceId": "ab" * 16,
            "spanId": f"{i:016d}",
            "name": f"k{i}",
            "startTimeUnixNano": "1",
            "endTimeUnixNano": "2",
        }
        if i < 6:
            sp["kind"] = i
            sp["status"] = {"code": i % 3}
        spans.append(sp)
    env = {"resourceSpans": [{"scopeSpans": [{"spans": spans}]}]}
    good, _ = split_quarantine(parse_one(spark, [env]))
    got = {r.name: (r.kind, r.status_code) for r in good.collect()}
    assert got["k0"] == ("Unspecified", "Unset")
    assert got["k1"] == ("Internal", "Ok")
    assert got["k2"] == ("Server", "Error")
    assert got["k3"] == ("Client", "Unset")
    assert got["k4"] == ("Producer", "Ok")
    assert got["k5"] == ("Consumer", "Error")
    assert got["k6"] == ("Unspecified", None)  # absent kind/status


def test_events_and_links_normalized(spark):
    """P9/P10: event + link normalization via transform HOFs."""
    env = {
        "resourceSpans": [
            {
                "scopeSpans": [
                    {
                        "spans": [
                            {
                                "traceId": "ab" * 16,
                                "spanId": "cd" * 8,
                                "name": "el",
                                "startTimeUnixNano": "1000000000",
                                "endTimeUnixNano": "2000000000",
                                "events": [
                                    {
                                        "name": "boom",
                                        "timeUnixNano": "1500000000",
                                        "attributes": [
                                            {"key": "x", "value": {"intValue": "5"}}
                                        ],
                                    }
                                ],
                                "links": [
                                    {
                                        "traceId": "EF" * 16,
                                        "spanId": "01" * 8,
                                        "flags": 3,
                                    }
                                ],
                            }
                        ]
                    }
                ]
            }
        ]
    }
    good, _ = split_quarantine(parse_one(spark, [env]))
    row = good.collect()[0]
    assert row.events[0].name == "boom"
    assert row.events[0].attributes["x"] == "5"
    assert row.links[0].trace_id == "ef" * 16  # P3: lowercased hex
    assert row.links[0].flags == 3


def test_quarantine_paths(spark):
    """P15 + robustness: every poison input quarantines with a reason;
    none kills the job (the reference would panic or 422)."""
    good_payload = json.dumps(golden_trace_envelope(), separators=(",", ":"))
    cases = {
        "ok": list(good_payload.encode()),
        "oob_token": [300, -5],
        "bad_utf8": [255, 254, 128],
        "not_json": list(b"hello"),
        "odd_hex": list(
            json.dumps(
                {
                    "resourceSpans": [
                        {
                            "scopeSpans": [
                                {
                                    "spans": [
                                        {
                                            "traceId": "abc",
                                            "spanId": "12",
                                            "name": "x",
                                            "startTimeUnixNano": "1",
                                            "endTimeUnixNano": "2",
                                        }
                                    ]
                                }
                            ]
                        }
                    ]
                }
            ).encode()
        ),
        "huge_nanos": list(
            json.dumps(
                {
                    "resourceSpans": [
                        {
                            "scopeSpans": [
                                {
                                    "spans": [
                                        {
                                            "traceId": "ab",
                                            "spanId": "12",
                                            "name": "x",
                                            "startTimeUnixNano": "99999999999999999999",
                                            "endTimeUnixNano": "2",
                                        }
                                    ]
                                }
                            ]
                        }
                    ]
                }
            ).encode()
        ),
    }
    rows = [(k, v, len(v), "probe") for k, v in cases.items()]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")
    good, bad = split_quarantine(parse_token_sequences_arrow(df))
    assert [r.doc_id for r in good.select("doc_id").distinct().collect()] == ["ok"]
    reasons = {r.doc_id: r.invalid_reason for r in bad.collect()}
    assert reasons["oob_token"] == "undecodable_payload"
    assert reasons["bad_utf8"] == "undecodable_payload"
    assert reasons["odd_hex"] == "invalid_trace_id"
    assert reasons["huge_nanos"] == "invalid_time"


def test_tokens_roundtrip_and_equality(spark):
    """The north-rule invariant: tokens survive the pipeline untouched
    (token-array equality), and the JVM tokenize of the payload text
    reproduces the fixture's token array."""
    payload = json.dumps(golden_trace_envelope(), separators=(",", ":"))
    df = token_df_from_payloads(spark, [payload])
    orig = df.collect()[0].tokens

    # JVM tokenize of the same text
    text = spark.createDataFrame([(payload,)], "p string")
    assert text.select(tokenize_expr("p").alias("t")).collect()[0].t == orig

    # pipeline carries the exact payload bytes through explode/
    # normalize untouched (token-array equality ⇔ byte equality under
    # the identity byte vocab — the payload column IS the tokens)
    good, _ = split_quarantine(parse_token_sequences_arrow(df))
    for r in good.select("payload", "n_tok").collect():
        assert list(r.payload) == orig
        assert r.n_tok == len(orig)
        assert bytes(r.payload).decode("utf-8") == payload


def test_timestamp_f64_roundtrip(spark):
    """P13: fractional-seconds f64 round trip is lossy at ns like the
    reference acknowledges (tests.rs:53-55) but exact at µs."""
    good, _ = split_quarantine(parse_one(spark, [golden_trace_envelope()]))
    df = good.select(
        "span_id",
        F.col("start_time").cast("double").alias("f64"),
    ).withColumn("back", F.timestamp_seconds(F.col("f64")))
    for r in df.collect():
        pass  # cast + back must not throw; equality at µs:
    r = (
        good.select(
            (F.timestamp_seconds(F.col("start_time").cast("double")) == F.col("start_time")).alias("eq")
        )
        .agg(F.min("eq"))
        .collect()[0][0]
    )
    assert r is True
