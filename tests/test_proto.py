"""S2 — OTLP protobuf wire codec + parse path.

The decode must reproduce, over protobuf wire bytes, exactly what the
JSON path produces for the same logical spans (modulo proto3 presence
semantics: absent scalars decode to defaults, as prost does in the
reference's handler, otel.rs:97-106)."""

from __future__ import annotations

import json

import pytest

from otel_worker_spark.fixtures import (
    golden_trace_envelope,
    protobuf_sequences_from_events,
    token_df_from_payloads,
    token_sequences_from_events,
)
from otel_worker_spark.parse_arrow import parse_token_sequences_arrow
from otel_worker_spark.proto import (
    WireError,
    decode_export_request,
    encode_export_request,
    parse_token_sequences_protobuf,
)

SF_DIR = "/root/testdata/sf0.001"


def test_wire_roundtrip_golden():
    env = golden_trace_envelope()
    wire = encode_export_request(env)
    back = decode_export_request(wire)
    spans = back["resourceSpans"][0]["scopeSpans"][0]["spans"]
    assert len(spans) == 2
    root, child = spans
    assert root["traceId"] == env["resourceSpans"][0]["scopeSpans"][0]["spans"][0]["traceId"]
    assert root["parentSpanId"] == ""  # empty bytes default (P4 input)
    assert child["parentSpanId"] == root["spanId"]
    assert root["kind"] == 2 and child["kind"] == 3
    assert root["startTimeUnixNano"] == "1648138140000000000"
    assert root["status"] == {"code": 1, "message": "success"}
    # attributes round-trip including the intValue decimal-string form
    attrs = {kv["key"]: kv["value"] for kv in child["attributes"]}
    assert attrs["db.rows_affected"] == {"intValue": "42"}
    res_attrs = {kv["key"]: kv["value"] for kv in back["resourceSpans"][0]["resource"]["attributes"]}
    assert res_attrs["service.name"] == {"stringValue": "test-service"}


def test_wire_roundtrip_anyvalue_shapes():
    env = {
        "resourceSpans": [{
            "scopeSpans": [{
                "scope": {"name": "s", "version": "1"},
                "spans": [{
                    "traceId": "ab" * 16, "spanId": "cd" * 8, "name": "n",
                    "startTimeUnixNano": "1000000000", "endTimeUnixNano": "2000000000",
                    "traceState": "a=b", "flags": 255, "kind": 5,
                    "attributes": [
                        {"key": "b_t", "value": {"boolValue": True}},
                        {"key": "b_f", "value": {"boolValue": False}},
                        {"key": "neg", "value": {"intValue": "-7"}},
                        {"key": "dbl", "value": {"doubleValue": 1.5}},
                        {"key": "byt", "value": {"bytesValue": "AQID"}},
                        {"key": "arr", "value": {"arrayValue": {"values": [
                            {"stringValue": "x"}, {"intValue": "1"}]}}},
                        {"key": "kvl", "value": {"kvlistValue": {"values": [
                            {"key": "k", "value": {"stringValue": "v"}}]}}},
                        {"key": "empty_str", "value": {"stringValue": ""}},
                    ],
                    "events": [{"name": "e", "timeUnixNano": "1500000000",
                                "attributes": [{"key": "k", "value": {"intValue": "9"}}]}],
                    "links": [{"traceId": "ef" * 16, "spanId": "01" * 8,
                               "traceState": "t", "flags": 7,
                               "attributes": [{"key": "l", "value": {"stringValue": "v"}}]}],
                    "status": {"code": 2, "message": "bad"},
                }],
            }],
        }]
    }
    sp = decode_export_request(encode_export_request(env))["resourceSpans"][0]["scopeSpans"][0]["spans"][0]
    src = env["resourceSpans"][0]["scopeSpans"][0]["spans"][0]
    assert {kv["key"]: kv["value"] for kv in sp["attributes"]} == {
        kv["key"]: kv["value"] for kv in src["attributes"]
    }
    assert sp["traceState"] == "a=b" and sp["flags"] == 255 and sp["kind"] == 5
    assert sp["events"][0]["attributes"][0]["value"] == {"intValue": "9"}
    assert sp["links"][0] == {
        "traceId": "ef" * 16, "spanId": "01" * 8, "traceState": "t",
        "attributes": [{"key": "l", "value": {"stringValue": "v"}}], "flags": 7,
    }
    assert sp["status"] == {"code": 2, "message": "bad"}


@pytest.mark.parametrize(
    "wire",
    [
        b"\x00",             # field number 0
        b"\x0a",             # truncated length-delimited
        b"\x0a\xff\x01",     # declared length beyond buffer
        b"\x80",             # truncated varint
        b"\x0d\x01",         # truncated fixed32 (wire type 5)
        b"\x0a\x02\x0b\xff", # nested truncation inside resource_spans
    ],
)
def test_wire_poison_raises(wire):
    with pytest.raises(WireError):
        decode_export_request(wire)


def test_protobuf_path_matches_json_path(spark):
    """The protobuf parse path must yield the same spans as the JSON
    path on the events-derived fixture — every column except the
    carried wire bytes (tokens/n_tok differ by encoding) and the
    quarantine reason (non-hex ids are unrepresentable in protobuf;
    the poison analog is malformed wire → undecodable_payload)."""
    json_tok = token_sequences_from_events(spark, SF_DIR).limit(300)
    pb_tok = protobuf_sequences_from_events(spark, SF_DIR).limit(300)
    # payload bytes legitimately differ between wire encodings
    drop = ["payload", "n_tok", "inner"]
    ja = parse_token_sequences_arrow(json_tok)
    pb = parse_token_sequences_protobuf(pb_tok)
    a = (
        ja.filter("is_valid").drop(*drop).toPandas()
        .sort_values(["doc_id", "span_id"]).reset_index(drop=True)
    )
    b = (
        pb.filter("is_valid").drop(*drop).toPandas()[a.columns]
        .sort_values(["doc_id", "span_id"]).reset_index(drop=True)
    )
    assert len(a) == len(b) > 0
    # proto3 presence: repeated fields have no null state — absent
    # scope attrs / events / links decode EMPTY where JSON yields null
    presence_cols = {"scope_attributes", "events", "links"}
    for c in a.columns:
        av, bv = a[c].astype(str), b[c].astype(str)
        if c in presence_cols:
            empty = bv[av == "None"]
            assert set(empty) <= {"{}", "[]"}, f"column {c}: {set(empty)}"
            assert av[av != "None"].equals(bv[av != "None"]), f"column {c} differs"
        else:
            assert av.equals(bv), f"column {c} differs"
    # the same poison docs quarantine, with the wire-level reason
    # (their parsed columns legitimately differ: JSON keeps the bad
    # values it read, malformed wire yields an all-null row)
    qa = ja.filter("NOT is_valid").select("doc_id").toPandas()
    qb = pb.filter("NOT is_valid").select("doc_id", "invalid_reason").toPandas()
    assert set(qa["doc_id"]) == set(qb["doc_id"]) != set()
    assert set(qb["invalid_reason"]) == {"undecodable_payload"}


def test_protobuf_inner_matches_json_inner(spark):
    """`inner` must be byte-identical across wire encodings when every
    field is explicitly present (proto3 injects scalar defaults for
    ABSENT fields — flags 0, empty attr lists — so a sparse envelope's
    inner legitimately differs; a fully-specified one must not)."""
    env = golden_trace_envelope()
    # make every optional field explicit so both encodings carry it
    for rs in env["resourceSpans"]:
        for ss in rs["scopeSpans"]:
            ss["scope"]["attributes"] = [
                {"key": "lib", "value": {"stringValue": "otel"}}
            ]
            for sp in ss["spans"]:
                sp["flags"] = 1
                sp["traceState"] = "k=v"
                sp["events"] = [{
                    "name": "ev", "timeUnixNano": "1648138140500000000",
                    "attributes": [{"key": "n", "value": {"intValue": "3"}}],
                }]
                sp["links"] = [{
                    "traceId": "ab" * 16, "spanId": "cd" * 8,
                    "traceState": "l=1", "flags": 2,
                    "attributes": [{"key": "x", "value": {"boolValue": True}}],
                }]
    json_tok = token_df_from_payloads(spark, [env])
    wire = list(encode_export_request(env))
    pb_tok = spark.createDataFrame(
        [("doc-00000000", wire, len(wire), "test-service")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    a = parse_token_sequences_arrow(json_tok).select("span_id", "inner").toPandas()
    b = parse_token_sequences_protobuf(pb_tok).select("span_id", "inner").toPandas()
    a = a.sort_values("span_id").reset_index(drop=True)
    b = b.sort_values("span_id").reset_index(drop=True)
    assert a.equals(b)


def test_protobuf_binary_column_input(spark):
    """A `(doc_id, payload, n_tok, source)` table whose `payload` binary
    column holds wire bytes parses identically to the token-array form.
    A null payload cell quarantines as one undecodable_payload row
    instead of failing the batch."""
    env = golden_trace_envelope()
    wire = encode_export_request(env)
    df = spark.createDataFrame(
        [
            ("d0", bytearray(wire), len(wire), "svc"),
            ("d1", None, None, "svc"),
            ("d2", None, 0, "svc"),
        ],
        "doc_id string, payload binary, n_tok int, source string",
    )
    out = parse_token_sequences_protobuf(df).toPandas()
    good = out[out["doc_id"] == "d0"]
    assert len(good) == 2
    assert good["is_valid"].all()
    assert all(bytes(p) == wire for p in good["payload"])  # exact bytes carried
    assert set(good["name"]) == {"GET /api/users", "database.query"}
    bad = out[out["doc_id"] != "d0"].sort_values("doc_id")
    assert list(bad["doc_id"]) == ["d1", "d2"]
    assert not bad["is_valid"].any()
    assert set(bad["invalid_reason"]) == {"undecodable_payload"}
    assert bad["payload"].isna().all() and bad["span_id"].isna().all()


def test_protobuf_scalar_defaults(spark):
    """proto3 presence: a span with only ids+name decodes scalars to
    their defaults (kind 0 → Unspecified, flags 0, times 0 → epoch) —
    prost semantics, NOT the JSON path's nulls."""
    env = {"resourceSpans": [{"scopeSpans": [{"spans": [
        {"traceId": "ab" * 16, "spanId": "cd" * 8, "name": "min",
         "startTimeUnixNano": "0", "endTimeUnixNano": "0"}
    ]}]}]}
    wire = list(encode_export_request(env))
    df = spark.createDataFrame(
        [("d0", wire, len(wire), "svc")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    row = parse_token_sequences_protobuf(df).toPandas().iloc[0]
    assert row["is_valid"]
    assert row["kind"] == "Unspecified"
    assert row["flags"] == 0
    assert str(row["start_time"]) == "1970-01-01 00:00:00"
    assert row["parent_span_id"] is None  # empty bytes → NULL (P4)
    assert row["status_code"] is None  # message field keeps presence
