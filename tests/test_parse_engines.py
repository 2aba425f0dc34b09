"""The two parse engines (Catalyst expressions vs Arrow mapInArrow
kernel) must produce identical frames — same columns, same values,
row for row — on golden, events-derived, and poison inputs."""

from __future__ import annotations

import json

from otel_worker_spark.fixtures import (
    golden_trace_envelope,
    token_df_from_payloads,
    token_sequences_from_events,
)
from otel_worker_spark.parse import parse_token_sequences
from otel_worker_spark.parse_arrow import parse_token_sequences_arrow

SF_DIR = "/root/testdata/sf0.001"


def assert_engines_equal(df, with_inner=True):
    a = (
        parse_token_sequences(df, with_inner=with_inner)
        .toPandas()
        .sort_values(["doc_id", "span_id"], na_position="first")
        .reset_index(drop=True)
    )
    b = (
        parse_token_sequences_arrow(df, with_inner=with_inner)
        .toPandas()[a.columns]
        .sort_values(["doc_id", "span_id"], na_position="first")
        .reset_index(drop=True)
    )
    assert len(a) == len(b)
    for c in a.columns:
        # map(repr), not astype(str): the payload column holds raw
        # bytes that need not be valid UTF-8
        av, bv = a[c].map(repr), b[c].map(repr)
        assert av.equals(bv), (
            f"column {c} differs:\n sql:   {av[av != bv].head(3).tolist()}"
            f"\n arrow: {bv[av != bv].head(3).tolist()}"
        )


def test_engines_equal_golden(spark):
    assert_engines_equal(token_df_from_payloads(spark, [golden_trace_envelope()]))


def test_engines_equal_events_derived(spark):
    tok = token_sequences_from_events(spark, SF_DIR).limit(300)
    assert_engines_equal(tok)
    assert_engines_equal(tok, with_inner=False)


def test_engines_equal_poison(spark):
    good = json.dumps(golden_trace_envelope(), separators=(",", ":"))
    rows = [
        ("ok", list(good.encode())),
        ("oob", [300, -5]),
        ("bad_utf8", [255, 254, 128]),
        ("not_json", list(b"hello")),
        ("empty_env", list(b'{"resourceSpans":[]}')),
        ("no_spans", list(b'{"resourceSpans":[{"scopeSpans":[{"spans":[]}]}]}')),
        (
            "edge_attrs",
            list(
                json.dumps(
                    {
                        "resourceSpans": [
                            {
                                "scopeSpans": [
                                    {
                                        "spans": [
                                            {
                                                "traceId": "ab" * 16,
                                                "spanId": "cd" * 8,
                                                "name": "edge",
                                                "startTimeUnixNano": "1000000000",
                                                "endTimeUnixNano": "2000000000",
                                                "attributes": [
                                                    {"key": "d", "value": {"doubleValue": 1.5}},
                                                    {"key": "b", "value": {"boolValue": False}},
                                                    {
                                                        "key": "arr",
                                                        "value": {
                                                            "arrayValue": {
                                                                "values": [
                                                                    {"intValue": "1"},
                                                                    {"stringValue": "s"},
                                                                ]
                                                            }
                                                        },
                                                    },
                                                ],
                                                "events": [
                                                    {
                                                        "name": "e1",
                                                        "timeUnixNano": "1500000000",
                                                        "attributes": [
                                                            {"key": "k", "value": {"intValue": "9"}}
                                                        ],
                                                    }
                                                ],
                                                "links": [
                                                    {"traceId": "EF" * 16, "spanId": "01" * 8, "flags": 7}
                                                ],
                                                "status": {"code": 2, "message": "bad"},
                                            }
                                        ]
                                    }
                                ]
                            }
                        ]
                    }
                ).encode()
            ),
        ),
    ]
    df = spark.createDataFrame(
        [(n, t, len(t), "probe") for n, t in rows],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    assert_engines_equal(df)


def _span_env(span: dict, resource: dict | None = None, scope: dict | None = None) -> bytes:
    rs: dict = {"scopeSpans": [{"spans": [span]}]}
    if resource is not None:
        rs["resource"] = resource
    if scope is not None:
        rs["scopeSpans"][0]["scope"] = scope
    return json.dumps({"resourceSpans": [rs]}, separators=(",", ":")).encode()


def test_engines_equal_wrong_typed_fields(spark):
    """ADVICE r1 (high): wrong-typed scalar fields must coerce/null the
    way from_json does — never abort the Arrow task — and both engines
    must agree on every column, including quarantine routing."""
    base = {
        "traceId": "ab" * 16,
        "spanId": "cd" * 8,
        "name": "n",
        "startTimeUnixNano": "1000000000",
        "endTimeUnixNano": "2000000000",
    }
    payloads: list[bytes] = [
        # wrong-typed scalars: flags/name/kind/traceState/times/status
        _span_env({**base, "flags": "oops"}),
        _span_env({**base, "flags": 3.5}),
        _span_env({**base, "flags": True}),
        _span_env({**base, "name": 123}),
        _span_env({**base, "name": {"x": 1}}),
        _span_env({**base, "kind": "2"}),
        _span_env({**base, "kind": 99}),
        _span_env({**base, "traceState": 7}),
        _span_env({**base, "startTimeUnixNano": 1.5}),
        _span_env({**base, "startTimeUnixNano": 1000000000}),
        _span_env({**base, "status": "oops"}),
        _span_env({**base, "status": {}}),
        _span_env({**base, "status": {"message": "m"}}),
        _span_env({**base, "status": {"code": "2"}}),
        _span_env({**base, "status": {"code": 2, "message": 5}}),
        # numeric ids stringify (then fail hex validation identically)
        _span_env({**base, "traceId": 123}),
        # wrong-typed arrays: whole array nulls
        _span_env({**base, "attributes": "oops"}),
        _span_env({**base, "attributes": [5, {"key": "k", "value": {"stringValue": "v"}}]}),
        _span_env({**base, "events": "oops"}),
        _span_env({**base, "events": [None, {"name": "e", "timeUnixNano": "1500000000"}]}),
        _span_env({**base, "events": [{"name": 5, "timeUnixNano": "1500000000"}]}),
        _span_env({**base, "links": [None]}),
        _span_env({**base, "links": [{"traceId": "zz", "spanId": "01" * 8}]}),
        # attribute entries: null key dropped, duplicate key last-wins,
        # anyvalue branch order + uncastable int/bytes terminate branches
        _span_env({**base, "attributes": [
            {"value": {"stringValue": "keyless"}},
            {"key": None, "value": {"stringValue": "nullkey"}},
            {"key": "dup", "value": {"stringValue": "first"}},
            {"key": "dup", "value": {"stringValue": "second"}},
            {"key": "sv_null", "value": {"stringValue": None, "boolValue": True}},
            {"key": "sv_num", "value": {"stringValue": 42}},
            {"key": "int_bad", "value": {"intValue": "abc"}},
            {"key": "int_float", "value": {"intValue": "1.5"}},
            {"key": "dbl_int", "value": {"doubleValue": 5}},
            {"key": "dbl_str", "value": {"doubleValue": "1.5"}},
            {"key": "bytes_bad", "value": {"bytesValue": "!!!"}},
            {"key": "bool_str", "value": {"boolValue": "true"}},
            {"key": "none", "value": None},
            {"key": "scalar_val", "value": 5},
        ]}),
        # severity/service.name duplicate-key extraction: LAST wins
        _span_env(
            {**base, "attributes": [
                {"key": "severity", "value": {"stringValue": "DEBUG"}},
                {"key": "severity", "value": {"stringValue": "ERROR"}},
            ]},
            resource={"attributes": [
                {"key": "service.name", "value": {"stringValue": "a"}},
                {"key": "service.name", "value": {"stringValue": "b"}},
            ]},
        ),
        # envelope-level shape poison: null/scalar levels, empty arrays,
        # context carried onto the explode_outer null rows
        b'{"resourceSpans":"oops"}',
        b'{"resourceSpans":[null]}',
        b'{"resourceSpans":[{"resource":"oops","scopeSpans":[{"spans":[]}]}]}',
        b'{"resourceSpans":[{"scopeSpans":"oops"}]}',
        b'{"resourceSpans":[{"scopeSpans":[null]}]}',
        b'{"resourceSpans":[{"scopeSpans":[{"scope":"oops","spans":[]}]}]}',
        b'{"resourceSpans":[{"scopeSpans":[{"spans":[null]}]}]}',
        b'{"resourceSpans":[{"scopeSpans":[{"spans":[5]}]}]}',
        _span_env(
            dict(base),
            resource={"attributes": [{"key": "service.name", "value": {"stringValue": "ctx"}}]},
            scope={"name": 7, "version": True},
        ).replace(b'"spans":[', b'"spans":[null,'),
        # deep nesting: depth-4 kvlist levels null out in BOTH engines
        _span_env({**base, "attributes": [
            {"key": "deep", "value": {"kvlistValue": {"values": [
                {"key": "l2", "value": {"kvlistValue": {"values": [
                    {"key": "l3", "value": {"kvlistValue": {"values": [
                        {"key": "l4", "value": {"stringValue": "x"}}
                    ]}}}
                ]}}}
            ]}}},
        ]}),
    ]
    df = spark.createDataFrame(
        [(f"wt-{i:03d}", list(p), len(p), "probe") for i, p in enumerate(payloads)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    assert_engines_equal(df)
    assert_engines_equal(df, with_inner=False)


def test_arrow_kernel_sliced_tokens_ignore_hidden_values(monkeypatch):
    """A sliced token ListArray keeps its parent's whole values buffer.
    Out-of-vocab tokens in the hidden part must not push the batch off
    the byte fast path, and the sliced batch must yield the same frame
    as a compact copy of its rows."""
    import pyarrow as pa

    from otel_worker_spark import parse_arrow as PA

    class Capture:
        def mapInArrow(self, kernel, schema):
            return kernel

    good = list(json.dumps(golden_trace_envelope(), separators=(",", ":")).encode())
    toks = [[300, -5], good, good, [999]]
    full = pa.RecordBatch.from_pydict({
        "doc_id": [f"doc-{i}" for i in range(len(toks))],
        "tokens": pa.array(toks, pa.list_(pa.int32())),
        "n_tok": pa.array([len(t) for t in toks], pa.int32()),
        "source": ["s"] * len(toks),
    })
    sliced = full.slice(1, 2)
    assert sliced.column(1).offsets[0].as_py() > 0  # hidden values exist
    compact = pa.RecordBatch.from_pylist(sliced.to_pylist(), schema=full.schema)
    kernel = parse_token_sequences_arrow(Capture())
    want = pa.Table.from_batches(list(kernel(iter([compact]))))

    def slow_path(*args, **kwargs):
        raise AssertionError("sliced batch left the byte fast path")

    monkeypatch.setattr(PA, "_parse_one_bytes", slow_path)
    got = pa.Table.from_batches(list(kernel(iter([sliced]))))
    assert got.num_rows == 4 and got.equals(want)


def test_protobuf_kernel_sliced_tokens_ignore_hidden_values(monkeypatch):
    """The protobuf kernel's token path applies the same visible-window
    check: hidden out-of-vocab tokens of a sliced ListArray keep the
    batch on the byte fast path, with the compact copy's frame."""
    import pyarrow as pa

    from otel_worker_spark import parse_arrow as PA
    from otel_worker_spark.proto import encode_export_request, parse_token_sequences_protobuf

    class Capture:
        def mapInArrow(self, kernel, schema):
            return kernel

    good = list(encode_export_request(golden_trace_envelope()))
    toks = [[300, -5], good, good, [999]]
    full = pa.RecordBatch.from_pydict({
        "doc_id": [f"doc-{i}" for i in range(len(toks))],
        "tokens": pa.array(toks, pa.list_(pa.int32())),
        "n_tok": pa.array([len(t) for t in toks], pa.int32()),
        "source": ["s"] * len(toks),
    })
    sliced = full.slice(1, 2)
    assert sliced.column(1).offsets[0].as_py() > 0  # hidden values exist
    compact = pa.RecordBatch.from_pylist(sliced.to_pylist(), schema=full.schema)
    kernel = parse_token_sequences_protobuf(Capture())
    want = pa.Table.from_batches(list(kernel(iter([compact]))))

    def slow_path(*args, **kwargs):
        raise AssertionError("sliced batch left the byte fast path")

    # the per-row path converts each row through this helper
    monkeypatch.setattr(PA, "_segment_bytes", slow_path)
    got = pa.Table.from_batches(list(kernel(iter([sliced]))))
    assert got.num_rows == 4 and got.equals(want)
