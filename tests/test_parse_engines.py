"""The Arrow parse kernel (``parse_arrow``) against frozen goldens.

``goldens/parse_kernel.json`` holds the kernel's frame for four input
sets, in the normal form of ``_normal_form``: rows sorted by
(``doc_id``, ``span_id``), every cell as its ``repr``. The golden,
poison and wrong-typed sets are stored as literal cells; the 300-row
events-derived set as one sha256 per column. The goldens were generated
at the last commit that still carried a second, pure-Catalyst parse
engine (``from_json`` + explode chain), where both engines produced
these frames cell for cell. The DuckDB oracles of the registry
(``pipeline_parse_spans``, ``pipeline_quarantine``,
``pipeline_protobuf_*``) remain the independent check of the parse.

Regenerate (only for a deliberate change of the parse contract):
``PYTHONPATH=. python tests/test_parse_engines.py``
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from otel_worker_spark.fixtures import (
    golden_trace_envelope,
    token_df_from_payloads,
    token_sequences_from_events,
)
from otel_worker_spark.parse_arrow import parse_token_sequences_arrow

SF_DIR = "/root/testdata/sf0.001"
GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens", "parse_kernel.json")

#: sets whose golden is one sha256 per column instead of literal cells
HASHED = {"events_derived"}


def _normal_form(parsed) -> dict[str, list[str]]:
    """column → the repr of each cell, rows sorted by (doc_id, span_id).
    repr, not str: the payload column holds raw bytes that need not be
    valid UTF-8."""
    pdf = (
        parsed.toPandas()
        .sort_values(["doc_id", "span_id"], na_position="first")
        .reset_index(drop=True)
    )
    return {c: pdf[c].map(repr).tolist() for c in pdf.columns}


def _digest(cells: list[str]) -> str:
    return hashlib.sha256("\n".join(cells).encode()).hexdigest()


def _golden_entry(name: str, cols: dict[str, list[str]]) -> dict:
    n_rows = len(next(iter(cols.values())))
    if name in HASHED:
        return {"rows": n_rows, "sha256": {c: _digest(v) for c, v in cols.items()}}
    return {"rows": n_rows, "cells": cols}


def assert_matches_golden(df, name: str, with_inner: bool = True) -> None:
    """The kernel's frame of ``df`` equals golden set ``name``; with
    ``with_inner=False`` the same frame with ``inner`` null."""
    with open(GOLDENS) as f:
        want = json.load(f)[name]
    got = _normal_form(parse_token_sequences_arrow(df, with_inner=with_inner))
    if not with_inner:
        inner = got.pop("inner")
        assert set(inner) == {"None"}, f"inner not null: {sorted(set(inner))[:3]}"
    got_entry = _golden_entry(name, got)
    assert got_entry["rows"] == want["rows"]
    key = "sha256" if name in HASHED else "cells"
    want_cols = {c: v for c, v in want[key].items() if with_inner or c != "inner"}
    assert sorted(got_entry[key]) == sorted(want_cols)
    for c, v in want_cols.items():
        g = got_entry[key][c]
        if name in HASHED:
            assert g == v, f"column {c} differs from its golden digest"
        else:
            diff = [i for i, (a, b) in enumerate(zip(v, g)) if a != b]
            assert not diff, (
                f"column {c} differs at rows {diff[:3]}:\n golden: {[v[i] for i in diff[:3]]}"
                f"\n kernel: {[g[i] for i in diff[:3]]}"
            )


def _golden_input(spark):
    return token_df_from_payloads(spark, [golden_trace_envelope()])


def _events_input(spark):
    return token_sequences_from_events(spark, SF_DIR).limit(300)


def _poison_input(spark):
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
    return spark.createDataFrame(
        [(n, t, len(t), "probe") for n, t in rows],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )


def _span_env(span: dict, resource: dict | None = None, scope: dict | None = None) -> bytes:
    rs: dict = {"scopeSpans": [{"spans": [span]}]}
    if resource is not None:
        rs["resource"] = resource
    if scope is not None:
        rs["scopeSpans"][0]["scope"] = scope
    return json.dumps({"resourceSpans": [rs]}, separators=(",", ":")).encode()


def _wrong_typed_input(spark):
    """Wrong-typed scalars, arrays, attribute entries and envelope
    levels, one payload each."""
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
        # deep nesting: depth-4 kvlist levels null out (AnyValue depth 3)
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
    return spark.createDataFrame(
        [(f"wt-{i:03d}", list(p), len(p), "probe") for i, p in enumerate(payloads)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )


INPUTS = {
    "golden": _golden_input,
    "events_derived": _events_input,
    "poison": _poison_input,
    "wrong_typed": _wrong_typed_input,
}


def test_goldens_golden_envelope(spark):
    assert_matches_golden(_golden_input(spark), "golden")


def test_goldens_events_derived(spark):
    tok = _events_input(spark)
    assert_matches_golden(tok, "events_derived")
    assert_matches_golden(tok, "events_derived", with_inner=False)


def test_goldens_poison(spark):
    assert_matches_golden(_poison_input(spark), "poison")


def test_goldens_wrong_typed_fields(spark):
    """Wrong-typed scalar fields coerce or null the way ``from_json``
    does (never abort the Arrow task), including quarantine routing."""
    df = _wrong_typed_input(spark)
    assert_matches_golden(df, "wrong_typed")
    assert_matches_golden(df, "wrong_typed", with_inner=False)


def test_transform_batch_rejects_unknown_engine(spark):
    from otel_worker_spark.fixtures import service_lookup_df
    from otel_worker_spark.pipeline import transform_batch

    tok = _golden_input(spark)
    for engine in ("sql", "json", ""):
        with pytest.raises(ValueError, match="engine"):
            transform_batch(tok, service_lookup_df(spark), engine=engine)


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


def write_goldens(spark) -> None:
    os.makedirs(os.path.dirname(GOLDENS), exist_ok=True)
    out = {
        name: _golden_entry(name, _normal_form(parse_token_sequences_arrow(make(spark))))
        for name, make in INPUTS.items()
    }
    with open(GOLDENS, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    from otel_worker_spark.session import get_spark

    write_goldens(get_spark(app_name="parse-goldens", shuffle_partitions=8))
