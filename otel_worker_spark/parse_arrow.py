"""The parse engine: the whole parse stage in one mapInArrow kernel —
the north rule's prescribed shape ("vectorized pandas/Arrow UDFs
perform grok/regex-style parsing of serialized OTLP-like payloads
reconstructed from token arrays, extract trace_id / span_id /
severity / resource attributes into typed columns").

Reference semantics (SURVEY.md §2.2, ``Span::from_collector_request``,
otel.rs:49-118): P1 the triple flatten with resource/scope context
copied onto every span; P2 nanos → µs timestamps, out-of-range values
quarantine instead of panicking; P3/P15 lowercased, validated hex ids;
P4 empty parentSpanId → NULL; P5/P6 the kind/status strings, missing
kind → ``Unspecified``; P7/P8 attribute maps key-sorted (BTreeMap)
with values as untagged JSON strings; P9/P10 normalized events and
links; P11/P12 the ``inner`` column, the full span as JSON text with
RFC3339 UTC timestamps at µs precision. Invalid rows carry
``is_valid=false`` and an ``invalid_reason`` instead of failing the
batch — one poison payload must not kill the job.

Contract: the frozen goldens of ``tests/test_parse_engines.py``
(literal frames for golden, poison and wrong-typed payloads, per-column
digests for an events-derived set) and the registry's DuckDB oracles
(``pipeline_parse_spans``, ``pipeline_quarantine``), which compute the
same answers straight from ``events``. Wrong-typed JSON follows the
coercion rules of Spark's ``from_json`` with an explicit schema in
PERMISSIVE mode (see the coercion helpers below), so a field of the
wrong type nulls or coerces and never aborts the task.

Shape: tokens → numpy bytes view → orjson → flatten loops; attribute
maps, untagged AnyValue encoding and ``inner`` come from sorted-key
compact JSON dumps; one output row per span, no Spark-side explode. A
narrow map, no shuffle; the Arrow batch size bounds memory and Python
worker parallelism is task parallelism.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .schemas import SPAN_KINDS, STATUS_CODES

# orjson (baked into this image) parses UTF-8 bytes directly ~2× faster
# than stdlib json and serializes compact/unescaped-unicode by default —
# byte-identical to json.dumps(separators=(",", ":"), ensure_ascii=False)
# for the str/int/float/bool/dict/list values this module emits.
try:
    import orjson as _orjson

    _loads = _orjson.loads

    def _dumps(o) -> str:
        return _orjson.dumps(o).decode("utf-8")

except ImportError:  # pragma: no cover — orjson ships in the image
    _loads = json.loads

    def _dumps(o) -> str:
        return json.dumps(o, separators=(",", ":"), ensure_ascii=False)

_SPARK_TYPES = {
    "trace_id": "string", "span_id": "string", "parent_span_id": "string",
    "name": "string", "kind": "string", "start_time": "timestamp",
    "end_time": "timestamp", "trace_state": "string", "flags": "long",
    "scope_name": "string", "scope_version": "string",
    "status_code": "string", "status_message": "string",
    "attributes": "map<string,string>",
    "scope_attributes": "map<string,string>",
    "resource_attributes": "map<string,string>",
    "events": "array<struct<name:string,timestamp:timestamp,attributes:map<string,string>>>",
    "links": (
        "array<struct<trace_id:string,span_id:string,trace_state:string,"
        "attributes:map<string,string>,flags:long>>"
    ),
    "severity": "string", "service_name": "string", "doc_id": "string",
    "payload": "binary", "n_tok": "int", "source": "string",
    "is_valid": "boolean", "invalid_reason": "string", "inner": "string",
}

#: fields whose construction is skippable under column pruning
#: (mapInArrow cannot be pruned by Catalyst — we prune ourselves)
_HEAVY = {"attributes", "scope_attributes", "resource_attributes",
          "events", "links", "inner", "payload"}


def _schema_for(cols: list[str]) -> str:
    return ", ".join(f"{c} {_SPARK_TYPES[c]}" for c in cols)


OUTPUT_SCHEMA = None  # set below once _COLUMNS is defined


# ---- from_json coercions ---------------------------------------------------
# Spark's from_json with an explicit schema in PERMISSIVE mode has
# precise per-type coercion rules (probed empirically; the wrong-typed
# and poison goldens of tests/test_parse_engines.py pin them). Every
# value pulled from the orjson/json decode goes through one of these,
# so a wrong-typed field NEVER reaches pa.array (which would abort the
# task); it coerces or nulls the way from_json does.


def _as_str(v):
    """StringType: ANY JSON value coerces to its text. Jackson copies
    the raw token span; we re-serialize compactly — identical except
    for non-canonical whitespace/number spellings inside nested values,
    which OTLP producers don't emit."""
    if v is None or isinstance(v, str):
        return v
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, int):
        return str(v)
    return _dumps(v)


def _as_long(v):
    """LongType: only a JSON integer (not bool/float/string) survives."""
    if isinstance(v, int) and not isinstance(v, bool) and -(2**63) <= v < 2**63:
        return v
    return None


def _as_int32(v):
    """IntegerType: JSON integer within int32 range."""
    if isinstance(v, int) and not isinstance(v, bool) and -(2**31) <= v < 2**31:
        return v
    return None


_B64_SHAPE = __import__("re").compile(r"^[A-Za-z0-9+/]*={0,2}$")
_B64_ALPHA = {
    c: i
    for i, c in enumerate(
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
    )
}


def _unbase64_lenient(s: str) -> bytes | None:
    """Spark's UnBase64 semantics (probed): whitespace ignored, any
    other non-alphabet char → null, '=' only as trailing padding with
    4-aligned total, unpadded input allowed, a single leftover 6-bit
    char → null, partial final groups decode with remainder dropped."""
    s = "".join(s.split())
    if not _B64_SHAPE.match(s):
        return None
    body = s.rstrip("=")
    if len(s) != len(body) and len(s) % 4:
        return None
    if len(body) % 4 == 1:
        return None
    bits = nbits = 0
    out = bytearray()
    for ch in body:
        bits = (bits << 6) | _B64_ALPHA[ch]
        nbits += 6
        if nbits >= 8:
            nbits -= 8
            out.append((bits >> nbits) & 0xFF)
    return bytes(out)


def _as_structlist(v):
    """array<struct<...>>: a non-list, or any element that is neither
    an object nor null, nulls the WHOLE array (from_json behavior)."""
    if not isinstance(v, list):
        return None
    for x in v:
        if x is not None and not isinstance(x, dict):
            return None
    return v


def _anyvalue(v, depth: int = 3):
    """OTLP/JSON AnyValue → native Python (the untagged API encoding),
    mirroring From<any_value::Value> for AttributeValue
    (otel-worker-core/src/api/models/otel.rs:269-292) with from_json's
    coercions: branches are taken on the field value being non-null
    AFTER schema coercion, and a present-but-uncastable intValue/bytesValue terminates its branch with null
    rather than falling through. Recursion is bounded by ``depth``
    (3 covers every fixture of the reference, including its serde
    golden tests at otel.rs:320-384); deeper levels null out."""
    if not isinstance(v, dict):
        return None
    s = v.get("stringValue")
    if type(s) is str:  # fast path: the overwhelmingly common branch
        return s
    s = _as_str(s)
    if s is not None:
        return s
    b = v.get("boolValue")
    if isinstance(b, bool):
        return b
    iv = _as_str(v.get("intValue"))
    if iv is not None:
        try:
            n = int(iv)
        except ValueError:
            return None
        return n if -(2**63) <= n < 2**63 else None
    d = v.get("doubleValue")
    if isinstance(d, (int, float)) and not isinstance(d, bool):
        return float(d)
    bv = _as_str(v.get("bytesValue"))
    if bv is not None:
        by = _unbase64_lenient(bv)
        return list(by) if by is not None else None
    if depth > 1:
        av = v.get("arrayValue")
        if isinstance(av, dict):
            vals = _as_structlist(av.get("values"))
            if vals is not None:
                return [_anyvalue(x, depth - 1) for x in vals]
        kv = v.get("kvlistValue")
        if isinstance(kv, dict):
            d = _attrs_native(kv.get("values"), depth - 1)
            if d is not None:
                return d
    return None


def _attrs_native(attrs, depth: int = 3) -> dict | None:
    """KeyValue list → key-sorted dict of native values (BTreeMap).
    Null/keyless entries are dropped (a map key cannot be null);
    duplicate keys keep the LAST
    value in input order (BTreeMap insert / LAST_WIN parity)."""
    attrs = _as_structlist(attrs)
    if attrs is None:
        return None
    out = {}
    for kv in attrs:
        if kv is None:
            continue
        k = kv.get("key")
        if type(k) is not str:  # fast path skips the _as_str call
            k = _as_str(k)
            if k is None:
                continue
        val = kv.get("value")
        # inline the hot _anyvalue prefix (dict with a plain-string
        # stringValue); everything else takes the full decoder
        if type(val) is dict:
            sv = val.get("stringValue")
            out[k] = sv if type(sv) is str else _anyvalue(val, depth)
        else:
            out[k] = _anyvalue(val, depth)
    if len(out) > 1:
        return dict(sorted(out.items()))
    return out


_NEEDS_ESCAPE = __import__("re").compile(r'[\\"\x00-\x1f]')


def _json_value(v) -> str:
    """json.dumps with a fast path for the overwhelmingly common
    cases (plain strings, ints, bools) — the per-attribute dumps call
    is a kernel hotspot."""
    if type(v) is str:
        if _NEEDS_ESCAPE.search(v) is None:
            return '"' + v + '"'
        return json.dumps(v, ensure_ascii=False)
    if v is True:
        return "true"
    if v is False:
        return "false"
    if type(v) is int:
        return str(v)
    return _dumps(v)


def _attrs_jsonmap(native: dict | None) -> dict | None:
    """Native attr dict → map<string, json-string> (engine column form)."""
    if native is None:
        return None
    return {k: _json_value(v) for k, v in native.items()}


def _hex_id(s) -> str | None:
    s = _as_str(s)  # StringType coercion first (a numeric id stringifies)
    if not isinstance(s, str) or s == "":
        return None
    return s.lower()


_HEX_RE = __import__("re").compile(r"[0-9a-f]+\Z")


def valid_hex(s: str | None) -> bool:
    """A well-formed id: non-empty, even-length, lowercase hex (P3)."""
    # fullmatch([0-9a-f]+) ≡ the set-inclusion check (non-empty, all
    # lowercase hex) at C speed — no per-call set allocation
    return (
        s is not None
        and len(s) % 2 == 0
        and _HEX_RE.fullmatch(s) is not None
    )


def _nanos_ts(v) -> datetime | None:
    """Decimal-string nanos → naive-UTC datetime at µs precision (P2).

    Floor division (exact integer ns → µs; a double would perturb
    epoch nanos by ±1 µs). Values whose
    µs instant falls outside Python's datetime range (year 1..9999)
    quarantine here although Spark's TimestampType could hold a few
    more millennia — irrelevant in practice, noted for parity."""
    v = _as_str(v)  # StringType coercion (JSON number → its text; a
    # text that is no integer, like "1.5" or "true", nulls)
    if v is None:
        return None
    try:
        ns = int(v)
    except ValueError:
        return None
    if not (-(2**63) < ns < 2**63):
        return None
    try:
        return datetime(1970, 1, 1) + timedelta(microseconds=ns // 1000)
    except OverflowError:
        return None


def _rfc3339(dt: datetime | None) -> str | None:
    if dt is None:
        return None
    return dt.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"


def _arrow_types():
    import pyarrow as pa

    map_t = pa.map_(pa.string(), pa.string())
    return {
        "trace_id": pa.string(),
        "span_id": pa.string(),
        "parent_span_id": pa.string(),
        "name": pa.string(),
        "kind": pa.string(),
        "start_time": pa.timestamp("us"),
        "end_time": pa.timestamp("us"),
        "trace_state": pa.string(),
        "flags": pa.int64(),
        "scope_name": pa.string(),
        "scope_version": pa.string(),
        "status_code": pa.string(),
        "status_message": pa.string(),
        "attributes": map_t,
        "scope_attributes": map_t,
        "resource_attributes": map_t,
        "events": pa.list_(
            pa.struct(
                [
                    ("name", pa.string()),
                    ("timestamp", pa.timestamp("us")),
                    ("attributes", map_t),
                ]
            )
        ),
        "links": pa.list_(
            pa.struct(
                [
                    ("trace_id", pa.string()),
                    ("span_id", pa.string()),
                    ("trace_state", pa.string()),
                    ("attributes", map_t),
                    ("flags", pa.int64()),
                ]
            )
        ),
        "severity": pa.string(),
        "service_name": pa.string(),
        "doc_id": pa.string(),
        "payload": pa.binary(),
        "n_tok": pa.int32(),
        "source": pa.string(),
        "is_valid": pa.bool_(),
        "invalid_reason": pa.string(),
        "inner": pa.string(),
    }


def parse_token_sequences_arrow(
    df: DataFrame, with_inner: bool = True, columns: list[str] | None = None
) -> DataFrame:
    """token_sequences(doc_id, tokens, n_tok, source) → flat span rows:
    one row per wire span (plus all-null-span rows for undecodable
    sequences and null/empty envelope levels) with the columns of
    ``_COLUMNS``, ``is_valid`` and ``invalid_reason`` among them.

    Implemented over ``mapInArrow`` rather than ``mapInPandas``: the
    dominant cost of the stage is not parsing but moving the token
    payloads across the Arrow boundary. The input token column is read
    zero-copy (ListArray values buffer + offsets); the payload bytes
    are carried OUT as a ``payload`` BINARY column, never as an
    ``array<int>`` — the JVM side of the Python-stage boundary
    materializes every emitted column into rows, and a 10³-element int
    array per row costs ~25× more row-conversion work than one binary
    cell holding the same bytes (measured: the array column alone more
    than doubled end-to-end pipeline time). Token-array equality ⇔
    payload byte equality under the identity byte vocab (FIXTURES.md
    §1), so the invariant is preserved; ``tokens.tokenize_expr``
    reconstructs the array form when a consumer needs it. The one loss:
    a quarantine row whose tokens fall OUTSIDE 0..255 (out-of-vocab
    garbage) carries payload NULL — no byte string can represent it.

    ``columns`` prunes the output: Catalyst cannot push column pruning
    into a Python kernel, so callers that only need typed scalars pass
    the subset and the kernel skips building attribute maps /
    events / links / inner / the payload carry entirely.
    """
    emit = [c for c in _COLUMNS if columns is None or c in set(columns)]
    if columns is not None:
        missing = set(columns) - set(_COLUMNS)
        if missing:
            raise ValueError(f"unknown parse columns: {sorted(missing)}")
    need_heavy = frozenset(_HEAVY & set(emit))
    build_inner = with_inner and "inner" in need_heavy

    def kernel(batches):
        import pyarrow as pa

        types = _arrow_types()
        for rb in batches:
            tok_col = rb.column(rb.schema.get_field_index("tokens"))
            if isinstance(tok_col, pa.ChunkedArray):
                tok_col = tok_col.combine_chunks()
            offsets = tok_col.offsets.to_numpy(zero_copy_only=False)
            values = tok_col.values.to_numpy(zero_copy_only=False)
            doc_ids = rb.column(rb.schema.get_field_index("doc_id")).to_pylist()
            n_toks = rb.column(rb.schema.get_field_index("n_tok")).to_pylist()
            sources = rb.column(rb.schema.get_field_index("source")).to_pylist()

            # one vectorized range check + uint8 conversion for the
            # whole batch (identity byte vocab holds for virtually all
            # input); per-row min/max only when the batch has any
            # out-of-vocab token. Only the rows' own window of the
            # values child counts: a sliced ListArray keeps the parent's
            # whole values buffer, whose hidden tokens must neither
            # force the slow path nor be copied.
            lo = offsets[0]
            visible = values[lo : offsets[-1]]
            all_bytes = visible.size == 0 or (
                visible.min() >= 0 and visible.max() <= 255
            )
            vals_u8 = visible.astype(np.uint8) if all_bytes else None

            rows: list[dict] = []
            if all_bytes:
                for i in range(rb.num_rows):
                    rows.extend(
                        _parse_one_raw(
                            doc_ids[i],
                            vals_u8[offsets[i] - lo : offsets[i + 1] - lo].tobytes(),
                            n_toks[i],
                            sources[i],
                            build_inner,
                            need_heavy,
                        )
                    )
            else:
                for i in range(rb.num_rows):
                    rows.extend(
                        _parse_one_bytes(
                            doc_ids[i],
                            values[offsets[i] : offsets[i + 1]],
                            n_toks[i],
                            sources[i],
                            build_inner,
                            need_heavy,
                        )
                    )

            arrays = [
                pa.array([r[col] for r in rows], type=types[col]) for col in emit
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=emit)

    return df.mapInArrow(kernel, schema=_schema_for(emit))


def _parse_one_bytes(
    doc_id, seg, n_tok, source, with_inner, need=frozenset(_HEAVY)
) -> list[dict]:
    """Parse from the zero-copy int array slice. ``need`` lists the
    heavy fields to actually build; ``payload`` (the raw bytes) is
    attached to every emitted row when requested."""
    raw = _segment_bytes(seg)
    if raw is None:
        return _null_row(doc_id, None, n_tok, source, "undecodable_payload")
    return _parse_one_raw(doc_id, raw, n_tok, source, with_inner, need)


def _segment_bytes(seg) -> bytes | None:
    """One row's int tokens as payload bytes; None when any token lies
    outside the byte vocab (0..255) and no byte representation exists."""
    if seg.size and (seg.min() < 0 or seg.max() > 255):
        return None
    return seg.astype(np.uint8).tobytes()


def _parse_one_raw(
    doc_id, raw, n_tok, source, with_inner, need=frozenset(_HEAVY)
) -> list[dict]:
    """Parse from payload bytes already proven in-vocab (0..255)."""
    carry = "payload" in need
    try:
        env = _loads(raw)  # orjson parses the UTF-8 bytes directly
    except ValueError:
        try:
            raw.decode("utf-8")
        except UnicodeDecodeError:
            out = _null_row(doc_id, None, n_tok, source, "undecodable_payload")
            if carry:
                out[0]["payload"] = raw
            return out
        env = None  # valid UTF-8, malformed JSON → explode-chain null row
    out = _walk_envelope(env, doc_id, n_tok, source, with_inner, need)
    if carry:
        for r in out:
            r["payload"] = raw
    return out


_COLUMNS = [
    "trace_id", "span_id", "parent_span_id", "name", "kind", "start_time",
    "end_time", "trace_state", "flags", "scope_name", "scope_version",
    "status_code", "status_message", "attributes", "scope_attributes",
    "resource_attributes", "events", "links", "severity", "service_name",
    "doc_id", "payload", "n_tok", "source", "is_valid", "invalid_reason",
    "inner",
]


OUTPUT_SCHEMA = _schema_for(_COLUMNS)


def _null_row(doc_id, _tokens, n_tok, source, reason, ctx: dict | None = None):
    """One all-null-span row (the explode_outer analog for a missing /
    null level of the envelope). ``ctx`` carries the parent context a
    correlated flatten keeps on such rows — resource
    attributes / service_name when scopeSpans is null, plus scope
    fields when spans is null."""
    base = dict.fromkeys(_COLUMNS)
    base.update(
        doc_id=doc_id, n_tok=n_tok, source=source,
        is_valid=False, invalid_reason=reason,
        # the kind decode coalesces null → Unspecified
        # (data/models.rs:58) even on all-null quarantine rows
        kind="Unspecified",
    )
    if ctx:
        base.update(ctx)
    return [base]


def _parse_payload(doc_id, payload, n_tok, source, with_inner, need=frozenset(_HEAVY)) -> list[dict]:
    # JSON-shape failures follow from_json PERMISSIVE: a null-field
    # struct, flattened (explode_outer) to one null-span row whose
    # reason is invalid_trace_id.
    # Only token/UTF-8 failures are "undecodable_payload".
    # Every level follows the explode_outer contract: a null OR empty
    # array yields exactly one null-span row carrying the parent
    # context, and an array with a non-object element nulls the WHOLE
    # array (from_json), not just that element.
    try:
        env = _loads(payload)
    except ValueError:
        env = None
    return _walk_envelope(env, doc_id, n_tok, source, with_inner, need)


def _walk_envelope(env, doc_id, n_tok, source, with_inner, need=frozenset(_HEAVY)) -> list[dict]:
    """The shared flatten/normalize walk over an OTLP/JSON-shaped
    envelope dict — fed by BOTH wire decoders (json.loads here,
    proto.decode_export_request for S2), so protobuf and JSON payloads
    go through byte-identical downstream semantics."""
    rs_list = _as_structlist(env.get("resourceSpans")) if isinstance(env, dict) else None
    if not rs_list:  # null or empty → one fully-null row
        return _null_row(doc_id, None, n_tok, source, "invalid_trace_id")

    out: list[dict] = []
    for rs in rs_list:
        if rs is None:
            out.extend(_null_row(doc_id, None, n_tok, source, "invalid_trace_id"))
            continue
        resource = rs.get("resource")
        res_native = (
            _attrs_native(resource.get("attributes")) if isinstance(resource, dict) else None
        )
        res_map = _attrs_jsonmap(res_native) if "resource_attributes" in need else None
        service_name = None
        if res_native and isinstance(res_native.get("service.name"), str):
            service_name = res_native["service.name"]
        rs_ctx = {"resource_attributes": res_map, "service_name": service_name}
        ss_list = _as_structlist(rs.get("scopeSpans"))
        if not ss_list:
            out.extend(
                _null_row(doc_id, None, n_tok, source, "invalid_trace_id", rs_ctx)
            )
            continue
        for ss in ss_list:
            if ss is None:
                out.extend(
                    _null_row(doc_id, None, n_tok, source, "invalid_trace_id", rs_ctx)
                )
                continue
            scope = ss.get("scope")
            if not isinstance(scope, dict):
                scope = {}
            scope_native = _attrs_native(scope.get("attributes"))
            sp_list = _as_structlist(ss.get("spans"))
            if not sp_list:
                ss_ctx = {
                    **rs_ctx,
                    "scope_name": _as_str(scope.get("name")),
                    "scope_version": _as_str(scope.get("version")),
                    "scope_attributes": (
                        _attrs_jsonmap(scope_native) if "scope_attributes" in need else None
                    ),
                }
                out.extend(
                    _null_row(doc_id, None, n_tok, source, "invalid_trace_id", ss_ctx)
                )
                continue
            for sp in sp_list:
                if sp is None:
                    ss_ctx = {
                        **rs_ctx,
                        "scope_name": _as_str(scope.get("name")),
                        "scope_version": _as_str(scope.get("version")),
                        "scope_attributes": (
                            _attrs_jsonmap(scope_native) if "scope_attributes" in need else None
                        ),
                    }
                    out.extend(
                        _null_row(doc_id, None, n_tok, source, "invalid_trace_id", ss_ctx)
                    )
                    continue
                out.append(
                    _span_row(
                        sp, scope, scope_native, res_native, res_map,
                        service_name, doc_id, n_tok, source, with_inner, need,
                    )
                )
    return out


def _span_row(
    sp, scope, scope_native, res_native, res_map, service_name,
    doc_id, n_tok, source, with_inner, need=frozenset(_HEAVY),
) -> dict:
    attrs_native = _attrs_native(sp.get("attributes"))
    scope_name = _as_str(scope.get("name"))
    scope_version = _as_str(scope.get("version"))
    trace_id = _hex_id(sp.get("traceId"))
    span_id = _hex_id(sp.get("spanId"))
    parent = _hex_id(sp.get("parentSpanId"))
    start = _nanos_ts(sp.get("startTimeUnixNano"))
    end = _nanos_ts(sp.get("endTimeUnixNano"))
    kind_i = _as_int32(sp.get("kind"))
    kind = SPAN_KINDS.get(kind_i, "Unspecified") if kind_i is not None else "Unspecified"
    status = sp.get("status")
    status_code = None
    status_message = None
    if isinstance(status, dict):
        # a status object without a (usable) code still means Unset —
        # proto3 field default, reference Status::code() parity
        status_code = STATUS_CODES.get(_as_int32(status.get("code")), "Unset")
        status_message = _as_str(status.get("message"))
    name = _as_str(sp.get("name"))
    trace_state = _as_str(sp.get("traceState"))
    flags = _as_long(sp.get("flags"))

    # events/links arrays follow from_json: a wrong-typed array (or a
    # non-object element) nulls the whole column; a null ELEMENT yields
    # an all-null-fields struct (transform over null), and such structs
    # are skipped in `inner` (their concat fragment nulls out).
    ev_list = _as_structlist(sp.get("events"))
    li_list = _as_structlist(sp.get("links"))
    events = []
    events_native = []
    want_events = "events" in need or with_inner
    for e in (ev_list or []) if want_events else []:
        if e is None:
            events.append({"name": None, "timestamp": None, "attributes": None})
            continue
        e_native = _attrs_native(e.get("attributes"))
        e_ts = _nanos_ts(e.get("timeUnixNano"))
        e_name = _as_str(e.get("name"))
        events.append(
            {
                "name": e_name,
                "timestamp": e_ts,
                "attributes": _attrs_jsonmap(e_native),
            }
        )
        if e_name is not None and e_ts is not None:
            events_native.append(
                {"name": e_name, "timestamp": _rfc3339(e_ts), "attributes": e_native or {}}
            )
    links = []
    links_native = []
    want_links = "links" in need or with_inner
    for li in (li_list or []) if want_links else []:
        if li is None:
            links.append(
                {"trace_id": None, "span_id": None, "trace_state": None,
                 "attributes": None, "flags": None}
            )
            continue
        li_native = _attrs_native(li.get("attributes"))
        li_tid = _hex_id(li.get("traceId"))
        li_sid = _hex_id(li.get("spanId"))
        li_state = _as_str(li.get("traceState"))
        li_flags = _as_long(li.get("flags"))
        links.append(
            {
                "trace_id": li_tid,
                "span_id": li_sid,
                "trace_state": li_state,
                "attributes": _attrs_jsonmap(li_native),
                "flags": li_flags,
            }
        )
        if li_tid is None or li_sid is None:
            continue  # required fields null → fragment nulls out of inner
        ld = {"traceId": li_tid, "spanId": li_sid}
        if li_state is not None:
            ld["traceState"] = li_state
        ld["attributes"] = li_native or {}
        if li_flags is not None:
            ld["flags"] = li_flags
        links_native.append(ld)

    severity = None
    if attrs_native and isinstance(attrs_native.get("severity"), str):
        severity = attrs_native["severity"]

    reason = None
    if trace_id is None or not valid_hex(trace_id):
        reason = "invalid_trace_id"
    elif span_id is None or not valid_hex(span_id):
        reason = "invalid_span_id"
    elif parent is not None and not valid_hex(parent):
        reason = "invalid_parent_span_id"
    elif name is None:
        reason = "missing_name"
    elif start is None or end is None:
        reason = "invalid_time"

    inner = None
    if with_inner and reason is None:
        doc = {"traceId": trace_id, "spanId": span_id}
        if parent is not None:
            doc["parentSpanId"] = parent
        doc["name"] = name
        if trace_state is not None:
            doc["traceState"] = trace_state
        if flags is not None:
            doc["flags"] = flags
        doc["kind"] = kind
        if scope_name is not None:
            doc["scopeName"] = scope_name
        if scope_version is not None:
            doc["scopeVersion"] = scope_version
        doc["startTime"] = _rfc3339(start)
        doc["endTime"] = _rfc3339(end)
        doc["attributes"] = attrs_native or {}
        if scope_native is not None:
            doc["scopeAttributes"] = scope_native
        if res_native is not None:
            doc["resourceAttributes"] = res_native
        if status_code is not None:
            s = {"code": status_code}
            if status_message is not None:
                s["message"] = status_message
            doc["status"] = s
        if ev_list is not None:
            doc["events"] = events_native
        if li_list is not None:
            doc["links"] = links_native
        inner = _dumps(doc)

    return {
        "trace_id": trace_id,
        "span_id": span_id,
        "parent_span_id": parent,
        "name": name,
        "kind": kind,
        "start_time": start,
        "end_time": end,
        "trace_state": trace_state,
        "flags": flags,
        "scope_name": scope_name,
        "scope_version": scope_version,
        "status_code": status_code,
        "status_message": status_message,
        "attributes": _attrs_jsonmap(attrs_native) if "attributes" in need else None,
        "scope_attributes": _attrs_jsonmap(scope_native) if "scope_attributes" in need else None,
        "resource_attributes": res_map,
        "events": events if ev_list is not None else None,
        "links": links if li_list is not None else None,
        "severity": severity,
        "service_name": service_name,
        "doc_id": doc_id,
        "n_tok": n_tok,
        "source": source,
        "is_valid": reason is None,
        "invalid_reason": reason,
        "inner": inner,
    }
