"""OTLP protobuf wire codec + parse kernel (SURVEY §2.1 S2).

The reference accepts ``application/x-protobuf`` OTLP export requests
as its DEFAULT wire encoding (otel-worker-core/src/api/handlers/
otel.rs:71-111, prost branch at 97-106). No protobuf library ships in
this image, so this module hand-walks the public protobuf wire format
(varint / fixed32 / fixed64 / length-delimited) for the
``ExportTraceServiceRequest`` message subset, using the public field
numbers from opentelemetry-proto:

    trace/v1/trace.proto        Span, Event, Link, Status, ResourceSpans,
                                ScopeSpans, InstrumentationScope
    common/v1/common.proto      KeyValue, AnyValue, ArrayValue, KeyValueList
    resource/v1/resource.proto  Resource
    collector/trace/v1/trace_service.proto  ExportTraceServiceRequest

The decoder emits the SAME OTLP/JSON-shaped envelope dict the JSON
path produces (hex ids, camelCase keys, intValue as decimal string,
bytesValue as base64 — the protobuf-JSON mapping), then feeds the
shared ``parse_arrow._walk_envelope``: protobuf and JSON payloads get
byte-identical downstream semantics by construction.

proto3 presence semantics match prost (the reference's decoder):
scalar fields decode to their defaults when absent (kind→0→Unspecified,
flags→0, name→"", times→0), message fields (resource/scope/status)
keep presence, repeated fields default empty. This is a REAL semantic
difference from the JSON path (where a missing scalar is null) and is
faithful to how the reference reads the two encodings.

Scale shape: decoding is a narrow mapInArrow stage — no shuffle, Arrow
batches bound memory, parallelism = input partitions; identical plan
shape to the JSON kernel.
"""

from __future__ import annotations

import base64
import struct

import numpy as np
from pyspark.sql import DataFrame

from . import parse_arrow as PA

# ---------------------------------------------------------------------------
# wire-format primitives
# ---------------------------------------------------------------------------

_WT_VARINT, _WT_FIXED64, _WT_LEN, _WT_FIXED32 = 0, 1, 2, 5


class WireError(ValueError):
    pass


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = 0
    out = 0
    while True:
        if i >= len(buf) or shift > 63:
            raise WireError("truncated varint")
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out & (2**64 - 1), i
        shift += 7


def _fields(buf: bytes):
    """Iterate (field_number, wire_type, value) over one message."""
    i = 0
    n = len(buf)
    while i < n:
        tag, i = _read_varint(buf, i)
        fnum, wtype = tag >> 3, tag & 7
        if fnum == 0:
            raise WireError("field number 0")
        if wtype == _WT_VARINT:
            v, i = _read_varint(buf, i)
        elif wtype == _WT_FIXED64:
            if i + 8 > n:
                raise WireError("truncated fixed64")
            v = buf[i : i + 8]
            i += 8
        elif wtype == _WT_LEN:
            ln, i = _read_varint(buf, i)
            if ln > n - i:
                raise WireError("truncated length-delimited")
            v = buf[i : i + ln]
            i += ln
        elif wtype == _WT_FIXED32:
            if i + 4 > n:
                raise WireError("truncated fixed32")
            v = buf[i : i + 4]
            i += 4
        else:
            raise WireError(f"unsupported wire type {wtype}")
        yield fnum, wtype, v


def _i64(v: int) -> int:
    """varint value → signed int64 (two's complement)."""
    return v - 2**64 if v >= 2**63 else v


def _utf8(v: bytes) -> str:
    try:
        return v.decode("utf-8")
    except UnicodeDecodeError as e:
        raise WireError("invalid utf-8 in string field") from e


def _u64(v: bytes) -> int:
    return struct.unpack("<Q", v)[0]


def _u32(v: bytes) -> int:
    return struct.unpack("<I", v)[0]


# ---------------------------------------------------------------------------
# decoder: wire bytes → OTLP/JSON-shaped envelope dict
# ---------------------------------------------------------------------------


def _decode_anyvalue(buf: bytes) -> dict:
    out: dict = {}
    for fnum, wtype, v in _fields(buf):
        if fnum == 1 and wtype == _WT_LEN:
            out = {"stringValue": _utf8(v)}
        elif fnum == 2 and wtype == _WT_VARINT:
            out = {"boolValue": bool(v)}
        elif fnum == 3 and wtype == _WT_VARINT:
            # protobuf-JSON mapping: int64 as decimal string
            out = {"intValue": str(_i64(v))}
        elif fnum == 4 and wtype == _WT_FIXED64:
            out = {"doubleValue": struct.unpack("<d", v)[0]}
        elif fnum == 5 and wtype == _WT_LEN:
            out = {"arrayValue": {"values": [
                _decode_anyvalue(x) for f, _w, x in _fields(v) if f == 1
            ]}}
        elif fnum == 6 and wtype == _WT_LEN:
            out = {"kvlistValue": {"values": [
                _decode_keyvalue(x) for f, _w, x in _fields(v) if f == 1
            ]}}
        elif fnum == 7 and wtype == _WT_LEN:
            out = {"bytesValue": base64.b64encode(v).decode("ascii")}
    return out  # empty oneof → {} → downstream JSON null


def _decode_keyvalue(buf: bytes) -> dict:
    kv = {"key": ""}
    for fnum, wtype, v in _fields(buf):
        if fnum == 1 and wtype == _WT_LEN:
            kv["key"] = _utf8(v)
        elif fnum == 2 and wtype == _WT_LEN:
            kv["value"] = _decode_anyvalue(v)
    return kv


def _decode_status(buf: bytes) -> dict:
    st = {"code": 0}  # proto3 default — Unset (matches Status::code())
    for fnum, wtype, v in _fields(buf):
        if fnum == 2 and wtype == _WT_LEN:
            st["message"] = _utf8(v)
        elif fnum == 3 and wtype == _WT_VARINT:
            st["code"] = _i64(v)
    return st


def _decode_event(buf: bytes) -> dict:
    ev = {"timeUnixNano": "0", "name": "", "attributes": []}
    for fnum, wtype, v in _fields(buf):
        if fnum == 1 and wtype == _WT_FIXED64:
            ev["timeUnixNano"] = str(_u64(v))
        elif fnum == 2 and wtype == _WT_LEN:
            ev["name"] = _utf8(v)
        elif fnum == 3 and wtype == _WT_LEN:
            ev["attributes"].append(_decode_keyvalue(v))
    return ev


def _decode_link(buf: bytes) -> dict:
    li = {"traceId": "", "spanId": "", "attributes": [], "flags": 0}
    for fnum, wtype, v in _fields(buf):
        if fnum == 1 and wtype == _WT_LEN:
            li["traceId"] = v.hex()
        elif fnum == 2 and wtype == _WT_LEN:
            li["spanId"] = v.hex()
        elif fnum == 3 and wtype == _WT_LEN:
            li["traceState"] = _utf8(v)
        elif fnum == 4 and wtype == _WT_LEN:
            li["attributes"].append(_decode_keyvalue(v))
        elif fnum == 6 and wtype == _WT_FIXED32:
            li["flags"] = _u32(v)
    return li


def _decode_span(buf: bytes) -> dict:
    # prost scalar defaults (trace/v1/trace.proto field numbers)
    sp: dict = {
        "traceId": "", "spanId": "", "parentSpanId": "", "name": "",
        "kind": 0, "startTimeUnixNano": "0", "endTimeUnixNano": "0",
        "attributes": [], "events": [], "links": [], "flags": 0,
    }
    for fnum, wtype, v in _fields(buf):
        if fnum == 1 and wtype == _WT_LEN:
            sp["traceId"] = v.hex()
        elif fnum == 2 and wtype == _WT_LEN:
            sp["spanId"] = v.hex()
        elif fnum == 3 and wtype == _WT_LEN:
            sp["traceState"] = _utf8(v)
        elif fnum == 4 and wtype == _WT_LEN:
            sp["parentSpanId"] = v.hex()
        elif fnum == 5 and wtype == _WT_LEN:
            sp["name"] = _utf8(v)
        elif fnum == 6 and wtype == _WT_VARINT:
            sp["kind"] = _i64(v)
        elif fnum == 7 and wtype == _WT_FIXED64:
            sp["startTimeUnixNano"] = str(_u64(v))
        elif fnum == 8 and wtype == _WT_FIXED64:
            sp["endTimeUnixNano"] = str(_u64(v))
        elif fnum == 9 and wtype == _WT_LEN:
            sp["attributes"].append(_decode_keyvalue(v))
        elif fnum == 11 and wtype == _WT_LEN:
            sp["events"].append(_decode_event(v))
        elif fnum == 13 and wtype == _WT_LEN:
            sp["links"].append(_decode_link(v))
        elif fnum == 15 and wtype == _WT_LEN:
            sp["status"] = _decode_status(v)
        elif fnum == 16 and wtype == _WT_FIXED32:
            sp["flags"] = _u32(v)
    return sp


def _decode_scope(buf: bytes) -> dict:
    sc = {"name": "", "version": "", "attributes": []}
    for fnum, wtype, v in _fields(buf):
        if fnum == 1 and wtype == _WT_LEN:
            sc["name"] = _utf8(v)
        elif fnum == 2 and wtype == _WT_LEN:
            sc["version"] = _utf8(v)
        elif fnum == 3 and wtype == _WT_LEN:
            sc["attributes"].append(_decode_keyvalue(v))
    return sc


def _decode_scope_spans(buf: bytes) -> dict:
    ss: dict = {"spans": []}
    for fnum, wtype, v in _fields(buf):
        if fnum == 1 and wtype == _WT_LEN:
            ss["scope"] = _decode_scope(v)
        elif fnum == 2 and wtype == _WT_LEN:
            ss["spans"].append(_decode_span(v))
    return ss


def _decode_resource(buf: bytes) -> dict:
    res: dict = {"attributes": []}
    for fnum, wtype, v in _fields(buf):
        if fnum == 1 and wtype == _WT_LEN:
            res["attributes"].append(_decode_keyvalue(v))
    return res


def _decode_resource_spans(buf: bytes) -> dict:
    rs: dict = {"scopeSpans": []}
    for fnum, wtype, v in _fields(buf):
        if fnum == 1 and wtype == _WT_LEN:
            rs["resource"] = _decode_resource(v)
        elif fnum == 2 and wtype == _WT_LEN:
            rs["scopeSpans"].append(_decode_scope_spans(v))
    return rs


def decode_export_request(data: bytes) -> dict:
    """ExportTraceServiceRequest wire bytes → OTLP/JSON-shaped dict.

    Raises WireError on malformed input (callers quarantine)."""
    return {
        "resourceSpans": [
            _decode_resource_spans(v)
            for fnum, wtype, v in _fields(bytes(data))
            if fnum == 1 and wtype == _WT_LEN
        ]
    }


# ---------------------------------------------------------------------------
# encoder (fixture generation + round-trip tests): OTLP/JSON dict → wire
# ---------------------------------------------------------------------------


def _varint(v: int) -> bytes:
    v &= 2**64 - 1
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(fnum: int, wtype: int) -> bytes:
    return _varint((fnum << 3) | wtype)


def _len_field(fnum: int, payload: bytes) -> bytes:
    return _tag(fnum, _WT_LEN) + _varint(len(payload)) + payload


def _str_field(fnum: int, s: str | None) -> bytes:
    if not s:  # proto3: default ("" / absent) not serialized
        return b""
    return _len_field(fnum, s.encode("utf-8"))


def _hexbytes_field(fnum: int, hex_str: str | None) -> bytes:
    if not hex_str:
        return b""
    return _len_field(fnum, bytes.fromhex(hex_str))


def _encode_anyvalue(v: dict | None) -> bytes:
    if not isinstance(v, dict):
        return b""
    if v.get("stringValue") is not None:
        return _str_field(1, str(v["stringValue"])) or _len_field(1, b"")
    if v.get("boolValue") is not None:
        return _tag(2, _WT_VARINT) + _varint(1 if v["boolValue"] else 0)
    if v.get("intValue") is not None:
        return _tag(3, _WT_VARINT) + _varint(int(v["intValue"]))
    if v.get("doubleValue") is not None:
        return _tag(4, _WT_FIXED64) + struct.pack("<d", float(v["doubleValue"]))
    if v.get("bytesValue") is not None:
        return _len_field(7, base64.b64decode(v["bytesValue"]))
    if isinstance(v.get("arrayValue"), dict):
        inner = b"".join(
            _len_field(1, _encode_anyvalue(x))
            for x in v["arrayValue"].get("values") or []
        )
        return _len_field(5, inner)
    if isinstance(v.get("kvlistValue"), dict):
        inner = b"".join(
            _len_field(1, _encode_keyvalue(x))
            for x in v["kvlistValue"].get("values") or []
        )
        return _len_field(6, inner)
    return b""


def _encode_keyvalue(kv: dict) -> bytes:
    out = _str_field(1, kv.get("key"))
    av = _encode_anyvalue(kv.get("value"))
    if av:
        out += _len_field(2, av)
    return out


def _encode_attrs(fnum: int, attrs: list | None) -> bytes:
    return b"".join(_len_field(fnum, _encode_keyvalue(kv)) for kv in attrs or [])


def _encode_span(sp: dict) -> bytes:
    out = bytearray()
    out += _hexbytes_field(1, sp.get("traceId"))
    out += _hexbytes_field(2, sp.get("spanId"))
    out += _str_field(3, sp.get("traceState"))
    out += _hexbytes_field(4, sp.get("parentSpanId"))
    out += _str_field(5, sp.get("name"))
    if sp.get("kind"):
        out += _tag(6, _WT_VARINT) + _varint(int(sp["kind"]))
    if int(sp.get("startTimeUnixNano") or 0):
        out += _tag(7, _WT_FIXED64) + struct.pack("<Q", int(sp["startTimeUnixNano"]))
    if int(sp.get("endTimeUnixNano") or 0):
        out += _tag(8, _WT_FIXED64) + struct.pack("<Q", int(sp["endTimeUnixNano"]))
    out += _encode_attrs(9, sp.get("attributes"))
    for ev in sp.get("events") or []:
        body = bytearray()
        if int(ev.get("timeUnixNano") or 0):
            body += _tag(1, _WT_FIXED64) + struct.pack("<Q", int(ev["timeUnixNano"]))
        body += _str_field(2, ev.get("name"))
        body += _encode_attrs(3, ev.get("attributes"))
        out += _len_field(11, bytes(body))
    for li in sp.get("links") or []:
        body = bytearray()
        body += _hexbytes_field(1, li.get("traceId"))
        body += _hexbytes_field(2, li.get("spanId"))
        body += _str_field(3, li.get("traceState"))
        body += _encode_attrs(4, li.get("attributes"))
        if li.get("flags"):
            body += _tag(6, _WT_FIXED32) + struct.pack("<I", int(li["flags"]))
        out += _len_field(13, bytes(body))
    st = sp.get("status")
    if isinstance(st, dict):
        body = _str_field(2, st.get("message"))
        if st.get("code"):
            body += _tag(3, _WT_VARINT) + _varint(int(st["code"]))
        out += _len_field(15, bytes(body))
    if sp.get("flags"):
        out += _tag(16, _WT_FIXED32) + struct.pack("<I", int(sp["flags"]))
    return bytes(out)


def encode_export_request(env: dict) -> bytes:
    """OTLP/JSON-shaped envelope dict → ExportTraceServiceRequest wire
    bytes (proto3 serialization: default scalars omitted)."""
    out = bytearray()
    for rs in env.get("resourceSpans") or []:
        rs_body = bytearray()
        res = rs.get("resource")
        if isinstance(res, dict):
            rs_body += _len_field(1, _encode_attrs(1, res.get("attributes")))
        for ss in rs.get("scopeSpans") or []:
            ss_body = bytearray()
            sc = ss.get("scope")
            if isinstance(sc, dict):
                sc_body = _str_field(1, sc.get("name")) + _str_field(2, sc.get("version"))
                sc_body += _encode_attrs(3, sc.get("attributes"))
                ss_body += _len_field(1, sc_body)
            for sp in ss.get("spans") or []:
                ss_body += _len_field(2, _encode_span(sp))
            rs_body += _len_field(2, bytes(ss_body))
        out += _len_field(1, bytes(rs_body))
    return bytes(out)


# ---------------------------------------------------------------------------
# the Spark parse kernel (S2): protobuf token/binary table → span rows
# ---------------------------------------------------------------------------


def parse_token_sequences_protobuf(
    df: DataFrame, with_inner: bool = True, columns: list[str] | None = None
) -> DataFrame:
    """Protobuf twin of ``parse_arrow.parse_token_sequences_arrow``:
    token arrays whose bytes are ExportTraceServiceRequest wire format
    (or a ``payload`` binary column) → the same flat span rows, via the
    shared envelope walker. Malformed wire input quarantines as
    ``undecodable_payload`` — a poison payload never kills the batch
    (the reference 422s the whole request, otel.rs:100-105)."""
    emit = [c for c in PA._COLUMNS if columns is None or c in set(columns)]
    if columns is not None:
        missing = set(columns) - set(PA._COLUMNS)
        if missing:
            raise ValueError(f"unknown parse columns: {sorted(missing)}")
    need_heavy = frozenset(PA._HEAVY & set(emit))
    build_inner = with_inner and "inner" in need_heavy

    carry = "payload" in need_heavy

    def kernel(batches):
        import pyarrow as pa

        types = PA._arrow_types()
        for rb in batches:
            names = rb.schema.names
            binary_col = "payload" in names and "tokens" not in names
            all_bytes = False
            vals_u8 = None
            if binary_col:
                payloads = rb.column(names.index("payload")).to_pylist()
            else:
                tok_col = rb.column(names.index("tokens"))
                if isinstance(tok_col, pa.ChunkedArray):
                    tok_col = tok_col.combine_chunks()
                offsets = tok_col.offsets.to_numpy(zero_copy_only=False)
                values = tok_col.values.to_numpy(zero_copy_only=False)
                # one vectorized vocab check + uint8 conversion over the
                # rows' own window of the values child (parse_arrow's
                # shape: a sliced ListArray's hidden tokens neither force
                # the per-row path nor get copied)
                lo = offsets[0]
                visible = values[lo : offsets[-1]]
                all_bytes = visible.size == 0 or (
                    visible.min() >= 0 and visible.max() <= 255
                )
                vals_u8 = visible.astype(np.uint8) if all_bytes else None
            doc_ids = rb.column(names.index("doc_id")).to_pylist()
            n_toks = rb.column(names.index("n_tok")).to_pylist() if "n_tok" in names else [None] * rb.num_rows
            sources = rb.column(names.index("source")).to_pylist() if "source" in names else [None] * rb.num_rows

            rows: list[dict] = []
            for i in range(rb.num_rows):
                if binary_col:
                    raw = payloads[i]
                elif all_bytes:
                    raw = vals_u8[offsets[i] - lo : offsets[i + 1] - lo].tobytes()
                else:
                    raw = PA._segment_bytes(values[offsets[i] : offsets[i + 1]])
                # a null payload cell or out-of-vocab tokens: no bytes
                try:
                    env = None if raw is None else decode_export_request(raw)
                except WireError:
                    env = None
                if env is None:
                    parsed = PA._null_row(
                        doc_ids[i], None, n_toks[i], sources[i], "undecodable_payload"
                    )
                else:
                    parsed = PA._walk_envelope(
                        env, doc_ids[i], n_toks[i], sources[i], build_inner, need_heavy
                    )
                if carry:
                    for r in parsed:
                        r["payload"] = raw
                rows.extend(parsed)

            arrays = [
                pa.array([r[col] for r in rows], type=types[col]) for col in emit
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=emit)

    return df.mapInArrow(kernel, schema=PA._schema_for(emit))
