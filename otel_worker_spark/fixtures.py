"""Deterministic fixtures: OTLP-like payloads + token sequences.

Two generators, one contract:

1. ``token_sequences_from_events`` derives, from the driver's
   deterministic ``events`` parquet table, one OTLP/JSON envelope per
   event (shape of the reference's own golden artifact
   ``otel-worker/examples/send-trace/trace.json``), tokenizes it with
   the identity byte vocab (FIXTURES.md §1) and yields the graft input
   table ``(doc_id, tokens, n_tok, source)``.

2. The **same payload recipe** renders to DuckDB SQL
   (``payload_sql('duckdb')``), so an oracle can rebuild the exact
   byte payload — and therefore the exact token array, ``n_tok``, and
   every parsed column — independently of Spark. A value-hash match
   between the Spark pipeline output and the DuckDB oracle is then an
   end-to-end proof of the token-array-equality invariant.

The recipe is a single list of fragments (literal JSON text or a
shared SQL expression over the ``events`` columns); dialect
differences are confined to two substitution tokens. No randomness —
everything is a pure function of the driver's seeded tables.

Derivation rules (documented here, mirrored in oracle SQL):
- trace groups of 10 events:  trace_id = md5('trace-' || event_id//10)
- span_id = substr(md5('span-' || event_id), 1, 16)
- the first event of each group (event_id % 10 == 0) is the root span
  (wire parentSpanId = "" → NULL after parse, P4); others point at it
- kind = event_id % 6 (covers all six SpanKind values, P5)
- start = event ts; end = ts + floor(value * 1e6) microseconds
- severity: error → ERROR, signup/purchase → INFO, else DEBUG
- service (the skew key): user_id % 3 == 0 → 'checkout' (the hot
  service, ~1/3 of rows) else 'svc-<user_id % 15>'
- poison rows: event_id % 97 == 0 gets a non-hex traceId prefix
  ('zz…') → exercises the quarantine path (P15, data/models.rs:93-95)
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tokens import tokenize_expr

_DIALECT = {
    # parquet timestamps load as TIMESTAMP_NTZ in Spark 4; cast to the
    # session-TZ (UTC-pinned) TIMESTAMP for epoch math. DuckDB's naive
    # timestamps are already UTC-equivalent under the same convention.
    "spark": {
        "@STR": "STRING",
        "@EPOCH_US(ts)": "unix_micros(cast(ts as timestamp))",
    },
    "duckdb": {"@STR": "VARCHAR", "@EPOCH_US(ts)": "epoch_us(ts)"},
}


def render(sql: str, dialect: str) -> str:
    for k in sorted(_DIALECT[dialect], key=len, reverse=True):
        sql = sql.replace(k, _DIALECT[dialect][k])
    return sql


# ---- shared column derivations (SQL over the events table) -----------------

TRACE_ID_RAW = "md5('trace-' || CAST(CAST(floor(event_id / 10) AS BIGINT) AS @STR))"
TRACE_ID_WIRE = (
    f"CASE WHEN event_id % 97 = 0 THEN 'zz' || substr({TRACE_ID_RAW}, 3) "
    f"ELSE {TRACE_ID_RAW} END"
)
SPAN_ID = "substr(md5('span-' || CAST(event_id AS @STR)), 1, 16)"
ROOT_SPAN_ID = (
    "substr(md5('span-' || CAST(CAST(floor(event_id / 10) AS BIGINT) * 10 AS @STR)), 1, 16)"
)
PARENT_SPAN_ID_WIRE = f"CASE WHEN event_id % 10 = 0 THEN '' ELSE {ROOT_SPAN_ID} END"
NAME = "'evt/' || event_type"
KIND_INT = "CAST(event_id % 6 AS @STR)"
FLAGS = "CAST(event_id % 256 AS @STR)"
START_NS = "CAST(@EPOCH_US(ts) * 1000 AS @STR)"
END_NS = "CAST((@EPOCH_US(ts) + CAST(floor(value * 1000000) AS BIGINT)) * 1000 AS @STR)"
SEVERITY = (
    "CASE WHEN event_type = 'error' THEN 'ERROR' "
    "WHEN event_type IN ('signup', 'purchase') THEN 'INFO' ELSE 'DEBUG' END"
)
SERVICE = (
    "CASE WHEN user_id % 3 = 0 THEN 'checkout' "
    "ELSE 'svc-' || CAST(user_id % 15 AS @STR) END"
)
STATUS_CODE_INT = "CASE WHEN event_type = 'error' THEN '2' ELSE '1' END"
STATUS_MESSAGE = "CASE WHEN event_type = 'error' THEN 'failure' ELSE 'success' END"
PROPS_K = "regexp_extract(props, '([0-9]+)', 1)"
VALUE_JSON = "CAST(value AS @STR)"
USER_ID_STR = "CAST(user_id AS @STR)"
DOC_ID = "'evt-' || CAST(event_id AS @STR)"

#: routing rule (see route.py): which sink a parsed span fans out to
SIGNAL = (
    "CASE WHEN event_type = 'error' THEN 'logs' "
    "WHEN event_type = 'purchase' THEN 'metrics' ELSE 'traces' END"
)

# ---- the payload recipe ----------------------------------------------------
# ('lit', text) fragments are JSON scaffolding; ('sql', expr) fragments are
# dialect-shared SQL over events columns. Concatenated in order they form
# the exact UTF-8 payload whose bytes are the token array.

PAYLOAD_FRAGMENTS: list[tuple[str, str]] = [
    ("lit", '{"resourceSpans":[{"resource":{"attributes":['),
    ("lit", '{"key":"service.name","value":{"stringValue":"'),
    ("sql", SERVICE),
    ("lit", '"}},{"key":"service.version","value":{"stringValue":"1.0.0"}},'),
    ("lit", '{"key":"deployment.environment","value":{"stringValue":"production"}}'),
    ("lit", ']},"scopeSpans":[{"scope":{"name":"synth-instrumentation","version":"1.0.0"},"spans":['),
    ("lit", '{"traceId":"'),
    ("sql", TRACE_ID_WIRE),
    ("lit", '","spanId":"'),
    ("sql", SPAN_ID),
    ("lit", '","parentSpanId":"'),
    ("sql", PARENT_SPAN_ID_WIRE),
    ("lit", '","name":"'),
    ("sql", NAME),
    ("lit", '","kind":'),
    ("sql", KIND_INT),
    ("lit", ',"flags":'),
    ("sql", FLAGS),
    ("lit", ',"startTimeUnixNano":"'),
    ("sql", START_NS),
    ("lit", '","endTimeUnixNano":"'),
    ("sql", END_NS),
    ("lit", '","attributes":['),
    ("lit", '{"key":"event.type","value":{"stringValue":"'),
    ("sql", "event_type"),
    ("lit", '"}},{"key":"user.id","value":{"intValue":"'),
    ("sql", USER_ID_STR),
    ("lit", '"}},{"key":"value","value":{"doubleValue":'),
    ("sql", VALUE_JSON),
    ("lit", '}},{"key":"severity","value":{"stringValue":"'),
    ("sql", SEVERITY),
    ("lit", '"}},{"key":"props","value":{"kvlistValue":{"values":[{"key":"k","value":{"intValue":"'),
    ("sql", PROPS_K),
    ("lit", '"}}]}}}],"status":{"code":'),
    ("sql", STATUS_CODE_INT),
    ("lit", ',"message":"'),
    ("sql", STATUS_MESSAGE),
    ("lit", '"}}]}]}]}'),
]


def payload_sql(dialect: str) -> str:
    """The full payload as one ``concat(...)`` SQL expression."""
    parts = []
    for typ, frag in PAYLOAD_FRAGMENTS:
        if typ == "lit":
            parts.append("'" + frag.replace("'", "''") + "'")
        else:
            parts.append(render(frag, dialect))
    return "concat(" + ", ".join(parts) + ")"


def token_sequences_from_events(
    spark: SparkSession, sf_dir: str, events: DataFrame | None = None
) -> DataFrame:
    """The graft input table, derived deterministically from ``events``.

    Fixture-generation path: the tokenize here is the pure-JVM
    expression (no Python needed to *create* test data); the pipeline
    detokenizes inside its Arrow parse kernel.
    """
    ev = events if events is not None else spark.read.parquet(f"{sf_dir}/events.parquet")
    payload = F.expr(render(payload_sql("spark"), "spark"))
    return ev.select(
        F.expr(render(DOC_ID, "spark")).alias("doc_id"),
        tokenize_expr(payload).alias("tokens"),
        F.octet_length(payload).cast("int").alias("n_tok"),
        F.expr(render(SERVICE, "spark")).alias("source"),
    )


def protobuf_sequences_from_events(
    spark: SparkSession, sf_dir: str, events: DataFrame | None = None
) -> DataFrame:
    """The SAME deterministic payload recipe re-encoded as OTLP
    protobuf wire bytes (S2 fixture): JSON token table → decode →
    ``proto.encode_export_request`` → protobuf token table.

    The poison rows (event_id % 97 == 0) carry a non-hex traceId that
    protobuf cannot represent (wire ids are raw bytes — always valid
    hex after decode), so their analog is a payload prefixed with a
    field-number-0 tag: guaranteed-malformed wire input exercising the
    ``undecodable_payload`` quarantine path instead.
    """
    import numpy as np
    import pyarrow as pa

    from .proto import encode_export_request

    tok = token_sequences_from_events(spark, sf_dir, events)

    def kernel(batches):
        for rb in batches:
            tok_col = rb.column(rb.schema.get_field_index("tokens"))
            if isinstance(tok_col, pa.ChunkedArray):
                tok_col = tok_col.combine_chunks()
            offsets = tok_col.offsets.to_numpy(zero_copy_only=False)
            values = tok_col.values.to_numpy(zero_copy_only=False)
            toks, n_toks = [], []
            for i in range(rb.num_rows):
                payload = values[offsets[i] : offsets[i + 1]].astype(np.uint8).tobytes()
                env = json.loads(payload)
                try:
                    wire = encode_export_request(env)
                except ValueError:  # non-hex id → deterministic poison wire
                    wire = b"\x00"
                toks.append(list(wire))
                n_toks.append(len(wire))
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index("doc_id")),
                    pa.array(toks, pa.list_(pa.int32())),
                    pa.array(n_toks, pa.int32()),
                    rb.column(rb.schema.get_field_index("source")),
                ],
                names=["doc_id", "tokens", "n_tok", "source"],
            )

    return tok.mapInArrow(
        kernel, schema="doc_id string, tokens array<int>, n_tok int, source string"
    )


#: SpanKind / status mappings as shared CASE SQL (P5/P6 oracle side)
KIND_STR = (
    "CASE event_id % 6 WHEN 0 THEN 'Unspecified' WHEN 1 THEN 'Internal' "
    "WHEN 2 THEN 'Server' WHEN 3 THEN 'Client' WHEN 4 THEN 'Producer' "
    "WHEN 5 THEN 'Consumer' END"
)
STATUS_STR = "CASE WHEN event_type = 'error' THEN 'Error' ELSE 'Ok' END"


def parsed_spans_sql() -> str:
    """DuckDB oracle: the columns the Spark pipeline produces for every
    VALID parsed span, derived directly from ``events`` — used as a CTE
    by the driver's correctness queries. Timestamps are emitted as
    fixed-format UTC strings so hashing is engine-neutral.

    The payload itself is ASCII by construction, so
    ``length(payload) == octet_length == n_tok``.
    """
    d = lambda s: render(s, "duckdb")
    return f"""
SELECT {d(DOC_ID)} AS doc_id,
       {d(SERVICE)} AS source,
       length({d(payload_sql('duckdb'))}) AS n_tok,
       {d(TRACE_ID_RAW)} AS trace_id,
       {d(SPAN_ID)} AS span_id,
       CASE WHEN event_id % 10 = 0 THEN NULL ELSE {d(ROOT_SPAN_ID)} END AS parent_span_id,
       {d(NAME)} AS name,
       {KIND_STR} AS kind,
       {d(SEVERITY)} AS severity,
       {d(SERVICE)} AS service_name,
       event_id % 256 AS flags,
       {STATUS_STR} AS status_code,
       {d(STATUS_MESSAGE)} AS status_message,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS start_ts,
       strftime(ts + to_microseconds(CAST(floor(value * 1000000) AS BIGINT)), '%Y-%m-%d %H:%M:%S.%f') AS end_ts,
       ts + to_microseconds(CAST(floor(value * 1000000) AS BIGINT)) AS end_time,
       {d(SIGNAL)} AS signal
FROM events
WHERE event_id % 97 <> 0
"""


# ---- broadcast-enrich dimension (J2 / FIXTURES.md §4) ----------------------


def service_lookup_rows() -> list[tuple[str, str, str, str]]:
    """Deterministic ~16-row dimension: (service_name, team, tier, environment)."""
    rows = [("checkout", "payments", "critical", "production")]
    for i in range(15):
        rows.append(
            (
                f"svc-{i}",
                f"team-{i % 4}",
                "critical" if i % 5 == 0 else "standard",
                "production" if i % 2 == 0 else "staging",
            )
        )
    return rows


def service_lookup_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        service_lookup_rows(), "service_name string, team string, tier string, environment string"
    )


def service_lookup_values_sql(alias: str = "service_lookup") -> str:
    """Same dimension as a SQL VALUES list (for the DuckDB oracle)."""
    vals = ", ".join(
        "('{}', '{}', '{}', '{}')".format(*r) for r in service_lookup_rows()
    )
    return f"(VALUES {vals}) AS {alias}(service_name, team, tier, environment)"


# ---- the reference's own golden artifact -----------------------------------
# Re-expression (as data) of otel-worker/examples/send-trace/trace.json —
# 1 trace, 2 spans (Server parent + Client child), resource + scope attrs,
# string + int attributes, status Ok. Used by the golden ingest tests.

GOLDEN_TRACE_ID = "7bba9f33312b3dbb8b2c2c62bb7abe2d"
GOLDEN_ROOT_SPAN_ID = "086e83747d0e381e"
GOLDEN_CHILD_SPAN_ID = "1f2d33cabb1e1234"


def golden_trace_envelope() -> dict:
    def attr(key, **value):
        return {"key": key, "value": value}

    root = {
        "traceId": GOLDEN_TRACE_ID,
        "spanId": GOLDEN_ROOT_SPAN_ID,
        "parentSpanId": "",
        "name": "GET /api/users",
        "kind": 2,
        "startTimeUnixNano": "1648138140000000000",
        "endTimeUnixNano": "1648138141000000000",
        "attributes": [
            attr("http.request.method", stringValue="GET"),
            attr("url.full", stringValue="/api/users"),
            attr("http.response.status_code", intValue="200"),
        ],
        "status": {"code": 1, "message": "success"},
    }
    child = {
        "traceId": GOLDEN_TRACE_ID,
        "spanId": GOLDEN_CHILD_SPAN_ID,
        "parentSpanId": GOLDEN_ROOT_SPAN_ID,
        "name": "database.query",
        "kind": 3,
        "startTimeUnixNano": "1648138140200000000",
        "endTimeUnixNano": "1648138140800000000",
        "attributes": [
            attr("db.system", stringValue="postgresql"),
            attr("db.statement", stringValue="SELECT * FROM users"),
            attr("db.rows_affected", intValue="42"),
        ],
        "status": {"code": 1, "message": "success"},
    }
    return {
        "resourceSpans": [
            {
                "resource": {
                    "attributes": [
                        attr("service.name", stringValue="test-service"),
                        attr("service.version", stringValue="1.0.0"),
                        attr("deployment.environment", stringValue="production"),
                    ]
                },
                "scopeSpans": [
                    {
                        "scope": {"name": "test-instrumentation", "version": "1.0.0"},
                        "spans": [root, child],
                    }
                ],
            }
        ]
    }


def tokens_of(payload: str) -> list[int]:
    return list(payload.encode("utf-8"))


def token_df_from_payloads(
    spark: SparkSession, payloads: list[str | bytes | dict], source: str = "test-service"
) -> DataFrame:
    """Small hand-built token_sequences frames (unit tests, API ingest).
    ``bytes`` payloads become tokens as they are, so a body that is not
    UTF-8 reaches the parse kernel, which quarantines it."""
    rows = []
    for i, p in enumerate(payloads):
        if isinstance(p, bytes):
            toks = list(p)
        else:
            text = p if isinstance(p, str) else json.dumps(p, separators=(",", ":"))
            toks = tokens_of(text)
        rows.append((f"doc-{i:08d}", toks, len(toks), source))
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
