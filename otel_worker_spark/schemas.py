"""Schemas: the span enum decodes and the token table.

The reference's data model (see SURVEY.md §1):

- wire envelope ``ExportTraceServiceRequest`` — triple-nested lists
  ``resourceSpans[] → scopeSpans[] → spans[]`` with a recursive
  ``AnyValue`` attribute sum type
  (otel-worker-core/src/api/models/otel.rs:49-118, 257-292), decoded
  by the parse kernel (``parse_arrow``);
- one persistent relation ``spans`` with typed key columns + the full
  span as JSON text (otel-worker/migrations/20240708_create_spans.sql),
  whose column order is ``pipeline.CANON_COLS``;
- the graft input table of pre-tokenized sequences
  (BASELINE.json:input_hint): ``doc_id, tokens:array<int32>,
  n_tok:int32, source:string``.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Proto enum → string, otel-worker-core/src/api/models/otel.rs:120-157.
SPAN_KINDS = {
    0: "Unspecified",
    1: "Internal",
    2: "Server",
    3: "Client",
    4: "Producer",
    5: "Consumer",
}

#: Proto enum → string, otel-worker-core/src/api/models/otel.rs:216-230.
STATUS_CODES = {0: "Unset", 1: "Ok", 2: "Error"}

#: Graft input table — exact shape from BASELINE.json:input_hint.
TOKEN_SEQUENCES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)
