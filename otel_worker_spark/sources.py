"""Sources (SURVEY §2.1): every way telemetry enters the engine.

The reference's three entry points (OTLP/HTTP JSON, OTLP/HTTP
protobuf, OTLP/gRPC — otel.rs handlers + grpc.rs) all funnel into one
``Service::ingest_export``; this module keeps the same shape — thin
readers, one downstream transform (``pipeline.transform_batch``):

- the graft's primary wire format: the pre-tokenized sequence table
  (``read_token_table`` / the streaming source in streaming.py);
- plain OTLP/JSON files (S1): read as whole-file text and tokenized
  byte for byte, so the SAME pipeline (and its parse kernel's
  explicit coercion rules, never schema inference) ingests them;
- OTLP protobuf (S2): gated stub — the ``opentelemetry-proto``
  wheel is not in this image; the decode slots into the same
  tokenize adapter when it is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import TOKEN_SEQUENCES_SCHEMA
from .tokens import tokenize_expr


def read_token_table(spark: SparkSession, path: str) -> DataFrame:
    """The graft input table (BASELINE.json:input_hint shape)."""
    return spark.read.schema(TOKEN_SEQUENCES_SCHEMA).parquet(path)


def read_otlp_json(spark: SparkSession, path: str, source: str = "otlp-json") -> DataFrame:
    """S1: a directory/file of OTLP/JSON export envelopes (one JSON doc
    per line or per file) → token_sequences rows, so the standard
    pipeline ingests them unchanged.

    ``wholetext`` handles the trace.json-style pretty-printed fixture;
    the payload is re-serialized by tokenizing its exact bytes, so the
    round-trip keeps byte equality with what was sent.
    """
    raw = spark.read.text(path, wholetext=True)
    payload = F.col("value")
    return raw.select(
        F.concat(F.lit("file-"), F.md5(payload)).alias("doc_id"),
        tokenize_expr(payload).alias("tokens"),
        F.octet_length(payload).cast("int").alias("n_tok"),
        F.lit(source).alias("source"),
    )


def read_otlp_protobuf(
    spark: SparkSession, path: str, source: str = "otlp-protobuf"
) -> DataFrame:
    """S2: OTLP binary protobuf payloads (content-type
    application/x-protobuf — the reference's DEFAULT wire encoding,
    handlers/otel.rs:97-106) read as whole files.

    Emits the parse-ready binary table ``(doc_id, payload, n_tok,
    source)``; feed it to ``proto.parse_token_sequences_protobuf``
    (which also accepts token-array input — the hand-rolled wire
    decoder in proto.py needs no external protobuf package)."""
    raw = spark.read.format("binaryFile").load(path)
    return raw.select(
        F.concat(F.lit("pb-"), F.md5(F.col("content"))).alias("doc_id"),
        F.col("content").alias("payload"),
        F.octet_length("content").cast("int").alias("n_tok"),
        F.lit(source).alias("source"),
    )


def read_otlp_grpc_note() -> str:
    """S3: OTLP/gRPC entry point (otel-worker-cli/src/grpc.rs:20-36).

    The reference's gRPC server is a 30-line adapter: tonic decodes the
    SAME ``ExportTraceServiceRequest`` protobuf message this module's
    S2 path decodes, then calls the one shared ``Service::ingest_export``.
    Implemented in ``grpc_adapter.py``: the gRPC Length-Prefixed-Message
    framing (flag + u32 BE + bytes, gzip codec), the unary
    ``TraceService/Export`` handler over the shared idempotent ingest,
    and grpc-status mapping — served through ``api.serve`` on the real
    method path (over HTTP/1.1; no h2 runtime ships in this image, so
    the HTTP/2 transport itself is the one remaining documented
    boundary). Wire decode + framing are tested end-to-end
    (tests/test_proto.py, tests/test_grpc_adapter.py)."""
    return "gRPC = framing adapter over the S2 protobuf decode path"
