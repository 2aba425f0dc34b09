"""Sources (SURVEY §2.1): every way telemetry enters the engine.

The reference's three entry points (OTLP/HTTP JSON, OTLP/HTTP
protobuf, OTLP/gRPC — otel.rs handlers + grpc.rs) all funnel into one
``Service::ingest_export``; the engine keeps the same shape — thin
adapters, one downstream transform (``pipeline.transform_batch``):

- the graft's primary wire format: the pre-tokenized sequence table
  (``read_token_table`` here; the streaming source in streaming.py);
- OTLP/HTTP JSON and protobuf (S1, S2): ``api.TraceApi.ingest``
  tokenizes each export body (``fixtures.token_df_from_payloads``);
  a protobuf body is first decoded by the in-repo wire codec
  (``proto.decode_export_request``, no ``opentelemetry-proto`` needed);
- OTLP/gRPC (S3): ``grpc_adapter`` unframes the message and takes the
  same protobuf decode and ingest path.

``transform_batch(engine="protobuf")`` also parses a table whose
``payload`` column holds wire bytes (``proto.parse_token_sequences_protobuf``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .schemas import TOKEN_SEQUENCES_SCHEMA


def read_token_table(spark: SparkSession, path: str) -> DataFrame:
    """The graft input table (BASELINE.json:input_hint shape)."""
    return spark.read.schema(TOKEN_SEQUENCES_SCHEMA).parquet(path)
