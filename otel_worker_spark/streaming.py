"""Structured Streaming ingestion (SURVEY §2.9).

The reference is an always-on ingest server with no windows or
watermarks — each export request is applied immediately and a
``SpanAdded`` notification is broadcast after commit
(service.rs:47-49; tokio broadcast at otel-worker-cli/src/events.rs:
8-42, Durable-Object websocket hub at otel-worker/src/ws/worker.rs).

Spark equivalent: ``readStream`` over the token table directory,
``foreachBatch`` running the SAME ``ingest_batch`` the batch path
uses (one engine core, thin protocol adapters — the reference's own
shape, SURVEY §3.3). Like the reference, nothing here is windowed:
each micro-batch is one ingest batch, applied whole. Exactly-once
comes from two layers:

- Spark's streaming checkpoint replays an unfinished micro-batch
  after a crash;
- our sinks are idempotent by batch_id, so the replayed batch lands
  zero duplicate rows and re-emits the original receipt.

The spans commit log IS the notification stream: every committed
batch is one SpanAdded event, and subscribers (the CLI debug client /
MCP server in the reference) tail it by batch_id through the
read-only manifest view (``PipelineStores.manifest``), whose rows are
the batch's (trace_id, span_id) pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .pipeline import PipelineStores, ingest_batch
from .schemas import TOKEN_SEQUENCES_SCHEMA


def start_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    service_lookup: DataFrame,
    stores: PipelineStores,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    offsets=None,
):
    """Start the streaming ingest over a directory of token parquet.

    ``available_now`` drains everything currently present then stops —
    batch-incremental mode; pass False for a continuous micro-batch
    stream. Returns the StreamingQuery.

    ``offsets``: optional ``lineage.OffsetLog`` — records per-epoch
    ingest-rate metrics (rows, wall-clock, rows/s) alongside the
    checkpoint. File-offset resume itself is owned by Spark's
    checkpoint here; the OffsetLog is the queryable metrics face.
    """
    import time as _time

    reader = (
        spark.readStream.schema(TOKEN_SEQUENCES_SCHEMA)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    token_stream = reader.load(source_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        t0 = _time.perf_counter()
        receipt = ingest_batch(spark, batch_df, service_lookup, stores, batch_id=epoch_id)
        # has_batch is the incremental O(1)-amortized check — a full
        # committed_batches() here re-listed the log EVERY epoch
        if offsets is not None and not offsets.has_batch(str(epoch_id)):
            offsets.record(
                str(epoch_id),
                [],
                _time.perf_counter() - t0,
                sink_partitions=receipt.get("lineage", []),
                replayed=bool(receipt.get("skipped")),
                rows=receipt.get("row_count", 0),
            )

    writer = (
        token_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
