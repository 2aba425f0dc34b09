"""Streaming ingest + resumability tests (SURVEY §2.9, north rule:
"resumable from a checkpointed offset table with per-partition
lineage")."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from otel_worker_spark.fixtures import service_lookup_df, token_sequences_from_events
from otel_worker_spark.pipeline import PipelineStores, ingest_batch
from otel_worker_spark.streaming import start_ingest_stream

SF_DIR = "/root/testdata/sf0.001"


def _write_token_dir(spark, path: str, n_files: int = 4):
    tok = token_sequences_from_events(spark, SF_DIR)
    tok.repartition(n_files).write.mode("overwrite").parquet(path)
    return tok.count()


def test_stream_drains_and_matches_batch(spark, tmp_root):
    src = os.path.join(tmp_root, "tokens")
    total = _write_token_dir(spark, src)
    stores = PipelineStores(spark, os.path.join(tmp_root, "stores"))
    q = start_ingest_stream(
        spark,
        src,
        service_lookup_df(spark),
        stores,
        checkpoint_dir=os.path.join(tmp_root, "ckpt"),
    )
    q.awaitTermination(120)
    assert stores.spans.read().count() == total
    # receipts exist per batch and sum to the non-quarantined mass
    rec = stores.receipts.read()
    got = rec.agg(F.sum("row_count")).collect()[0][0]
    assert got == total - stores.sink("quarantine").count()


def test_stream_restart_is_exactly_once(spark, tmp_root):
    """Kill/restart mid-stream: re-running with the same checkpoint and
    sink stores lands zero duplicates (idempotent-by-batch appends)."""
    src = os.path.join(tmp_root, "tokens")
    total = _write_token_dir(spark, src, n_files=6)
    stores = PipelineStores(spark, os.path.join(tmp_root, "stores"))
    ckpt = os.path.join(tmp_root, "ckpt")
    lookup = service_lookup_df(spark)

    # first run: drain some files then stop (maxFilesPerTrigger=2 →
    # several micro-batches; stop after the first completes)
    q = start_ingest_stream(
        spark, src, lookup, stores, checkpoint_dir=ckpt, max_files_per_trigger=2
    )
    import time as _time

    while not q.recentProgress:
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    partial = stores.spans.read().count()
    assert partial <= total

    # manual replay of an already-committed batch: no-op
    committed = stores.spans.committed_batches()
    if committed:
        bid = next(iter(committed))
        tok = token_sequences_from_events(spark, SF_DIR).limit(5)
        r = ingest_batch(spark, tok, lookup, stores, batch_id=bid)
        assert r["skipped"] is True

    # restart from checkpoint: drains the rest exactly once
    q2 = start_ingest_stream(
        spark, src, lookup, stores, checkpoint_dir=ckpt, max_files_per_trigger=2
    )
    q2.awaitTermination(120)
    assert stores.spans.read().count() == total
    # lineage: every commit carries per-file row counts
    for entry in stores.spans.lineage():
        if entry["op"] == "append":
            assert sum(f["rows"] for f in entry["files"]) == entry["rows"]
