"""The end-to-end ingest pipeline: parse → enrich → route → sinks.

One micro-batch = one ``ingest_batch`` call (the reference's
``Service::ingest_export``, service.rs:32-54, set-oriented): one
partitioned write of the routed frame lands every signal sink and the
quarantine rows in a single pass (parse runs once, nothing is
persisted), and one commit publishes it. The per-sink receipts are
observed on that write and kept in the commit entry; the receipts and
the SpanAdded manifest are read-only views over the spans commit log.

Appends are idempotent by batch_id (see store.TableStore), so a
restarted stream replays safely — the real version of the atomicity
the reference only fakes (M3, data.rs:43-48). A crash before the
commit leaves nothing visible, and the rerun ingests the batch once.
"""

from __future__ import annotations

import functools
import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from .enrich import enrich_spans
from .parse_arrow import parse_token_sequences_arrow
from .proto import parse_token_sequences_protobuf
from .route import SIGNALS, signal_expr
from .store import TableStore


def sink_aggregates() -> dict[str, Column]:
    """Per-sink count + sum(n_tok) of a routed frame (A3/A4), named
    ``<sink>.row_count`` / ``<sink>.sum_n_tok``; quarantine rows count
    in no sink."""
    out = {}
    for sink in SIGNALS:
        hit = F.col("signal") == sink
        out[f"{sink}.row_count"] = F.count(F.when(hit, 1))
        out[f"{sink}.sum_n_tok"] = F.sum(F.when(hit, F.col("n_tok")))
    return out


class SpansLogView:
    """A read-only table over the spans commit log: ``frame`` builds its
    rows from spans append entries. It owns no files and no log;
    batches committed at or before the latest truncate are not listed.
    ``frame`` may skip more: the manifest drops batches whose files
    vacuum has reclaimed."""

    def __init__(
        self, spans: TableStore, frame: Callable[[TableStore, list[dict]], DataFrame]
    ):
        self.spans = spans
        self._frame = frame

    def _appends(self) -> list[dict]:
        live: list[dict] = []
        for e in self.spans._entries():
            if e["op"] == "truncate":
                live = []
            elif e["op"] == "append":
                live.append(e)
        return live

    def committed_batches(self) -> dict[str, dict]:
        return {e["batch_id"]: e for e in self._appends()}

    def lineage(self) -> list[dict]:
        """The listed spans appends, with no files of their own."""
        listed = {e["seq"] for e in self._appends()}
        return [{**rec, "files": []} for rec in self.spans.lineage() if rec["seq"] in listed]

    def read(self) -> DataFrame:
        return self._frame(self.spans, self._appends())

    def read_batch(self, batch_id: str | int) -> DataFrame | None:
        e = self.committed_batches().get(str(batch_id))
        return None if e is None else self._frame(self.spans, [e])


def _receipts_frame(spans: TableStore, entries: list[dict]) -> DataFrame:
    """One row per (batch, sink that got rows), from the aggregates
    observed on each spans write — the engine's version of the
    reference's rows_written counts (otel-worker/src/data.rs:176-224)."""
    rows = []
    for e in entries:
        obs = e.get("observed") or {}
        rows += [
            (e["batch_id"], sink, obs[f"{sink}.row_count"], obs[f"{sink}.sum_n_tok"])
            for sink in SIGNALS
            if obs.get(f"{sink}.row_count")
        ]
    return spans.spark.createDataFrame(
        rows, "batch_id string, sink string, row_count bigint, sum_n_tok bigint"
    )


def _manifest_frame(spans: TableStore, entries: list[dict]) -> DataFrame:
    """The SpanAdded event stream (api/models.rs:119-138): the routed
    (trace_id, span_id) pairs of each batch, read from its own files.
    A batch whose files vacuum has reclaimed (after a compaction
    rewrote them) is not listed; its receipt stays."""
    frames = []
    for e in entries:
        if not all(os.path.exists(rec["file"]) for rec in e.get("lineage", [])):
            continue
        df = spans.read_batch(e["batch_id"])
        if df is not None:  # a batch without rows wrote no files
            frames.append(
                df.filter(F.col("signal") != "quarantine")
                .select(F.lit(e["batch_id"]).alias("batch_id"), "trace_id", "span_id")
            )
    if not frames:
        return spans.spark.createDataFrame([], "batch_id string, trace_id string, span_id string")
    return functools.reduce(DataFrame.unionByName, frames)


class PipelineStores:
    """The table set of one deployment (FIXTURES.md §5)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spans = TableStore(spark, f"{root}/spans")          # routed, partitioned by signal
        self.quarantine = TableStore(spark, f"{root}/quarantine")
        self.receipts = SpansLogView(self.spans, _receipts_frame)
        self.manifest = SpansLogView(self.spans, _manifest_frame)

    def sink(self, signal: str) -> DataFrame:
        """Per-signal sink view (file-level pruned)."""
        return self.spans.read(partition=signal)


#: canonical column order for routed span frames (any parse engine)
CANON_COLS = [
    "trace_id", "span_id", "parent_span_id", "name", "kind", "start_time",
    "end_time", "trace_state", "flags", "scope_name", "scope_version",
    "status_code", "status_message", "attributes", "scope_attributes",
    "resource_attributes", "events", "links", "severity", "service_name",
    "doc_id", "payload", "n_tok", "source", "invalid_reason", "inner",
    "team", "tier", "service_environment", "signal",
]


#: columns the routing/enrich/quarantine stages themselves consume
_ROUTING_COLS = {
    "name", "severity", "service_name", "is_valid", "invalid_reason",
    "doc_id", "n_tok", "source",
}


def transform_batch(
    token_df: DataFrame,
    service_lookup: DataFrame,
    with_inner: bool = True,
    engine: str = "arrow",
    columns: list[str] | None = None,
) -> DataFrame:
    """The pure transformation: token sequences → routed span rows
    (+ quarantine rows flagged by is_valid). No I/O, reusable by
    batch jobs, the streaming wrapper, and tests alike — the
    reference's one-engine/thin-adapters shape (SURVEY §3.3).

    ``engine`` names the wire format of the token bytes: ``"arrow"``
    (default — OTLP/JSON through the ``parse_arrow`` kernel) or
    ``"protobuf"`` (S2: ExportTraceServiceRequest wire bytes — same
    walker, same output contract).

    ``with_inner=False`` skips building the ``inner`` JSON column for
    read paths that don't need it (column pruning can't elide a
    projected expression)."""
    parsers = {"arrow": parse_token_sequences_arrow, "protobuf": parse_token_sequences_protobuf}
    if engine not in parsers:
        raise ValueError(f"unknown parse engine {engine!r}; expected one of {sorted(parsers)}")
    if columns is not None:
        columns = sorted(set(columns) | _ROUTING_COLS)
    parsed = parsers[engine](token_df, with_inner=with_inner, columns=columns)
    enriched = enrich_spans(parsed, service_lookup)
    routed = enriched.withColumn(
        "signal",
        F.when(~F.col("is_valid"), F.lit("quarantine")).otherwise(signal_expr()),
    ).drop("is_valid")
    return routed.select(*[c for c in CANON_COLS if c in routed.columns])


def ingest_batch(
    spark: SparkSession,
    token_df: DataFrame,
    service_lookup: DataFrame,
    stores: PipelineStores,
    batch_id: str | int,
) -> dict:
    """Process one micro-batch end-to-end: one write, one commit.
    Returns the batch receipt (per-sink counts in ``observed`` — the
    ExportTraceServiceResponse analog); a replay of a committed batch
    returns the original receipt with ``skipped`` set."""
    committed = stores.spans.committed_batches()
    bid = str(batch_id)
    if bid in committed:
        return {**committed[bid], "skipped": True}
    return stores.spans.append(
        transform_batch(token_df, service_lookup),
        bid,
        partition_by="signal",
        observe=sink_aggregates(),
    )
