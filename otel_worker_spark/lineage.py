"""Checkpointed offset table, per-partition lineage, ingest-rate metrics.

North-rule component: the pipeline must be "resumable from a
checkpointed offset table with per-partition lineage and ingest-rate
metrics". Two layers provide it:

- the STREAMING path already gets file-offset resume from Structured
  Streaming's checkpoint (streaming.py) and idempotent sinks;
- this module gives the BATCH driver the same contract explicitly: an
  ``OffsetLog`` records, per ingested batch, which input files (the
  offsets) it covered, per-input-file and per-output-partition row
  counts (the lineage), and wall-clock + rows/sec (the metrics);
  ``ingest_directory`` chunks a directory deterministically, skips
  files already covered by a committed offset, and repairs batches
  that crashed between the data commit and the offset commit.

The log is published with the TableStore commit log's own
create-exclusive ``os.link`` helper (``store.commit_json``): a crash
never leaves a partial or overwritten entry, and concurrent writers
retry onto the next seq.
Everything is queryable as DataFrames (``offsets_df``/``metrics_df``)
so lineage is first-class data, not log spelunking.

Reference anchor: the reference worker is an always-on server whose
"offset" is the HTTP request boundary (one export = one atomic apply,
otel-worker-core/src/service.rs:32-54); a batch/stream engine needs
the durable equivalent, which is this table.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .pipeline import PipelineStores, ingest_batch
from .store import commit_json


class OffsetLog:
    """The checkpointed offset table for batch ingest.

    One entry per committed batch:
    ``{batch_id, input_files: [{file, rows}], input_rows, wall_s,
    rows_per_s, sink_partitions: [{partition, rows, file}]}``.
    ``input_files`` are the offsets (which source files the batch
    consumed), ``sink_partitions`` the output-side lineage copied from
    the store receipt.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.log_dir = os.path.join(root, "_offsets")
        os.makedirs(self.log_dir, exist_ok=True)
        #: parsed-entry cache: the log is append-only (create-exclusive
        #: publishes), so each file is parsed at most once per process —
        #: without this, a long-running stream's per-epoch
        #: committed_batches() check re-parsed every entry every epoch
        #: (O(n) per epoch, O(n²) over the stream's lifetime)
        self._parsed: dict[str, dict] = {}
        #: incrementally-maintained committed-batch-id set: the per-
        #: epoch stream check is O(new files) — normally zero opens,
        #: because ``record`` pre-caches its own entry — instead of a
        #: full log re-read per micro-batch (O(n²) over a long stream)
        self._batch_ids: set[str] = set()
        self._batch_scanned: set[str] = set()

    def _load(self, name: str) -> dict:
        if name not in self._parsed:
            with open(os.path.join(self.log_dir, name)) as f:
                self._parsed[name] = json.load(f)
        return self._parsed[name]

    def _entries(self) -> list[dict]:
        names = sorted(n for n in os.listdir(self.log_dir) if n.endswith(".json"))
        return [self._load(n) for n in names]

    def _committed_entries(self) -> list[dict]:
        return [e for e in self._entries() if e.get("type") != "intent"]

    def committed_files(self) -> set[str]:
        """Every input file covered by a committed offset — the resume
        cursor: anything here is done, anything else is pending."""
        done: set[str] = set()
        for e in self._committed_entries():
            done.update(rec["file"] for rec in e.get("input_files", []))
        return done

    def _refresh_batches(self) -> None:
        """Fold log files not yet seen into the batch-id set. The log
        is append-only (create-exclusive publishes), so a file is read
        at most once per process lifetime."""
        for n in os.listdir(self.log_dir):
            if n.endswith(".json") and n not in self._batch_scanned:
                e = self._load(n)
                self._batch_scanned.add(n)
                if e.get("type") != "intent":
                    self._batch_ids.add(str(e["batch_id"]))

    def committed_batches(self) -> set[str]:
        self._refresh_batches()
        return set(self._batch_ids)

    def has_batch(self, batch_id: str) -> bool:
        """Membership check for the streaming per-epoch guard: amortized
        O(1) — a hit costs nothing; a miss costs one listdir plus reads
        of only the files that appeared since the last call."""
        batch_id = str(batch_id)
        if batch_id in self._batch_ids:
            return True
        self._refresh_batches()
        return batch_id in self._batch_ids

    def record_intent(self, batch_id: str, input_files: list[dict]) -> None:
        """Durable pre-ingest intent: WHICH files the named batch is
        about to cover, published before any data moves. A crash
        between the data commit and the offset record then leaves a
        pending intent, and the retry replays THAT exact (batch_id,
        file set) — the store's idempotency key — rather than
        regrouping the directory listing, which shifts if new files
        landed in the meantime and would double-ingest the crashed
        group under a fresh batch_id."""
        commit_json(
            self.log_dir,
            {"type": "intent", "batch_id": str(batch_id), "input_files": input_files},
        )

    def pending_intents(self) -> list[dict]:
        """Intents with no matching committed offset — the crash
        window's exact contents (normally empty)."""
        done = self.committed_batches()
        out, seen = [], set()
        for e in self._entries():
            if (
                e.get("type") == "intent"
                and e["batch_id"] not in done
                and e["batch_id"] not in seen
            ):
                seen.add(e["batch_id"])
                out.append(e)
        return out

    def record(
        self,
        batch_id: str,
        input_files: list[dict],
        wall_s: float,
        sink_partitions: list[dict] | None = None,
        replayed: bool = False,
        rows: int | None = None,
    ) -> dict:
        """``rows`` overrides the footer-derived count for callers that
        know the batch size another way (the streaming path, where the
        checkpoint owns the file offsets and we only track metrics)."""
        if rows is None:
            rows = sum(r["rows"] for r in input_files)
        entry = {
            "batch_id": str(batch_id),
            "input_files": input_files,
            "input_rows": rows,
            "wall_s": wall_s,
            "rows_per_s": (rows / wall_s) if wall_s > 0 else None,
            "sink_partitions": sink_partitions or [],
            "replayed": replayed,
        }
        seq = commit_json(self.log_dir, entry)
        # pre-cache our own publish: the stream's next-epoch check then
        # finds it in the in-memory set without touching the log at all
        name = f"{seq:012d}.json"
        self._parsed[name] = entry
        self._batch_scanned.add(name)
        self._batch_ids.add(str(batch_id))
        return entry

    # ---- queryable views ----

    def offsets_df(self) -> DataFrame:
        """One row per (batch, input file): the offset table itself."""
        rows = [
            (
                e["batch_id"],
                rec["file"],
                rec["rows"],
                float(e["committed_at"]),
            )
            for e in self._committed_entries()
            for rec in e.get("input_files", [])
        ]
        return self.spark.createDataFrame(
            rows, "batch_id string, input_file string, rows long, committed_at double"
        )

    def metrics_df(self) -> DataFrame:
        """One row per batch: ingest-rate metrics."""
        rows = [
            (
                e["batch_id"],
                e["input_rows"],
                float(e["wall_s"]),
                float(e["rows_per_s"]) if e.get("rows_per_s") else None,
                bool(e.get("replayed", False)),
            )
            for e in self._committed_entries()
        ]
        return self.spark.createDataFrame(
            rows,
            "batch_id string, input_rows long, wall_s double, "
            "rows_per_s double, replayed boolean",
        )

    def lineage_df(self) -> DataFrame:
        """One row per (batch, sink partition): output-side lineage —
        which sink partition got how many rows from which batch."""
        rows = [
            (e["batch_id"], rec.get("partition"), rec["rows"], rec["file"])
            for e in self._committed_entries()
            for rec in e.get("sink_partitions", [])
        ]
        return self.spark.createDataFrame(
            rows, "batch_id string, partition string, rows long, file string"
        )


def _list_input_files(source_dir: str) -> list[str]:
    out = []
    for dirpath, _dirs, names in sorted(os.walk(source_dir)):
        for n in sorted(names):
            if n.endswith(".parquet"):
                out.append(os.path.join(dirpath, n))
    return out


def _batch_id_for(files: list[str]) -> str:
    """Deterministic batch id from the file set, so a crashed run and
    its retry name the same batch (the store's idempotency key)."""
    import hashlib

    h = hashlib.sha256("\n".join(os.path.basename(f) for f in files).encode())
    return "dir-" + h.hexdigest()[:16]


def ingest_directory(
    spark: SparkSession,
    source_dir: str,
    service_lookup: DataFrame,
    stores: PipelineStores,
    offsets: OffsetLog,
    files_per_batch: int = 4,
) -> list[dict]:
    """Resumable batch ingest of a token-table directory.

    Deterministic batching: the sorted pending-file list is chunked
    into groups of ``files_per_batch``; each group publishes a durable
    INTENT (batch_id + file set) before any data moves, then the data
    commit, then the offset record. Resume covers every crash point:

    - crash before the spans commit → the pending intent replays the
      batch; the deterministic id makes the rerun idempotent;
    - crash between the spans commit and the offset record → the
      pending intent replays the EXACT original (batch_id, file set),
      the store short-circuits (``skipped=True``), and the offset is
      recorded as ``replayed``. The intent is what makes this safe
      when NEW files landed in the source dir during the crash window:
      regrouping the directory listing would shift chunk boundaries
      and hand the crashed files a fresh batch_id the store has never
      seen — double-ingesting them;
    - completed batches are skipped entirely via ``committed_files``
      without touching Spark.

    Returns the list of batch receipts (with metrics merged in).
    """

    def _run(batch_id: str, group: list[str], input_files: list[dict]) -> dict:
        t0 = time.perf_counter()
        token_df = spark.read.parquet(*group)
        receipt = ingest_batch(spark, token_df, service_lookup, stores, batch_id)
        wall = time.perf_counter() - t0
        entry = offsets.record(
            batch_id,
            input_files,
            wall,
            sink_partitions=receipt.get("lineage", []),
            replayed=bool(receipt.get("skipped")),
        )
        return {**receipt, "metrics": entry}

    receipts = []
    replayed_files: set[str] = set()
    # 1) drain the crash window: intents with no committed offset
    for intent in offsets.pending_intents():
        group = [rec["file"] for rec in intent["input_files"] if os.path.exists(rec["file"])]
        if not group:
            continue
        receipts.append(_run(intent["batch_id"], group, intent["input_files"]))
        replayed_files.update(group)
    # 2) deterministic chunking of whatever remains
    done = offsets.committed_files() | replayed_files
    pending = [f for f in _list_input_files(source_dir) if f not in done]
    for i in range(0, len(pending), files_per_batch):
        group = pending[i : i + files_per_batch]
        batch_id = _batch_id_for(group)
        # per-input-file row counts from the parquet footers (no job)
        input_files = [
            {"file": f, "rows": pq.ParquetFile(f).metadata.num_rows} for f in group
        ]
        offsets.record_intent(batch_id, input_files)
        receipts.append(_run(batch_id, group, input_files))
    return receipts
