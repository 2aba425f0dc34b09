"""Store + query-layer tests — the analog of the reference's store
round-trip integration test (otel-worker-cli/src/data/tests.rs:13-99)
and its API handler semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from otel_worker_spark import queries as Q
from otel_worker_spark.api import TraceApi
from otel_worker_spark.fixtures import service_lookup_df, token_sequences_from_events
from otel_worker_spark.mcp import McpServer
from otel_worker_spark.pipeline import PipelineStores, ingest_batch
from otel_worker_spark.store import TableStore

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("stores"))
    stores = PipelineStores(spark, root)
    tok = token_sequences_from_events(spark, SF_DIR)
    receipt = ingest_batch(spark, tok, service_lookup_df(spark), stores, batch_id=0)
    return stores, receipt


def spans_of(stores):
    return stores.spans.read().filter("signal != 'quarantine'")


def test_ingest_receipt_counts(spark, ingested):
    """A3/A4: per-sink count+sum receipts; sink rows sum to input rows."""
    stores, receipt = ingested
    assert receipt["row_count"] == 1000
    rec = {r.sink: (r.row_count, r.sum_n_tok) for r in stores.receipts.read().collect()}
    assert set(rec) == {"traces", "logs", "metrics"}
    n_quarantine = stores.sink("quarantine").count()
    assert sum(c for c, _ in rec.values()) + n_quarantine == 1000
    # sum_n_tok equals the true token mass per sink
    for sink, (_, stok) in rec.items():
        truth = (
            stores.sink(sink).agg(F.sum("n_tok")).collect()[0][0]
        )
        assert stok == truth


def test_replay_is_exactly_once(spark, ingested):
    """M3 done for real: replaying the same batch_id is a no-op."""
    stores, _ = ingested
    tok = token_sequences_from_events(spark, SF_DIR)
    r2 = ingest_batch(spark, tok, service_lookup_df(spark), stores, batch_id=0)
    assert r2["skipped"] is True
    assert stores.spans.read().count() == 1000


def test_span_added_manifest(spark, ingested):
    """S7: manifest holds every committed (trace_id, span_id) pair."""
    stores, _ = ingested
    manifest = stores.manifest.read()
    assert manifest.count() == spans_of(stores).count()
    joined = manifest.join(
        spans_of(stores).select("trace_id", "span_id"), ["trace_id", "span_id"], "left_anti"
    )
    assert joined.count() == 0


def test_traces_list_semantics(spark, ingested):
    """A1+O1+F3: group-by max end_time, desc, limit, time cutoff
    (data/sql.rs:82-101)."""
    stores, _ = ingested
    spans = spans_of(stores)
    top = Q.traces_list(spans).collect()
    assert len(top) == 20  # default limit (sql.rs:83)
    ends = [r.end_time for r in top]
    assert ends == sorted(ends, reverse=True)
    cutoff = ends[5]
    filtered = Q.traces_list(spans, limit=50, time=cutoff).collect()
    assert all(r.end_time <= cutoff for r in filtered)
    # a trace's end_time is the max over its spans
    t0 = top[0]
    true_max = (
        spans.filter(F.col("trace_id") == t0.trace_id).agg(F.max("end_time")).collect()[0][0]
    )
    assert t0.end_time == true_max


def test_trace_summaries_and_get(spark, ingested):
    """J1+A2+F5: single-plan summary assembly; NotFound on unknown."""
    stores, _ = ingested
    spans = spans_of(stores)
    summaries = Q.trace_summaries(spans, limit=3).collect()
    assert len(summaries) == 3
    for s in summaries:
        n = spans.filter(F.col("trace_id") == s.trace_id).count()
        assert len(s.spans) == n
        starts = [sp._ord for sp in s.spans]
        assert starts == sorted(starts)
    one = Q.trace_get(spans, summaries[0].trace_id)
    assert one.trace_id == summaries[0].trace_id
    with pytest.raises(Q.NotFound):
        Q.trace_get(spans, "ffffffffffffffffffffffffffffffff")


def test_span_get_and_not_found(spark, ingested):
    stores, _ = ingested
    spans = spans_of(stores)
    any_row = spans.limit(1).collect()[0]
    got = Q.span_get(spans, any_row.trace_id, any_row.span_id)
    assert got.name == any_row.name
    with pytest.raises(Q.NotFound):
        Q.span_get(spans, any_row.trace_id, "0000000000000000")


def test_trace_summary_json_wire_shape(spark, ingested):
    """§2.11: TraceSummary wire shape — camelCase, spans round-trip
    through the inner JSON column (otel.rs:295-318)."""
    stores, _ = ingested
    spans = spans_of(stores)
    tid = spans.limit(1).collect()[0].trace_id
    ts = Q.trace_summary_json(spans, tid)
    assert ts["traceId"] == tid
    assert len(ts["spans"]) == spans.filter(F.col("trace_id") == tid).count()
    sp = ts["spans"][0]
    assert sp["traceId"] == tid
    for key in ("spanId", "name", "kind", "startTime", "endTime", "attributes"):
        assert key in sp
    # attribute keys sorted (BTreeMap parity), RFC3339 times
    assert list(sp["attributes"].keys()) == sorted(sp["attributes"].keys())
    assert sp["startTime"].endswith("Z") and "T" in sp["startTime"]
    with pytest.raises(Q.NotFound):
        Q.trace_summary_json(spans, "ff" * 16)


def test_mcp_resources_page(spark, ingested):
    """MCP resources/list pages the 50 most recent traces
    (trace_list(Some(50), None), commands/mcp.rs:341-374)."""
    stores, _ = ingested
    srv = McpServer(TraceApi(spark, stores, service_lookup_df(spark)))
    out = srv.handle({"jsonrpc": "2.0", "id": 1, "method": "resources/list"})
    resources = out["result"]["resources"]
    assert spans_of(stores).select("trace_id").distinct().count() > 50
    assert len(resources) == 50
    assert all(r["uri"].startswith("trace://") for r in resources)


def test_parent_child_join(spark, ingested):
    """J3: children resolve to parents within the same trace."""
    stores, _ = ingested
    spans = spans_of(stores)
    pc = Q.parent_child_spans(spans)
    # every resolved child's parent really is in the same trace
    bad = pc.join(
        spans.select(F.col("trace_id"), F.col("span_id").alias("parent_span_id")),
        ["trace_id", "parent_span_id"],
        "left_anti",
    )
    assert bad.count() == 0


def test_delete_semantics(spark, tmp_root, ingested):
    """M1/M2: delete by trace / by span returns rows_affected and
    subsequent reads see the deletion (sql.rs:107-118)."""
    stores, _ = ingested
    # isolated copy so module fixture stays intact
    st = TableStore(spark, f"{tmp_root}/spans")
    st.append(spans_of(stores), batch_id="copy")
    tid = st.read().limit(1).collect()[0].trace_id
    n = st.read().filter(F.col("trace_id") == tid).count()
    affected = st.delete_where(f"trace_id = '{tid}'")
    assert affected == n
    assert st.read().filter(F.col("trace_id") == tid).count() == 0
    # single-span delete
    row = st.read().limit(1).collect()[0]
    assert st.delete_where(
        f"trace_id = '{row.trace_id}' AND span_id = '{row.span_id}'"
    ) == 1
    # delete of nothing affects nothing
    assert st.delete_where("trace_id = 'zz'") == 0


def test_delete_on_partitioned_store(spark, ingested, tmp_root):
    """Regression: a delete on a partitionBy-written store must keep
    the partition column and must NOT drop non-matching rows that
    share files with matches (input_file_name URI vs path)."""
    stores, _ = ingested
    st = TableStore(spark, f"{tmp_root}/pspans")
    st.append(stores.spans.read(), batch_id="copy", partition_by="signal")
    total = st.read().count()
    tid = (
        st.read().filter("signal = 'traces'").limit(1).collect()[0].trace_id
    )
    n = st.read().filter(F.col("trace_id") == tid).count()
    assert st.delete_where(f"trace_id = '{tid}'") == n
    assert st.read().count() == total - n
    # partition column survived the rewrite; sink views still work
    assert set(
        r.signal for r in st.read().select("signal").distinct().collect()
    ) >= {"quarantine"}
    assert st.read(partition="traces").count() == st.read().filter("signal='traces'").count()


def test_truncate(spark, tmp_root, ingested):
    """S9: drop-database analog."""
    stores, _ = ingested
    st = TableStore(spark, f"{tmp_root}/trunc")
    st.append(spans_of(stores).limit(10), batch_id="x")
    st.truncate()
    assert st.read().count() == 0


def test_commit_log_concurrent_writers(spark, tmp_root):
    """Two writers committing concurrently must not lose a commit: the
    create-exclusive publish (os.link + seq retry) makes same-seq
    collisions retry onto the next slot instead of overwriting (the
    round-1 os.rename race)."""
    import threading

    store = TableStore(spark, f"{tmp_root}/race")
    n_threads, per_thread = 8, 25
    barrier = threading.Barrier(n_threads)

    def writer(t: int) -> None:
        barrier.wait()
        for i in range(per_thread):
            store._commit(
                {"op": "append", "batch_id": f"t{t}-{i}", "added_files": [],
                 "removed_files": [], "row_count": 0, "lineage": []}
            )

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    entries = store._entries()
    assert len(entries) == n_threads * per_thread  # nothing lost
    assert [e["seq"] for e in entries] == list(range(n_threads * per_thread))
    assert len({e["batch_id"] for e in entries}) == n_threads * per_thread


def _golden_tokens(spark, trace_id=None):
    import json

    from otel_worker_spark.fixtures import golden_trace_envelope, token_df_from_payloads

    env = golden_trace_envelope()
    if trace_id is not None:
        for sp in env["resourceSpans"][0]["scopeSpans"][0]["spans"]:
            sp["traceId"] = trace_id
    return token_df_from_payloads(spark, [json.dumps(env, separators=(",", ":"))])


def _sink_truth(stores, batch_id):
    """(batch_id, sink, row_count, sum_n_tok) from the written rows."""
    rows = (
        stores.spans.read_batch(batch_id)
        .filter("signal != 'quarantine'")
        .groupBy("signal")
        .agg(F.count("*").alias("n"), F.sum("n_tok").alias("tok"))
        .collect()
    )
    return sorted((str(batch_id), r.signal, r.n, r.tok) for r in rows)


def _receipt_rows(stores):
    return sorted(tuple(r) for r in stores.receipts.read().collect())


def test_one_commit_per_batch(spark, tmp_root):
    """An ingest batch is one commit under the whole store root, and its
    receipt carries the per-sink counts observed on the write."""
    import glob

    stores = PipelineStores(spark, f"{tmp_root}/one")
    receipt = ingest_batch(spark, _golden_tokens(spark), service_lookup_df(spark), stores, 7)
    assert len(glob.glob(f"{tmp_root}/one/**/_log/*.json", recursive=True)) == 1
    truth = _sink_truth(stores, 7)
    expected = {}
    for sink in ("traces", "logs", "metrics"):
        expected[f"{sink}.row_count"], expected[f"{sink}.sum_n_tok"] = 0, None
    for _, sink, n, tok in truth:
        expected[f"{sink}.row_count"], expected[f"{sink}.sum_n_tok"] = n, tok
    assert receipt["observed"] == expected
    assert _receipt_rows(stores) == truth
    assert stores.manifest.read().count() == 2  # golden trace has 2 spans
    replay = ingest_batch(spark, _golden_tokens(spark), service_lookup_df(spark), stores, 7)
    assert replay["skipped"] is True and replay["observed"] == receipt["observed"]


def test_crash_before_commit_leaves_nothing_visible(spark, tmp_root, monkeypatch):
    """The commit is the batch's only publish: if it raises, spans,
    receipts and manifest show nothing of the batch, and the rerun
    ingests it exactly once."""
    from otel_worker_spark import store as store_mod

    stores = PipelineStores(spark, f"{tmp_root}/crash")
    lookup = service_lookup_df(spark)

    def crash(log_dir, entry):
        raise OSError("crash before the commit")

    with monkeypatch.context() as m:
        m.setattr(store_mod, "commit_json", crash)
        with pytest.raises(OSError, match="crash before the commit"):
            ingest_batch(spark, _golden_tokens(spark), lookup, stores, batch_id=7)
    for view in (stores.spans, stores.receipts, stores.manifest):
        assert "7" not in view.committed_batches()
    assert stores.spans.read().count() == 0
    assert stores.receipts.read().count() == 0
    assert stores.manifest.read().count() == 0

    r = ingest_batch(spark, _golden_tokens(spark), lookup, stores, batch_id=7)
    assert r["skipped"] is False
    assert stores.spans.read().count() == 2
    assert [e["batch_id"] for e in stores.spans.lineage()] == ["7"]
    assert _receipt_rows(stores) == _sink_truth(stores, 7)
    assert stores.manifest.read().count() == 2


def test_receipts_survive_maintenance_and_truncate_empties_views(spark, tmp_root):
    """Receipts are commit history: compaction and vacuum of the spans
    files leave them as they were. The manifest drops the batches whose
    files vacuum reclaimed and lists later ones; a truncate empties
    both views."""
    stores = PipelineStores(spark, f"{tmp_root}/maint")
    lookup = service_lookup_df(spark)
    ingest_batch(spark, _golden_tokens(spark), lookup, stores, "a")
    ingest_batch(spark, _golden_tokens(spark, "cd" * 16), lookup, stores, "b")
    before = _receipt_rows(stores)
    assert before == sorted(_sink_truth(stores, "a") + _sink_truth(stores, "b"))
    assert stores.spans.compact_small_files()["files_in"] > 0
    assert stores.spans.vacuum(retention_seconds=0)["files"] > 0
    assert _receipt_rows(stores) == before
    assert [e["batch_id"] for e in stores.receipts.lineage()] == ["a", "b"]
    assert stores.manifest.read().count() == 0
    assert stores.manifest.read_batch("a").count() == 0
    ingest_batch(spark, _golden_tokens(spark, "ef" * 16), lookup, stores, "c")
    manifest = stores.manifest.read().collect()
    assert {r.batch_id for r in manifest} == {"c"}
    assert {r.trace_id for r in manifest} == {"ef" * 16} and len(manifest) == 2

    stores.spans.truncate()
    for view in (stores.receipts, stores.manifest):
        assert view.committed_batches() == {}
        assert view.lineage() == []
        assert view.read().count() == 0
    # the truncated batches still replay as no-ops
    r = ingest_batch(spark, _golden_tokens(spark), lookup, stores, "a")
    assert r["skipped"] is True and stores.receipts.read().count() == 0
