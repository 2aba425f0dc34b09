"""Table maintenance: OPTIMIZE-style small-file compaction and vacuum.

Invariants: compaction is invisible to readers (exact row equality,
partition pruning preserved, atomic single commit); vacuum reclaims
only unreachable bytes (superseded + orphaned), never a live file."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from otel_worker_spark.store import TableStore


def _mk(spark, tmp_root, n_batches=6, rows_per=50):
    st = TableStore(spark, os.path.join(tmp_root, "t"))
    for b in range(n_batches):
        df = spark.range(b * rows_per, (b + 1) * rows_per).select(
            F.col("id"),
            (F.col("id") % 2 == 0).cast("string").alias("even"),
            F.when(F.col("id") % 3 == 0, "traces")
            .otherwise("logs")
            .alias("signal"),
        )
        st.append(df, batch_id=f"b{b}", partition_by="signal")
    return st


def _snapshot(st):
    return sorted(tuple(r) for r in st.read().collect())


def test_compact_preserves_reads_and_shrinks_files(spark, tmp_root):
    st = _mk(spark, tmp_root)
    before_rows = _snapshot(st)
    files_before = len(st.live_files())
    res = st.compact_small_files(target_rows=1000)
    assert res["files_in"] > 0 and res["files_out"] < res["files_in"]
    assert len(st.live_files()) < files_before
    assert _snapshot(st) == before_rows
    # per-partition pruning still works after the rewrite
    tr = st.read(partition="traces")
    assert tr.count() == sum(1 for r in before_rows if r[2] == "traces")
    assert tr.filter("signal != 'traces'").count() == 0
    # one atomic commit entry records the swap
    last = st.lineage()[-1]
    assert last["op"] == "compact"


def test_compact_is_a_noop_when_files_are_big(spark, tmp_root):
    st = _mk(spark, tmp_root)
    st.compact_small_files(target_rows=1000)
    # everything already at target → nothing to do, no new commit
    n = len(st.lineage())
    res = st.compact_small_files(target_rows=10)
    assert res == {"files_in": 0, "files_out": 0, "rows": 0}
    assert len(st.lineage()) == n


def test_vacuum_reclaims_superseded_and_orphans_only(spark, tmp_root):
    st = _mk(spark, tmp_root)
    st.delete_where("id % 5 = 0")
    before_rows = _snapshot(st)
    # superseded originals are still on disk pre-vacuum
    on_disk = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(st.data_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk - set(st.live_files())
    # plant an orphan (a write that crashed before its commit);
    # retention 0 = classify it immediately (age-gating covered below)
    orphan_dir = os.path.join(st.data_dir, "b-crashed-deadbeef")
    os.makedirs(orphan_dir)
    spark.range(5).write.mode("overwrite").parquet(orphan_dir + "/x")
    res = st.vacuum(retention_seconds=0.0)
    assert res["files"] > 0 and res["bytes"] > 0
    assert not os.path.exists(orphan_dir + "/x") or not any(
        f.endswith(".parquet") for f in os.listdir(orphan_dir + "/x")
    )
    on_disk_after = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(st.data_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk_after == set(st.live_files())
    assert _snapshot(st) == before_rows
    # second vacuum: nothing left to reclaim
    assert st.vacuum()["files"] == 0


def test_vacuum_retention_spares_inflight_writes(spark, tmp_root):
    """A parquet that never appeared in any commit and is YOUNGER than
    the retention window must survive vacuum — it may belong to a
    concurrent append that has not published its commit yet. Files the
    log superseded reclaim immediately regardless of age."""
    st = _mk(spark, tmp_root)
    st.delete_where("id % 5 = 0")  # superseded originals, fresh mtimes
    inflight = os.path.join(st.data_dir, "b-inflight-cafebabe")
    os.makedirs(inflight)
    spark.range(5).write.mode("overwrite").parquet(inflight + "/x")
    res = st.vacuum()  # default retention
    assert res["files"] > 0  # superseded files went despite being young
    kept = [f for f in os.listdir(inflight + "/x") if f.endswith(".parquet")]
    assert kept, "young never-committed file was vacuumed"
    # once past the retention window it is a true orphan
    assert st.vacuum(retention_seconds=0.0)["files"] > 0
    assert not os.path.exists(inflight + "/x") or not any(
        f.endswith(".parquet") for f in os.listdir(inflight + "/x")
    )


def test_compact_then_vacuum_round_trip(spark, tmp_root):
    st = _mk(spark, tmp_root, n_batches=8, rows_per=20)
    before = _snapshot(st)
    st.compact_small_files(target_rows=1000)
    st.vacuum()
    assert _snapshot(st) == before
    # the compacted table reads from exactly its live set on disk
    on_disk = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(st.data_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == set(st.live_files())


def test_additive_schema_evolution(spark, tmp_root):
    """A later batch may carry NEW columns: older rows read them as
    NULL (mergeSchema), nothing is silently dropped, and delete/
    compact rewrites preserve the merged width."""
    st = TableStore(spark, os.path.join(tmp_root, "evo"))
    st.append(spark.range(5).select("id"), batch_id="b0")
    st.append(
        spark.range(5, 10).select("id", F.lit("x").alias("extra")),
        batch_id="b1",
    )
    got = st.read()
    assert set(got.columns) == {"id", "extra"}
    assert got.filter("extra IS NULL").count() == 5
    assert got.filter("extra = 'x'").count() == 5
    # the evolved column survives a COW delete rewrite
    st.delete_where("id = 7")
    got = st.read()
    assert set(got.columns) == {"id", "extra"}
    assert got.count() == 9 and got.filter("extra = 'x'").count() == 4
    # ...and a compaction
    st.compact_small_files(target_rows=1000)
    got = st.read()
    assert set(got.columns) == {"id", "extra"}
    assert got.count() == 9
    # batch-level reads see the batch's own width (merged per batch)
    b0 = st.read_batch("b0")
    assert b0 is not None and b0.count() == 5


def test_time_travel_reads_past_snapshots(spark, tmp_root):
    """read(as_of=seq) reconstructs the table exactly as it stood at
    that commit: before a delete, before a truncate, across appends —
    and a compaction commit leaves every snapshot's content intact."""
    st = TableStore(spark, os.path.join(tmp_root, "tt"))
    st.append(spark.range(10).select("id"), batch_id="b0")      # seq 0
    st.append(spark.range(10, 20).select("id"), batch_id="b1")  # seq 1
    st.delete_where("id < 5")                                   # seq 2
    assert st.read(as_of=0).count() == 10
    assert st.read(as_of=1).count() == 20
    assert st.read(as_of=2).count() == 15
    assert st.read().count() == 15
    st.compact_small_files(target_rows=1000)                    # seq 3
    assert st.read(as_of=1).count() == 20  # pre-compaction history intact
    assert st.read().count() == 15
    st.truncate()                                               # seq 4+
    assert st.read().count() == 0
    assert st.read(as_of=1).count() == 20
    # vacuum reclaims history files — time travel is then gone by design
    st.vacuum()
    assert st.read().count() == 0


@pytest.mark.parametrize("trace_id", ["ABCD", "abc", "", "ab' OR '1'='1"])
def test_delete_trace_cli_rejects_bad_ids_before_any_session(trace_id, monkeypatch, capsys):
    """`jobs.py delete-trace` interpolates the id into a delete
    predicate, so it takes only the parse stage's well-formed ids
    (lowercase, even-length hex) and exits 2 before building a
    session for anything else."""
    import json
    import sys

    import jobs

    def no_session(*args, **kwargs):
        raise AssertionError("a session was built for a rejected trace id")

    monkeypatch.setattr(jobs, "get_spark", no_session)
    monkeypatch.setattr(
        sys, "argv", ["jobs.py", "delete-trace", "--stores", "unused", "--trace-id", trace_id]
    )
    with pytest.raises(SystemExit) as exited:
        jobs.main()
    assert exited.value.code == 2
    assert "error" in json.loads(capsys.readouterr().out)


def test_optimize_cli_bucket_flag(spark, tmp_root, capsys):
    """`jobs.py optimize --bucket PATH` (r3 verdict item 7): the one
    CLI call that compacts + vacuums the store set AND rewrites the
    spans snapshot into the bucket(N, trace_id) serving layout whose
    zero-exchange property test_plans.py proves."""
    import argparse
    import json

    import jobs
    from otel_worker_spark.fixtures import service_lookup_df, token_sequences_from_events
    from otel_worker_spark.pipeline import PipelineStores, ingest_batch

    stores_root = os.path.join(tmp_root, "stores")
    stores = PipelineStores(spark, stores_root)
    tok = token_sequences_from_events(spark, "/root/testdata/sf0.001")
    ingest_batch(spark, tok, service_lookup_df(spark), stores, batch_id=0)

    spark.sql("DROP TABLE IF EXISTS spans_bucketed_cli")
    args = argparse.Namespace(
        stores=stores_root,
        target_rows=100_000,
        no_vacuum=False,
        bucket=os.path.join(tmp_root, "bucketed"),
        bucket_table="spans_bucketed_cli",
        buckets=8,
    )
    try:
        jobs.cmd_optimize(args)
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["bucketed"]["rows"] > 0
        assert out["bucketed"]["buckets"] == 8
        # the catalog table is real and carries the bucket spec
        ddl = spark.sql("SHOW CREATE TABLE spans_bucketed_cli").first()[0]
        assert "CLUSTERED BY (trace_id)" in ddl and "8 BUCKETS" in ddl
        assert (
            spark.table("spans_bucketed_cli").count()
            == out["bucketed"]["rows"]
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS spans_bucketed_cli")
