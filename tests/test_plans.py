"""Physical-plan assertions: the optimizations we rely on at 100 TB
must actually appear in the plans (a correct-but-mis-planned operator
is a regression)."""

from __future__ import annotations

from pyspark.sql import functions as F

from otel_worker_spark.fixtures import service_lookup_df, token_sequences_from_events
from otel_worker_spark.pipeline import transform_batch
from otel_worker_spark.queries import trace_summaries, traces_list
from otel_worker_spark.registry import rel_join_chain, rel_pricing_summary, rel_topk_orders

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_to_parquet(spark):
    """Filters and projections must reach the parquet scan."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= "1998-09-02").select("l_orderkey", "l_quantity")
    s = formatted(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in s
    # column pruning: only the needed columns in ReadSchema
    read_schema = [l for l in s.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_topk_is_take_ordered(spark):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (true
    top-k), never a global Sort."""
    s = plan_of(rel_topk_orders(spark, SF_DIR))
    assert "TakeOrderedAndProject" in s
    assert "Sort [" not in s  # no global sort node


def test_traces_list_plan(spark):
    """A1+O1: partial aggregation before the shuffle + top-k."""
    tok = token_sequences_from_events(spark, SF_DIR)
    spans = transform_batch(tok, service_lookup_df(spark), with_inner=False)
    s = plan_of(traces_list(spans))
    assert "TakeOrderedAndProject" in s
    assert s.count("HashAggregate") >= 2  # partial + final


def test_dim_joins_are_broadcast(spark):
    """The service/nation/region dims must broadcast — a shuffle here
    is wrong at any scale."""
    s = plan_of(rel_join_chain(spark, SF_DIR))
    assert s.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in s


def test_enrich_join_is_broadcast(spark):
    tok = token_sequences_from_events(spark, SF_DIR)
    routed = transform_batch(tok, service_lookup_df(spark), with_inner=False)
    s = plan_of(routed)
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_trace_summaries_semi_join_broadcast(spark):
    """J1: the top-k id set must broadcast into the semi-join."""
    tok = token_sequences_from_events(spark, SF_DIR)
    spans = transform_batch(tok, service_lookup_df(spark), with_inner=False).filter(
        "signal != 'quarantine'"
    )
    s = plan_of(trace_summaries(spans, limit=5))
    assert "BroadcastHashJoin" in s and "LeftSemi" in s


def test_pricing_summary_partial_agg(spark):
    """Map-side partial aggregation before the exchange (the two-phase
    agg that keeps the shuffle tiny at 100 TB)."""
    s = plan_of(rel_pricing_summary(spark, SF_DIR))
    first_agg = s.index("HashAggregate")
    assert s.count("HashAggregate") >= 2
    assert "Exchange" in s[first_agg:]


def test_dedup_pair_paths_have_no_cross_join(spark):
    """r1 verdict scale-killers: the simhash pair stage and the
    Jaccard verification stage must plan as banded equi-joins —
    no CartesianProduct / BroadcastNestedLoopJoin anywhere."""
    from otel_worker_spark.ops import dedup as dd

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for df in (
        dd.simhash_near_pairs(docs),
        dd.verified_pairs(docs),
        dd.minhash_lsh_pairs(docs),
    ):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_banding_equals_all_pairs(spark):
    """8×4-bit banding is pigeonhole-complete for Hamming ≤ 7: the
    banded candidate join must reproduce the brute-force all-pairs
    result EXACTLY at max_hamming=6."""
    from pyspark.sql import functions as F

    from otel_worker_spark.ops import dedup as dd

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    banded = dd.simhash_near_pairs(docs, max_hamming=6).toPandas()
    sigs = dd.simhash(docs)
    a, b = sigs.alias("a"), sigs.alias("b")
    brute = (
        a.crossJoin(b)
        .where(F.expr("a.doc_id < b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .where("hamming <= 6")
        .toPandas()
    )
    key = ["doc_a", "doc_b"]
    assert (
        banded.sort_values(key).reset_index(drop=True)
        .equals(brute.sort_values(key).reset_index(drop=True))
    )


def test_minhash_production_config(spark):
    """PROD_PERMS=128/32-band signatures run end-to-end with the
    xxhash64 production hash and find the planted near-dups."""
    from otel_worker_spark.ops import dedup as dd

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs = dd.minhash_signatures(docs, "xxhash64", n_perms=dd.PROD_PERMS)
    row = sigs.limit(1).collect()[0]
    assert len(row.sig) == dd.PROD_PERMS
    pairs = dd.minhash_lsh_pairs(
        docs, threshold=0.5, hash_impl="xxhash64",
        n_perms=dd.PROD_PERMS, n_bands=dd.PROD_BANDS,
    )
    assert pairs.count() > 0


def test_sessionize_single_exchange(spark):
    """Sessionize: the windows and the session rollup must share ONE
    user_id hash exchange — a second exchange would double-shuffle
    every event at 10^12 scale."""
    from otel_worker_spark.ops.timeseries import sessionize

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    s = plan_of(sessionize(e))
    assert s.count("Exchange hashpartitioning") == 1


def test_asof_join_is_union_window_not_range_join(spark):
    """As-of join: one user_id exchange, no join node at all (the
    union-merge form) — a range/theta join here is the O(n*m)
    scale-killer."""
    from otel_worker_spark.ops.timeseries import asof_join

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    s = plan_of(asof_join(e))
    assert s.count("Exchange hashpartitioning") == 1
    assert "Join" not in s and "CartesianProduct" not in s


def test_decontaminate_broadcasts_eval_grams(spark):
    """Decontamination: the (small) eval gram set must broadcast; the
    training corpus must reach the join without an exchange."""
    from otel_worker_spark.ops.text import decontaminate

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    s = plan_of(decontaminate(d))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_ivf_assignment_has_no_exchange(spark):
    """r2 verdict item: the IVF nearest-centroid assignment must be a
    map-side literal fold — the window form shuffled corpus×16 scored
    rows just to pick a max (a corpus-sized exchange at 100×)."""
    from otel_worker_spark.ops import similarity as sim

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    s = plan_of(sim.ivf_assignments(e))
    assert "Exchange" not in s
    assert "Join" not in s and "Window" not in s


def test_ivf_topk_corpus_side_stays_narrow(spark):
    """ivf_topk / ivf_kmeans_topk: the corpus must reach the probe
    equi-join through the zero-exchange assignment (no self-join back
    to embeddings, no corpus-side window); the probe side broadcasts."""
    from otel_worker_spark.ops import similarity as sim

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    for df in (sim.ivf_topk(e), sim.ivf_kmeans_topk(e)):
        s = plan_of(df)
        assert "BroadcastHashJoin" in s
        assert "SortMergeJoin" not in s and "CartesianProduct" not in s
        # exactly one scan feeds the big side of the probe join: the
        # old shape had assignments JOIN embeddings (two corpus scans
        # meeting in a shuffle join)
        assert "ShuffledHashJoin" not in s


def test_token_chunk_packing_partitions_by_source(spark):
    """Token-native packing: per-source windows (parallel across
    sources), never a single global window funnel."""
    from otel_worker_spark.fixtures import token_sequences_from_events
    from otel_worker_spark.ops import corpus as cp

    tok = token_sequences_from_events(spark, SF_DIR)
    s = plan_of(cp.materialize_token_chunks(tok))
    assert "Exchange hashpartitioning(source" in s
    assert "Exchange SinglePartition" not in s


def test_bucketed_layout_removes_trace_shuffles(spark, tmp_root):
    """The bucket(trace_id) claim, proven: after compacting the span
    store to a bucketed table, the traces_list aggregate and the
    (trace_id, parent_span_id) self-join plan with ZERO exchanges —
    the scan itself provides HashPartitioning(trace_id). On vanilla
    parquet files the same queries each re-shuffle the corpus."""
    import os

    from otel_worker_spark.pipeline import PipelineStores, ingest_batch
    from otel_worker_spark.queries import parent_child_spans

    stores = PipelineStores(spark, os.path.join(tmp_root, "stores"))
    tok = token_sequences_from_events(spark, SF_DIR)
    ingest_batch(spark, tok, service_lookup_df(spark), stores, batch_id=0)
    spark.sql("DROP TABLE IF EXISTS spans_bucketed")
    spans = stores.spans.compact_to_bucketed(
        "spans_bucketed", os.path.join(tmp_root, "bucketed"), buckets=8
    ).filter("signal != 'quarantine'")
    try:
        agg_plan = plan_of(traces_list(spans))
        assert "Exchange" not in agg_plan
        assert "Bucketed: true" in formatted(traces_list(spans))

        # the self-join: force the big-table regime (at test scale the
        # planner rightly broadcasts; at 100 TB both sides are huge and
        # the question is whether the SMJ needs a shuffle)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            join_plan = plan_of(parent_child_spans(spans))
            assert "Exchange" not in join_plan
            assert "SortMergeJoin" in join_plan  # co-partitioned, sort-local

            # control: the same queries on the plain-parquet store DO
            # exchange — the bucketed layout is what removed it
            flat = stores.spans.read(partition="traces")
            assert "Exchange hashpartitioning" in plan_of(traces_list(flat))
            assert "Exchange hashpartitioning" in plan_of(parent_child_spans(flat))
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS spans_bucketed")


def test_serving_snapshot_removes_traces_list_shuffle(spark, tmp_root):
    """The read API's serving snapshot is hash-partitioned by trace_id
    and cached, so the traces_list aggregate over it plans no Exchange
    (only the snapshot's own build, inside the cached relation, has
    one); the same query over the store's files does."""
    import os

    from otel_worker_spark.api import TraceApi
    from otel_worker_spark.pipeline import PipelineStores, ingest_batch

    stores = PipelineStores(spark, os.path.join(tmp_root, "stores"))
    tok = token_sequences_from_events(spark, SF_DIR)
    ingest_batch(spark, tok, service_lookup_df(spark), stores, batch_id=0)
    api = TraceApi(spark, stores, service_lookup_df(spark))
    api._spans()  # a commit's first read plans over the files
    snap = api._spans()
    above_cache = plan_of(traces_list(snap)).split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in above_cache
    assert "Exchange" not in above_cache
    assert above_cache.count("HashAggregate") >= 2  # partial + final, no shuffle
    flat = stores.spans.read().filter("signal != 'quarantine'")
    assert "Exchange hashpartitioning" in plan_of(traces_list(flat))
    api.close()


def test_repetition_is_zero_shuffle(spark):
    """r4 rework: Gopher repetition stats fold a sorted gram array
    per row — the explode->groupBy(doc_id, gram) form shuffled ~850
    B/doc of gram text (shuffle_audit measurement) just to count runs
    the row already contains."""
    from otel_worker_spark.ops import text as tx

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    s = plan_of(tx.repetition(d))
    assert "Exchange" not in s
    assert "Generate" not in s            # no explode either
    assert "*(" in s                     # whole-stage codegen marker


def test_corpus_plan_shapes(spark):
    """Corpus ops (100 TB shapes): packing windows partition by source
    (never a single global window); ngram top-k is TakeOrdered, not a
    global sort; the Bloom bit-set broadcasts."""
    from otel_worker_spark.ops import corpus as cp

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    s = plan_of(cp.pack_chunks(d))
    assert "Exchange hashpartitioning(source" in s   # parallel across sources
    assert "Exchange SinglePartition" not in s       # no global funnel

    s = plan_of(cp.ngram_topk(d))
    assert "TakeOrderedAndProject" in s
    assert s.count("HashAggregate") >= 2             # partial + final gram counts

    s = plan_of(cp.bloom_decontaminate(d))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s

    s = plan_of(cp.tfidf_topk(d))
    assert "CartesianProduct" not in s               # N arrives as broadcast 1-row


def test_token_dup_spans_plan_shape(spark):
    """The dup-span family's load-bearing plan properties: the spread
    + key repartition are the ONLY exchanges before the aggregate
    (repartition-by-the-group-key replaces the doomed mostly-unique-
    key partial agg, measured 2 GB organic spill without it), and
    doc_dup_stats serves its (k,doc) pre-agg, per-key window, and dup
    flagging from the one key-partitioned exchange."""
    from otel_worker_spark.ops import token_stats as tks

    tok = token_sequences_from_events(spark, SF_DIR)
    # force the final (non-AQE-rewritten) plan by collecting
    dup = tks.dup_spans(tok)
    dup.collect()
    s = dup._jdf.queryExecution().executedPlan().toString()
    final = s.split("== Initial Plan ==")[0]
    # spread + repartition(span): 2 exchanges, the groupBy adds none
    assert final.count("Exchange") == 2, final
    stats = tks.doc_dup_stats(tok)
    stats.collect()
    s2 = stats._jdf.queryExecution().executedPlan().toString()
    final2 = s2.split("== Initial Plan ==")[0]
    # spread + repartition(k) + doc rollup: 3 exchanges, window adds none
    assert final2.count("Exchange") == 3, final2
    assert "xxhash64" in final2  # 8-byte keys, not span strings


def test_token_pair_counts_plan_shape(spark):
    from otel_worker_spark.ops import token_stats as tks

    tok = token_sequences_from_events(spark, SF_DIR)
    pc = tks.bpe_pair_counts(tok)
    pc.collect()
    final = pc._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    # spread + the pair-vocab agg exchange; partial agg bounds the
    # latter at |V|^2 rows per map partition
    assert final.count("Exchange") == 2, final
    assert "zip_with" in final  # pairs built JVM-side, no Python


def test_semantic_dedup_plan_no_cartesian(spark):
    """The within-cluster self-join must be a hash equi-join on
    cent_id — never a cartesian/BNLJ over the corpus."""
    from otel_worker_spark.ops import similarity as sim

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sd = sim.semantic_dedup(embs)
    sd.collect()
    final = sd._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final


def test_token_decontaminate_plan_shape(spark):
    """Token-native decontamination: the benchmark gram set broadcasts
    (BroadcastHashJoin, never a sort-merge of the corpus against it)
    and the training-side windows reach the probe without any corpus
    sort — the only exchanges are the benchmark distinct, the _spread
    round-robins, and the doc rollup."""
    from otel_worker_spark.fixtures import token_sequences_from_events
    from otel_worker_spark.ops import token_stats as tks

    tok = token_sequences_from_events(spark, SF_DIR)
    df = tks.token_decontaminate(tok)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final


def test_zipf_coverage_window_input_is_vocab_sized(spark):
    """The rank/cumsum window runs on the POST-aggregation frame (|V|
    rows), never on exploded corpus tokens: the plan's single-partition
    exchange must sit above the final HashAggregate."""
    from otel_worker_spark.fixtures import token_sequences_from_events
    from otel_worker_spark.ops import token_stats as tks

    tok = token_sequences_from_events(spark, SF_DIR)
    df = tks.zipf_coverage(tok)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    w = final.index("Window")
    agg = final.index("HashAggregate")
    assert agg > w, "aggregate must be UNDER the window in the plan tree"
    assert "SinglePartition" in final
