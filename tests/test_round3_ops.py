"""Round-3 operators: bucketized range join, ordered funnel, exact
percentiles, boilerplate removal, unigram rarity, PQ ANN.

The registry-wide oracle sweep (test_registry_oracle.py) covers the
full-table cross-engine equality; the tests here pin the EDGE
semantics (inclusive/exclusive bounds, strict funnel ordering,
all-boilerplate documents) on planted inputs, plus the plan shapes
the 100 TB story depends on.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from otel_worker_spark.ops import corpus as cp
from otel_worker_spark.ops import similarity as sim
from otel_worker_spark.ops import text as tx
from otel_worker_spark.ops import timeseries as ts

SF_DIR = "/root/testdata/sf0.001"

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(eid, user, etype, offset_s, value=1.0):
    return Row(
        event_id=eid,
        ts=T0 + dt.timedelta(seconds=offset_s),
        user_id=user,
        event_type=etype,
        value=value,
        props="{}",
    )


# ------------------------------------------------------- range join


def test_range_join_bounds_inclusive_start_exclusive_end(spark):
    """Window is [ts, ts+300s): a probe AT the error ts joins, a probe
    at exactly +300 s does not — even though the two live in different
    buckets (the interval's bucket explosion must cover both)."""
    events = spark.createDataFrame(
        [
            _ev(1, 7, "error", 100),
            _ev(2, 7, "click", 100),        # == start → in
            _ev(3, 7, "view", 399),         # start+299 → in (next bucket)
            _ev(4, 7, "purchase", 400),     # == end → out
            _ev(5, 7, "click", 99),         # before start → out
            _ev(6, 8, "click", 150),        # other user → out
        ]
    )
    got = {r.error_id: r for r in ts.range_join(events).collect()}
    assert got[1].n_hits == 2
    assert got[1].n_hit_types == 2
    assert got[1].hit_value_c == 200


def test_range_join_keeps_zero_hit_intervals(spark):
    events = spark.createDataFrame([_ev(1, 7, "error", 0)])
    rows = ts.range_join(events).collect()
    assert len(rows) == 1 and rows[0].n_hits == 0 and rows[0].hit_value_c == 0


# ----------------------------------------------------------- funnel


def test_funnel_requires_strict_order(spark):
    """A click BEFORE the signup (or tied to it) must not advance the
    funnel; a later full chain completes it."""
    events = spark.createDataFrame(
        [
            _ev(1, 1, "click", 0),       # before signup → ignored
            _ev(2, 1, "signup", 10),
            _ev(3, 1, "click", 10),      # tied with signup → ignored (strict >)
            _ev(4, 1, "click", 20),
            _ev(5, 1, "purchase", 15),   # before the qualifying click → ignored
            _ev(6, 1, "purchase", 30),
            # user 2: purchase-first, never signs up
            _ev(7, 2, "purchase", 5),
        ]
    )
    got = {r.user_id: r for r in ts.funnel(events).collect()}
    assert got[1].depth == 3
    assert (got[1].t_signup_us, got[1].t_click_us, got[1].t_purchase_us) == (
        ts_us(10), ts_us(20), ts_us(30)
    )
    assert got[2].depth == 0
    assert got[2].t_signup_us is None


def ts_us(offset_s: int) -> int:
    epoch = int(T0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return epoch + offset_s * 1_000_000


def test_funnel_single_exchange(spark):
    """The fold form's point: one user_id exchange, not one join per
    stage (the oracle's 3-join shape would be 3 corpus shuffles)."""
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    s = ts.funnel(e)._jdf.queryExecution().executedPlan().toString()
    assert s.count("Exchange hashpartitioning") == 1
    assert "Join" not in s


# ---------------------------------------------------- boilerplate


def test_boilerplate_all_windows_removed_yields_empty_digest(spark):
    """A document made ENTIRELY of boilerplate reduces to the empty
    string (md5('')), not NULL — the cross-engine edge the oracle
    coalesces for."""
    import hashlib

    boiler = "cookie banner accept terms"
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=boiler, lang="en", source="s", n_chars=len(boiler))
            for i in range(3)
        ]
    )
    rows = cp.boilerplate_removal(docs).collect()
    empty_md5 = hashlib.md5(b"").hexdigest()
    for r in rows:
        assert r.n_boiler == 1 and r.n_windows == 1
        assert r.clean_digest == empty_md5
        assert r.n_clean_words == 0


def test_boilerplate_keeps_rare_windows_in_order(spark):
    import hashlib

    boiler = "one two three four"
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=f"{boiler} alpha beta gamma delta", lang="en",
                source="s", n_chars=0),
            Row(doc_id=1, text=boiler, lang="en", source="s", n_chars=0),
            Row(doc_id=2, text=boiler, lang="en", source="s", n_chars=0),
        ]
    )
    got = {r.doc_id: r for r in cp.boilerplate_removal(docs).collect()}
    assert got[0].n_windows == 2 and got[0].n_boiler == 1
    assert got[0].clean_digest == hashlib.md5(b"alpha beta gamma delta").hexdigest()
    assert got[0].n_clean_words == 4


# ------------------------------------------------- unigram rarity


def test_unigram_rarity_hapax_and_mean(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="aa aa bb", lang="en", source="s", n_chars=8),
            Row(doc_id=1, text="bb cc", lang="en", source="s", n_chars=5),
        ]
    )
    got = {r.doc_id: r for r in tx.unigram_rarity(docs).collect()}
    # corpus counts: aa=2, bb=2, cc=1
    assert got[0].n_words == 3 and got[0].n_hapax == 0
    assert got[0].rarity_mean_u == (500_000 * 3) // 3
    assert got[1].n_words == 2 and got[1].n_hapax == 1
    assert got[1].rarity_mean_u == (500_000 + 1_000_000) // 2


# --------------------------------------------------------------- PQ


def test_pq_encoding_is_zero_exchange(spark):
    """The per-subspace argmin must fold into a literal map-side
    expression — same bar as the IVF assignment (r2 verdict item 2)."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cbs = sim._collect_codebooks(e)
    sub = sim.PQ_SUB_DIM
    import pyspark.sql.functions as F  # noqa: F811

    enc_cols = []
    for j in range(sim.PQ_M):
        cands = [
            F.struct(
                F.expr(
                    f"CAST(floor(1000000.0 * "
                    f"{sim._d2_spark(f'slice(embedding, {j * sub + 1}, {sub})', sim._arr_lit(cbs[j][c]))}"
                    f") AS BIGINT)"
                ).alias("d2_u"),
                F.lit(c).cast("int").alias("code"),
            )
            for c in range(sim.PQ_KSUB)
        ]
        enc_cols.append(F.least(*cands)["code"].alias(f"code_{j}"))
    plan = (
        e.select("vec_id", *enc_cols)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan and "Window" not in plan


def test_pq_codes_within_range_and_self_nearly_exact(spark):
    """Codebook vectors (vec_id < KSUB) must encode to THEMSELVES
    (distance 0 in every subspace) — the argmin tiebreak sanity."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    top = sim.pq_topk(e)
    rows = top.collect()
    assert len(rows) == 8 * 5
    # ADC distance of a query against its own codebook entry would be 0;
    # self is excluded, so every emitted distance is >= 0 and ranks are 1..5
    by_q = {}
    for r in rows:
        assert r.adc_d2_u >= 0
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_range_join_never_plans_a_nested_loop(spark):
    """The op's reason to exist: Spark plans a raw ts-interval theta
    join as BroadcastNestedLoop/cartesian; the bucketized form must
    always be a hash-keyed join on (user_id, bucket)."""
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    s = ts.range_join(e)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s
    assert "Join" in s


def test_pq_rerank_candidate_join_broadcasts(spark):
    """The re-rank stage must reach the corpus through BROADCAST
    joins of the tiny candidate/query sets — never a corpus-wide
    shuffle for queries×candidates rows."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    s = sim.pq_topk_rerank(e)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s
