"""Training-data ops vs their DuckDB oracles at sf0.001 — the same
comparison the driver runs at sf0.01 (order-insensitive, stringified,
column-sorted)."""

from __future__ import annotations

import duckdb
import pytest

from otel_worker_spark.ops import dedup as dd
from otel_worker_spark.ops import similarity as sim
from otel_worker_spark.ops import text as tx

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        c.sql(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
    return c


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def assert_match(sdf, con, sql, min_rows=1):
    a = sdf.toPandas()
    b = con.sql(sql).df()
    cols = sorted(a.columns)
    assert sorted(b.columns) == cols
    a = a[cols].sort_values(cols).reset_index(drop=True).astype(str)
    b = b[cols].sort_values(cols).reset_index(drop=True).astype(str)
    assert len(a) == len(b) >= min_rows
    assert a.equals(b)


def test_text_stats(spark, con, docs):
    assert_match(tx.text_stats(docs), con, tx.text_stats_sql(), min_rows=500)


def test_lang_id(spark, con, docs):
    assert_match(tx.lang_id(docs), con, tx.lang_id_sql(), min_rows=500)


def test_fingerprint(spark, con, docs):
    assert_match(tx.fingerprint(docs), con, tx.fingerprint_sql(), min_rows=500)


def test_dedup_exact_finds_planted_dupes(spark, con, docs):
    assert_match(dd.dedup_exact(docs), con, dd.dedup_exact_sql(), min_rows=1)
    # planted duplicates: duplicating rows collapses to the same digest
    doubled = docs.union(docs)
    surv = dd.dedup_exact(doubled)
    assert surv.count() == docs.count()
    assert surv.filter("n_docs <> 2").count() == 0


def test_minhash_lsh(spark, con, docs):
    assert_match(
        dd.minhash_signatures_flat(docs), con, dd.minhash_signatures_flat_sql(), min_rows=500
    )
    assert_match(dd.minhash_lsh_pairs(docs), con, dd.minhash_lsh_pairs_sql(), min_rows=1)


def test_minhash_identical_docs_have_identical_sigs(spark, docs):
    """A doc duplicated must produce est_jaccard = 1000 (exactly)."""
    from pyspark.sql import functions as F

    two = docs.limit(1).union(
        docs.limit(1).withColumn("doc_id", F.col("doc_id") + 100000)
    )
    pairs = dd.minhash_lsh_pairs(two).collect()
    assert len(pairs) == 1 and pairs[0].est_jaccard_m == 1000


def test_simhash(spark, con, docs):
    assert_match(dd.simhash(docs), con, dd.simhash_sql(), min_rows=500)
    assert_match(dd.simhash_near_pairs(docs), con, dd.simhash_near_pairs_sql(), min_rows=1)


def test_ngram_jaccard(spark, con, docs):
    assert_match(dd.ngram_jaccard_pairs(docs), con, dd.ngram_jaccard_pairs_sql(), min_rows=1)


def test_cosine_topk(spark, con, embs):
    assert_match(sim.cosine_topk(embs), con, sim.cosine_topk_sql(), min_rows=40)


def test_cosine_topk_self_is_perfect(spark, embs):
    """Planted: a corpus vector equal to a query must rank 1 with
    cosine_u == 10^6."""
    from pyspark.sql import functions as F

    clone = embs.where(F.col("vec_id") == 0).withColumn("vec_id", F.lit(999999))
    aug = embs.union(clone)
    top = {(r.query_id, r.rank): r for r in sim.cosine_topk(aug).collect()}
    best = top[(0, 1)]
    assert best.neighbor_id == 999999
    assert best.cosine_u == 1_000_000 or best.cosine_u == 999_999  # floor at fp boundary


def test_lsh_buckets(spark, con, embs):
    assert_match(sim.lsh_bucket_stats(embs), con, sim.lsh_bucket_stats_sql(), min_rows=100)
    assert_match(sim.embedding_near_dup(embs), con, sim.embedding_near_dup_sql(), min_rows=1)


def test_multimodal_plumbing(spark, docs):
    from otel_worker_spark.ops import multimodal as mm

    feats = mm.extract_features(mm.documents_as_media(docs))
    rows = feats.limit(5).collect()
    assert all(len(r.feature) == mm.FEATURE_DIM for r in rows)
    assert all(r.n_bytes > 0 for r in rows)
    summary = mm.media_feature_summary(docs).collect()
    assert {r.media_type for r in summary} == {"image/png", "audio/wav"}


def test_connected_components_chain_and_cycles(spark, monkeypatch):
    """Both CC paths — the driver union-find below
    BROADCAST_COMPONENTS_MAX_EDGES and the large-star/small-star loop
    above it: a 200-node chain and a 10^5-node chain with shuffled ids
    (the adversarial diameter case that breaks label propagation's
    round budget), a 100-node clique, and a cycle and a star must all
    collapse to their min-id component."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import functions as F

    chain = spark.range(199).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    ids = np.random.default_rng(7).permutation(100_000).astype(np.int64)
    long_chain = spark.createDataFrame(pa.table({"doc_a": ids[:-1], "doc_b": ids[1:]}))
    a, b = np.triu_indices(100, k=1)
    clique = spark.createDataFrame(
        pa.table({"doc_a": a.astype(np.int64) + 1000, "doc_b": b.astype(np.int64) + 1000})
    )
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21), (21, 22), (22, 20), (30, 31)],
        "doc_a long, doc_b long",
    )
    solved = []
    union_find = dd._components_numpy
    monkeypatch.setattr(
        dd, "_components_numpy", lambda u, v: solved.append(1) or union_find(u, v)
    )
    for path, gate in (("driver", dd.BROADCAST_COMPONENTS_MAX_EDGES), ("star", 0)):
        monkeypatch.setattr(dd, "BROADCAST_COMPONENTS_MAX_EDGES", gate)
        solved.clear()

        rows = dd.connected_components(chain).collect()
        assert len(rows) == 200 and {r.component for r in rows} == {0}, path

        rows = dd.connected_components(long_chain).collect()
        assert len(rows) == 100_000 and {r.component for r in rows} == {0}, path

        rows = dd.connected_components(clique).collect()
        assert len(rows) == 100 and {r.component for r in rows} == {1000}, path

        got = {r.doc_id: r.component for r in dd.connected_components(edges).collect()}
        assert got == {
            10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 22: 20, 30: 30, 31: 30
        }, path
        assert len(solved) == (4 if path == "driver" else 0)


def test_dedup_groups_oracle(spark, con, docs):
    assert_match(dd.dedup_groups(docs), con, dd.dedup_groups_sql(), min_rows=500)


def test_text_stats_empty_doc_no_crash(spark, con):
    """ANSI: empty/whitespace-only docs flow through text_stats with
    guarded ratios, never a DIVIDE_BY_ZERO abort; oracle still agrees."""
    edge = spark.createDataFrame(
        [(9001, "", "en", "s", 0), (9002, "   ", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = tx.text_stats(edge).collect()
    assert len(rows) == 2 and all(r.alnum_ratio_m == 0 for r in rows)


def test_cosine_zero_vector_no_crash(spark):
    """ANSI: a zero embedding must score cosine 0, never abort the job
    with DIVIDE_BY_ZERO (denominator guarded in both engines)."""
    edge = spark.createDataFrame(
        [(0, [0.0] * 64, 1), (1, [1.0] * 64, 1), (2, [0.5] * 64, 2)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = sim.cosine_topk(edge).collect()
    zero_scores = [r.cosine_u for r in rows if r.query_id == 0]
    assert zero_scores and all(s == 0 for s in zero_scores)
    assert sim.ivf_topk(edge).count() > 0


def test_minhash_arrow_fold_matches_catalyst(spark, docs):
    """The production-perm numpy fold must be bit-identical to the
    Catalyst HOF fold (same int64 math, different executor)."""
    from pyspark.sql import functions as F

    import otel_worker_spark.ops.dedup as D

    hashed = docs.select(
        "doc_id", F.expr(D._hashes_spark_sql("xxhash64")).alias("hs")
    )
    perms = D.minhash_perms(128)
    mins = [
        f"array_min(transform(hs, h -> ({a} * h + {b}) % {D.MERSENNE31}))"
        for a, b in perms
    ]
    cat = {
        r.doc_id: list(r.sig)
        for r in hashed.select(
            "doc_id", F.expr("array(" + ", ".join(mins) + ")").alias("sig")
        ).collect()
    }
    arw = {r.doc_id: list(r.sig) for r in D._minhash_fold_arrow(hashed, 128).collect()}
    assert cat == arw and len(cat) == docs.count()


def test_semantic_dedup_oracle(spark, con, embs):
    """SemDeDup: trained-cluster assignment + intra-cluster cosine
    pruning, exact vs the Lloyd-replay oracle; dup marking must be
    keep-smallest-id (no cluster may have every member marked dup)."""
    sdf = sim.semantic_dedup(embs)
    assert_match(sdf, con, sim.semantic_dedup_sql(), min_rows=500)
    rows = sdf.collect()
    by_cent: dict[int, list[int]] = {}
    for r in rows:
        by_cent.setdefault(r["cent_id"], []).append(r["is_dup"])
    # every cluster retains at least one survivor
    assert all(0 in flags for flags in by_cent.values())
    assert any(1 in flags for flags in by_cent.values())
