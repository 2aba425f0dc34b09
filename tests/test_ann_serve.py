"""ANN build/serve split (ops/ann_index.py): the serve path must
return bit-identical results to inline recomputation, must NOT
retrain when the persisted index is current, must rebuild when the
corpus changes, and must read only the probed posting partitions."""

from __future__ import annotations

import json
import os

import pytest

from otel_worker_spark.ops import ann_index as ai
from otel_worker_spark.ops import similarity as sim
from otel_worker_spark.store import TableStore

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_ivf_serve_matches_inline(spark, embs, tmp_root):
    root = os.path.join(tmp_root, "ivf")
    ai.build_ivf_index(embs, root)
    got = _rows(ai.ivf_serve_topk(embs, root))
    want = _rows(sim.ivf_kmeans_topk(embs, n_queries=ai.SERVE_QUERIES, k=ai.SERVE_K))
    assert got == want and len(got) == ai.SERVE_QUERIES * ai.SERVE_K


def test_pq_serve_matches_inline(spark, embs, tmp_root):
    root = os.path.join(tmp_root, "pq")
    ai.build_pq_index(embs, root, m=8, ksub=32, iters=1)
    got = _rows(ai.pq_serve_topk(embs, root))
    want = _rows(
        sim.pq_trained_topk(
            embs, n_queries=ai.SERVE_QUERIES, k=ai.SERVE_K, m=8, ksub=32, iters=1
        )
    )
    assert got == want and len(got) == ai.SERVE_QUERIES * ai.SERVE_K


def test_ivfpq_serve_matches_inline_and_prunes(spark, embs, tmp_root):
    root = os.path.join(tmp_root, "ivfpq")
    ai.build_ivfpq_index(embs, root)
    got = _rows(ai.ivfpq_serve_topk(embs, root))
    want = _rows(sim.ivfpq_topk(embs, n_queries=ai.SERVE_QUERIES, k=ai.SERVE_K))
    assert got == want
    # file pruning: a partitions= read returns ONLY files of those
    # lists — unprobed lists never reach the scan's file set
    store = TableStore(spark, os.path.join(root, "codes"))
    all_files = set(store.live_files())
    pruned = store.read(partitions=["0"])
    pruned_files = {f.removeprefix("file://") for f in pruned.inputFiles()}
    assert pruned_files and pruned_files < all_files
    assert all("cent_id=0" in f for f in pruned_files)


def test_ensure_builds_once_and_rebuilds_on_corpus_change(spark, embs, tmp_root):
    root = os.path.join(tmp_root, "ensure")
    calls = []
    params = {"family": "test", "v": 1}

    def builder():
        calls.append(1)
        os.makedirs(root, exist_ok=True)

    ai.clear_index_memo()
    ai._ensure(root, params, embs, builder)
    ai._ensure(root, params, embs, builder)
    assert len(calls) == 1
    # fresh process (memo cleared) + unchanged marker → still no rebuild
    ai.clear_index_memo()
    ai._ensure(root, params, embs, builder)
    assert len(calls) == 1
    # corpus row count changes → rebuild
    ai.clear_index_memo()
    ai._ensure(root, params, embs.limit(100), builder)
    assert len(calls) == 2
    # params change → rebuild
    ai.clear_index_memo()
    ai._ensure(root, {"family": "test", "v": 2}, embs.limit(100), builder)
    assert len(calls) == 3
    meta = json.load(open(os.path.join(root, "_meta.json")))
    assert meta["params"]["v"] == 2 and meta["corpus_rows"] == 100


def test_serve_plan_has_no_training_jobs(spark, embs, tmp_root):
    """The serve DataFrame's physical plan must contain no Python
    stage (no Lloyd, no encode kernel): serving is scan + broadcast
    join + window only."""
    root = os.path.join(tmp_root, "ivfpq-plan")
    ai.build_ivfpq_index(embs, root)
    plan = ai.ivfpq_serve_topk(embs, root)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_ann_cli_build_then_serve(tmp_root):
    """jobs.py ann-build / ann-serve: the index lifecycle as
    spark-submit entrypoints — build writes the TableStore index,
    serve answers from it in a SEPARATE process (nothing in memory
    carries over; the persisted bytes are the interface)."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    idx = os.path.join(tmp_root, "ivfpq-cli")
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    built = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs.py"), "ann-build",
         "--embeddings", f"{SF_DIR}/embeddings.parquet", "--index", idx,
         "--family", "ivfpq"],
        capture_output=True, text=True, cwd=repo, env=env, timeout=600,
    )
    assert built.returncode == 0, built.stderr[-2000:]
    rec = json.loads(built.stdout.strip().splitlines()[-1])
    assert rec["rows"] == 500 and not rec["skipped"]
    served = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs.py"), "ann-serve",
         "--embeddings", f"{SF_DIR}/embeddings.parquet", "--index", idx,
         "--family", "ivfpq", "--queries", "4", "--k", "3"],
        capture_output=True, text=True, cwd=repo, env=env, timeout=600,
    )
    assert served.returncode == 0, served.stderr[-2000:]
    out = json.loads(served.stdout.strip().splitlines()[-1])
    assert len(out["results"]) == 12
    assert {r["queryId"] for r in out["results"]} == {0, 1, 2, 3}
