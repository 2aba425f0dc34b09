"""ANN index build/serve split: trained centroids, PQ codebooks, and
corpus codes PERSIST as TableStore tables; serving reads the index
instead of retraining (VERDICT r5 "Next round" #2).

Why: a 100-TB index is built once and served many times. Before this
module every ``ann_*`` registry query re-ran Lloyd / re-encoded the
corpus per invocation (``ann_ivf_kmeans_topk`` was the slowest sf0.1
query at 3.5-5.9 s, nearly all of it training). The split gives each
ANN family the production lifecycle:

- **build** — train (deterministic quantized Lloyd, same code paths as
  the inline queries), then write the model + the encoded corpus into
  a `store.TableStore` (the Iceberg stand-in: atomic commit-log
  publish, per-file lineage, idempotent-by-batch — `store.py:156`).
  Posting/code tables are PARTITIONED BY ``cent_id``, so the list
  structure is the physical layout.
- **serve** — read the (tiny) model tables, compute probes, and read
  ONLY the probed posting partitions (file-list pruning in
  `TableStore.read(partitions=...)`): at production geometry that is
  n_probe/n_centroids of the corpus that never leaves disk. No Lloyd,
  no encode, no corpus-wide pass at query time.

Correctness story: training is deterministic and integer-exact, so the
DuckDB oracle REPLAYS it (the same training-replay SQL the inline
queries use). A serve-path hash match therefore proves the whole
build → persist → read → serve round trip returns bit-identical
results to recomputation — a stronger statement than pointing the
oracle at the index files, because it checks the persisted bytes
AGAINST independently rederived ground truth.

Staleness: each index root carries a ``_meta.json`` marker recording
the build params and the corpus row count; ``_ensure`` rebuilds when
either changes and otherwise serves from disk (in-process memo skips
even the marker read after the first check).

Reference analog: none — the reference has no vector search; this is
the beyond-reference training-data family (`ops/similarity.py`),
given the build/serve lifecycle a real deployment needs.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..store import TableStore
from . import similarity as sim

#: where per-sf index roots live; tests override via the ``root=``
#: params, the registry uses this default (inside the repo tree —
#: the only writable area in this sandbox)
ANN_INDEX_ROOT = os.environ.get(
    "SPARK_GRAFT_ANN_INDEX",
    os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "spark-warehouse", "ann_index"),
)

#: serve-query defaults — deliberately DIFFERENT from the inline
#: queries' (8, 5) so the driver rows are distinct result sets
SERVE_QUERIES = 10
SERVE_K = 6


# ------------------------------------------------------------ lifecycle


def _meta_path(root: str) -> str:
    return os.path.join(root, "_meta.json")


def _index_current(root: str, params: dict, corpus_rows: int) -> bool:
    try:
        with open(_meta_path(root)) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return False
    return meta.get("params") == params and meta.get("corpus_rows") == corpus_rows


#: in-process memo: (root, params-json) pairs already verified current,
#: so a sweep calling the same serve query repeatedly pays the marker
#: check once (the count() it skips is the only per-call Spark job)
_ENSURED: set[tuple[str, str]] = set()


def _ensure(root: str, params: dict, embeddings: DataFrame, builder) -> None:
    """Build-once gate: rebuild iff the marker is missing, the params
    changed, or the corpus row count changed (fixture regeneration);
    otherwise the persisted index serves as-is."""
    key = (root, json.dumps(params, sort_keys=True))
    if key in _ENSURED and os.path.exists(_meta_path(root)):
        return
    corpus_rows = embeddings.count()
    if not _index_current(root, params, corpus_rows):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        builder()
        with open(_meta_path(root), "w") as f:
            json.dump({"params": params, "corpus_rows": corpus_rows}, f)
    _ENSURED.add(key)


def clear_index_memo() -> None:
    _ENSURED.clear()


# ------------------------------------------------------------------ IVF


def build_ivf_index(
    embeddings: DataFrame,
    root: str,
    n_centroids: int = sim.N_CENTROIDS,
    iters: int = sim.KMEANS_ITERS,
) -> dict:
    """Train the k-means coarse quantizer and persist the index:

    - ``centroids`` table: (cent_id, c array<bigint>) — the trained
      quantizer in the floor-scaled integer domain both engines share.
    - ``postings`` table: (vec_id, embedding), PARTITIONED BY cent_id
      — the inverted lists as physical layout (FAISS keeps raw vectors
      per-list for exact rerank; so do we).

    Scale shape: training is broadcast-Lloyd (`kmeans_centroids` —
    corpus never shuffles); the posting write is ONE narrow pass (the
    zero-exchange literal argmax assignment) into a single partitioned
    append. Returns the postings commit receipt (per-list lineage).
    """
    spark = embeddings.sparkSession
    cents = sim.kmeans_centroids(embeddings, n_centroids, iters)
    cent_df = spark.createDataFrame(
        [(int(cid), [int(x) for x in v]) for cid, v in cents],
        "cent_id long, c array<bigint>",
    )
    TableStore(spark, os.path.join(root, "centroids")).append(cent_df, "build")
    lits = [
        (cid, sim._scaled_arr_lit(v), sim._norm_lit([x / 1000000.0 for x in v]))
        for cid, v in cents
    ]
    postings = (
        embeddings.select("vec_id", "embedding")
        .withColumn("__nrm", F.expr(sim._norm_expr("embedding")))
        .select(
            (-sim._argmax_centroid("embedding", lits, "__nrm")["neg_cent"]).alias(
                "cent_id"
            ),
            "vec_id",
            "embedding",
        )
    )
    return TableStore(spark, os.path.join(root, "postings")).append(
        postings, "build", partition_by="cent_id"
    )


def ivf_serve_topk(
    embeddings: DataFrame,
    root: str,
    n_queries: int = SERVE_QUERIES,
    k: int = SERVE_K,
    n_probe: int = sim.N_PROBE,
) -> DataFrame:
    """Serve IVF top-k FROM the persisted index: read the centroid
    table (tiny collect), probe per query (literal folds over the
    persisted centroids — bit-identical to training-time probing),
    then read ONLY the probed posting partitions and rerank with exact
    cosine. No training, no corpus-wide pass; the only exchange is the
    final per-query top-k window."""
    import numpy as np

    spark = embeddings.sparkSession
    cent_rows = TableStore(spark, os.path.join(root, "centroids")).read().collect()
    cents = sorted((int(r.cent_id), [int(x) for x in r.c]) for r in cent_rows)
    # probe selection is DRIVER-side numpy over the collected centroid
    # table and the ≤ n_queries query rows (both bounded — the same
    # work a serving coordinator does per request; precedent: the PQ /
    # IVF+PQ serve paths build their LUTs driver-side). The previous
    # Spark probe job exploded an O(n_centroids · dim) literal struct
    # array per call: ~1.5 s of analysis + a scheduled job to score
    # 10 × 64 cosines. The accumulation below is the same dimension-
    # sequential mul-then-add as the SQL left-fold (numpy never fuses),
    # so every double — and the floor — lands bit-identically.
    qrows = sorted(
        embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: int(r.vec_id),
    )
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    C = np.array([v for _, v in cents], dtype=np.float64)  # int64 values, exact
    cc = np.zeros(C.shape[0], dtype=np.float64)
    for d in range(C.shape[1]):
        cc = cc + C[:, d] * C[:, d]
    c_norm = np.sqrt(cc)
    probe_rows = []
    for r in qrows:
        q = np.array(r.embedding, dtype=np.float64)
        dot = np.zeros(C.shape[0], dtype=np.float64)
        qq = 0.0
        for d in range(C.shape[1]):
            dot = dot + q[d] * C[:, d]
            qq = qq + q[d] * q[d]
        denom = np.maximum(1e-300, np.sqrt(qq) * c_norm)
        sim_u = np.floor(1_000_000.0 * (dot / denom)).astype(np.int64)
        # (desc sim_u, asc cent_id) — the row_number tiebreak
        order = np.lexsort((cids, -sim_u))[:n_probe]
        for i in order:
            probe_rows.append((int(r.vec_id), list(r.embedding), int(cids[i])))
    probes = _local_frame(
        spark, probe_rows, ["query_id", "q", "cent_id"],
        "query_id long, q array<float>, cent_id long",
    )
    # the probed list set (≤ n_queries·n_probe ids) gates the FILE-level
    # read — unprobed lists never leave disk
    probed = sorted({str(cid) for _, _, cid in probe_rows})
    assigned = (
        TableStore(spark, os.path.join(root, "postings"))
        .read(partitions=probed)
        .withColumn("cent_id", F.col("cent_id").cast("long"))
        .select("cent_id", F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("e"))
    )
    cos = sim._cosine_spark("q", "e")
    cand = (
        F.broadcast(probes)
        .join(assigned, "cent_id")
        .where(F.expr("query_id <> neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(f"CAST(floor(1000000.0 * {cos}) AS BIGINT)").alias("cosine_u"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_u"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_u")
    )


# ------------------------------------------------------------------- PQ


def build_pq_index(
    embeddings: DataFrame,
    root: str,
    m: int = 8,
    ksub: int = 32,
    iters: int = 1,
) -> dict:
    """Train PQ codebooks (broadcast-geometry Lloyd at m·ksub=256) and
    persist:

    - ``codebooks``: (j, code, c array<bigint>) — m·ksub rows.
    - ``codes``: (neighbor_id, codes array<int>) — the whole corpus at
      m·log2(ksub) bits/vector, written by the zero-exchange Arrow
      encode pass. THIS table is the point of PQ: it is what a 100-TB
      float corpus shrinks to so the serving scan fits hot storage.
    """
    spark = embeddings.sparkSession
    cbs = sim.pq_train_codebooks(embeddings, m, ksub, iters)
    cb_df = spark.createDataFrame(
        [
            (j, c, [int(x) for x in cbs[j][c]])
            for j in range(m)
            for c in range(ksub)
        ],
        "j int, code int, c array<bigint>",
    )
    TableStore(spark, os.path.join(root, "codebooks")).append(cb_df, "build")
    codes = sim.pq_encode_broadcast(embeddings, cbs)
    return TableStore(spark, os.path.join(root, "codes")).append(codes, "build")


def pq_serve_topk(
    embeddings: DataFrame,
    root: str,
    n_queries: int = SERVE_QUERIES,
    k: int = SERVE_K,
) -> DataFrame:
    """Serve PQ ADC top-k FROM the persisted index: collect the
    codebook table (m·ksub tiny rows), precompute per-query distance
    LUTs driver-side, then scan the persisted CODES table with a
    JVM-side integer fold — no encode, no Python stage, no float math.
    The only exchange is the per-query top-k window."""
    import numpy as np

    spark = embeddings.sparkSession
    cb_rows = TableStore(spark, os.path.join(root, "codebooks")).read().collect()
    m = max(int(r.j) for r in cb_rows) + 1
    ksub = max(int(r.code) for r in cb_rows) + 1
    by_j: dict[int, dict[int, list[int]]] = {}
    for r in cb_rows:
        by_j.setdefault(int(r.j), {})[int(r.code)] = [int(x) for x in r.c]
    cbs_np = [
        np.array([by_j[j][c] for c in range(ksub)], dtype=np.int64)
        for j in range(m)
    ]
    sub = cbs_np[0].shape[1]
    qrows = (
        embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    lut_rows = []
    for r in sorted(qrows, key=lambda r: int(r.vec_id)):
        qv = np.floor(
            1_000_000.0 * np.array(r.embedding, dtype=np.float64)
        ).astype(np.int64)
        lut = [
            [
                int(((qv[j * sub : (j + 1) * sub] - cbs_np[j][c]) ** 2).sum())
                for c in range(ksub)
            ]
            for j in range(m)
        ]
        lut_rows.append((int(r.vec_id), lut))
    luts = _local_frame(
        spark, lut_rows, ["query_id", "lut"],
        "query_id long, lut array<array<bigint>>",
    )
    codes = TableStore(spark, os.path.join(root, "codes")).read()
    adc = (
        f"aggregate(sequence(0, {m - 1}), CAST(0 AS BIGINT),"
        f" (acc, j) -> acc + lut[j][element_at(codes, j + 1)])"
    )
    scored = (
        F.broadcast(luts)
        .join(codes, F.expr("query_id <> neighbor_id"))
        .select("query_id", "neighbor_id", F.expr(adc).alias("adc_d2_u"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2_u"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_d2_u")
    )


# --------------------------------------------------------------- IVF+PQ


def build_ivfpq_index(
    embeddings: DataFrame,
    root: str,
    n_centroids: int = sim.IVFPQ_CENTROIDS,
    ksub: int = sim.PQ_KSUB,
    m: int = sim.PQ_M,
) -> dict:
    """Build the composed FAISS-shape index and persist all three
    tables: ``coarse`` (cent_id, cv), ``codebooks`` (j, code, c), and
    ``codes`` (neighbor_id, codes) PARTITIONED BY cent_id — the
    residual-PQ inverted file. One narrow Arrow pass encodes the
    corpus; the write is one partitioned append with per-list lineage."""
    spark = embeddings.sparkSession
    C, cbs = sim._ivfpq_model(embeddings, n_centroids, ksub, m)
    coarse_df = spark.createDataFrame(
        [(int(i), [int(x) for x in C[i]]) for i in range(C.shape[0])],
        "cent_id long, cv array<bigint>",
    )
    TableStore(spark, os.path.join(root, "coarse")).append(coarse_df, "build")
    cb_df = spark.createDataFrame(
        [
            (j, c, [int(x) for x in cbs[j][c]])
            for j in range(len(cbs))
            for c in range(cbs[j].shape[0])
        ],
        "j int, code int, c array<bigint>",
    )
    TableStore(spark, os.path.join(root, "codebooks")).append(cb_df, "build")
    encoded = sim.ivfpq_encode(embeddings, C, cbs)
    return TableStore(spark, os.path.join(root, "codes")).append(
        encoded, "build", partition_by="cent_id"
    )


def ivfpq_serve_topk(
    embeddings: DataFrame,
    root: str,
    n_queries: int = SERVE_QUERIES,
    k: int = SERVE_K,
    n_probe: int = sim.IVFPQ_PROBE,
) -> DataFrame:
    """Serve IVF+PQ top-k FROM the persisted index: collect the coarse
    + codebook tables (tiny), build per-(query, probed-list) residual
    LUTs (`sim._ivfpq_query_probes` — the same code path the inline
    query uses), read ONLY the probed code partitions, and fold the
    ADC sum JVM-side. This is the production ANN serving plan: the
    corpus contribution is n_probe/n_centroids of an m-bytes/vector
    table, read file-pruned from disk."""
    # the three model/query fetches (query vectors, coarse centroids,
    # residual codebooks) are independent tiny jobs — overlap them
    # from a small thread pool so the serve call pays one job latency,
    # not three in sequence (guide §2.6 back-fill; a real serving
    # coordinator fetches its metadata concurrently too)
    from concurrent.futures import ThreadPoolExecutor

    spark = embeddings.sparkSession
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_q = pool.submit(
            lambda: embeddings.where(F.col("vec_id") < n_queries)
            .select("vec_id", "embedding")
            .collect()
        )
        f_c = pool.submit(_read_coarse_matrix, spark, root)
        f_cb = pool.submit(_read_codebooks, spark, root)
        qrows, C, cbs = f_q.result(), f_c.result(), f_cb.result()
    return ivfpq_serve_rows(spark, root, qrows, C, cbs, k, n_probe)


def _local_frame(spark: SparkSession, rows, cols: list[str], schema: str):
    """Driver-built model frame (probes/LUTs) via pandas+Arrow instead
    of the row-by-row py4j path — same rows, ~3× less driver latency
    for the nested-array columns (r7 measurement: 0.30 s → 0.10 s for
    the IVF+PQ probe frame)."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)


def _read_coarse_matrix(spark: SparkSession, root: str):
    import numpy as np

    coarse_rows = TableStore(spark, os.path.join(root, "coarse")).read().collect()
    return np.array(
        [v for _, v in sorted((int(r.cent_id), [int(x) for x in r.cv]) for r in coarse_rows)],
        dtype=np.int64,
    )


def ivfpq_serve_rows(
    spark: SparkSession,
    root: str,
    qrows,
    C,
    cbs,
    k: int = SERVE_K,
    n_probe: int = sim.IVFPQ_PROBE,
) -> DataFrame:
    m = len(cbs)
    probe_rows = sim._ivfpq_query_probes(qrows, C, cbs, n_probe)
    probes = _local_frame(
        spark, probe_rows, ["query_id", "cent_id", "lut"],
        "query_id long, cent_id long, lut array<array<bigint>>",
    )
    probed = sorted({str(cid) for _, cid, _ in probe_rows})
    codes = (
        TableStore(spark, os.path.join(root, "codes"))
        .read(partitions=probed)
        .withColumn("cent_id", F.col("cent_id").cast("long"))
    )
    adc = (
        f"aggregate(sequence(0, {m - 1}), CAST(0 AS BIGINT),"
        f" (acc, j) -> acc + lut[j][element_at(codes, j + 1)])"
    )
    scored = (
        F.broadcast(probes)
        .join(codes, "cent_id")
        .where(F.expr("query_id <> neighbor_id"))
        .select("query_id", "neighbor_id", F.expr(adc).alias("adc_d2_u"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2_u"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_d2_u")
    )


def _read_codebooks(spark: SparkSession, root: str):
    import numpy as np

    rows = TableStore(spark, os.path.join(root, "codebooks")).read().collect()
    m = max(int(r.j) for r in rows) + 1
    ksub = max(int(r.code) for r in rows) + 1
    by_j: dict[int, dict[int, list[int]]] = {}
    for r in rows:
        by_j.setdefault(int(r.j), {})[int(r.code)] = [int(x) for x in r.c]
    return [
        np.array([by_j[j][c] for c in range(ksub)], dtype=np.int64)
        for j in range(m)
    ]


# ------------------------------------------------------ registry facade


def _root_for(sf_dir: str, family: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(ANN_INDEX_ROOT, tag, family)


def ann_ivf_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    root = _root_for(sf_dir, "ivf")
    params = {"family": "ivf", "n_centroids": sim.N_CENTROIDS, "iters": sim.KMEANS_ITERS}
    _ensure(root, params, embs, lambda: build_ivf_index(embs, root))
    return ivf_serve_topk(embs, root)


def ann_ivf_serve_sql() -> str:
    # the oracle replays the deterministic training + probe + rerank —
    # a hash match proves the persisted index round trip
    return sim.ivf_kmeans_topk_sql(n_queries=SERVE_QUERIES, k=SERVE_K)


def ann_pq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    root = _root_for(sf_dir, "pq8x32")
    params = {"family": "pq", "m": 8, "ksub": 32, "iters": 1}
    _ensure(root, params, embs, lambda: build_pq_index(embs, root, m=8, ksub=32, iters=1))
    return pq_serve_topk(embs, root)


def ann_pq_serve_sql() -> str:
    return sim.pq_trained_topk_sql(
        n_queries=SERVE_QUERIES, k=SERVE_K, m=8, ksub=32, iters=1
    )


def ann_ivfpq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    root = _root_for(sf_dir, "ivfpq")
    params = {
        "family": "ivfpq",
        "n_centroids": sim.IVFPQ_CENTROIDS,
        "m": sim.PQ_M,
        "ksub": sim.PQ_KSUB,
    }
    _ensure(root, params, embs, lambda: build_ivfpq_index(embs, root))
    return ivfpq_serve_topk(embs, root)


def ann_ivfpq_serve_sql() -> str:
    return sim.ivfpq_topk_sql(n_queries=SERVE_QUERIES, k=SERVE_K)


def ann_ivf_serve_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall acceptance gate on the PRODUCTION serve path: the
    persisted-IVF top-k (index built/read from the TableStore, zero
    training at query time) scored against the exact cosine top-k on
    the same query set. Complements ``sim.recall_eval`` (which gates
    the inline-trained pipeline): a corrupted or stale persisted index
    fails HERE even when the trainer itself is healthy — run it after
    every build/append before the index serves traffic."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sim.recall_frame(
        sim.cosine_topk(embs, SERVE_QUERIES, SERVE_K),
        ann_ivf_serve(spark, sf_dir),
    )


def ann_ivf_serve_recall_sql() -> str:
    return sim.recall_sql(
        sim.cosine_topk_sql(SERVE_QUERIES, SERVE_K), ann_ivf_serve_sql()
    )
