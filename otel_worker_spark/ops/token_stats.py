"""Token-native corpus statistics over the north-rule input table
(``doc_id, tokens: array<int32>, n_tok, source`` — BASELINE.json
input_hint): BPE pair statistics, exact-substring duplicate spans
(the Lee et al. 2021 "Deduplicating Training Data Makes Language
Models Better" ExactSubstr operator re-expressed as DataFrame
algebra), per-document duplication rates, and a distributed BPE
vocabulary trainer.

Everything here consumes the *token arrays themselves* — not the
detokenized text — so the family composes with any upstream that
produces the input-hint shape (the OTLP fixture tables, packed chunks
from ``corpus.materialize_token_chunks``, or a real pre-tokenized
training corpus).

Scale shapes (audited like the rest of the repo — see SCALE.md):

- **pair counts** — one narrow ``zip_with`` map then a single hash
  exchange whose key space is the *pair vocabulary* (≤ |V|²; for the
  byte vocab ≤ 64 Ki rows per map partition after partial agg), so
  shuffle bytes are O(partitions · |V|²), independent of corpus rows.
- **duplicate spans** — windows explode narrowly (L-token slices of
  the array; no Python), then ONE span-keyed hash exchange. Partial
  aggregation collapses high-frequency boilerplate windows map-side,
  so the exchange carries ~|distinct spans| rows per partition, not
  |corpus|·|positions|. The registry variant keys on the '-'-joined
  token string so the DuckDB oracle can recompute the key exactly; at
  10^12 rows you would key on an 8-byte rolling hash instead
  (same plan, 8-byte keys — ``span_key_expr`` below provides it).
- **per-doc dup stats** — the same window frame aggregated twice:
  (span, doc)-keyed partial counts, a span-partition window to tag
  spans seen in ≥2 docs, then a doc-keyed rollup. Two hash exchanges
  total, both over per-(span,doc) rows.
- **BPE training** — Lloyd-style driver loop like ``similarity``'s
  k-means: each round is one pair-count aggregation (map-side
  combine, |V|²-bounded exchange) plus an O(1)-row ``collect`` of the
  argmax pair, then a whole-batch Arrow merge kernel rewrites the
  sequences in place (flat values/offsets buffers, ``np.delete`` once
  per round — no per-token Python). The corpus never shuffles during
  training.

Reference anchor: the reference engine has no token-corpus operators
(its scope ends at OTLP ingest — ref: otel-worker-core/src/data.rs);
this family is part of the beyond-reference training-data surface the
graft brief mandates, alongside ops/dedup.py and ops/corpus.py.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .common import spread

#: duplicate-span window width, in tokens. 16 bytes of the identity
#: byte vocab ≈ the shortest span Lee et al. treat as memorizable;
#: long enough that variable-field windows stay unique at small SF.
SPAN_L = 16

#: a span must appear in at least this many distinct documents to
#: count as duplicated corpus text.
SPAN_MIN_DOCS = 2

#: first merge id minted by the BPE trainer (the identity byte vocab
#: occupies 0..255).
BPE_FIRST_ID = 256


# --------------------------------------------------------------- helpers


def _spread(df: DataFrame) -> DataFrame:
    """Spread an explode-amplified input across the cluster.

    Window/pair explosion fans each row out ~n_tok× (≈900× on the
    fixture corpus), so a token table read from a handful of small
    files would otherwise run the whole fan-out stage on a handful of
    cores. Shared guard logic lives in ``common.spread`` (r7): a
    round-robin exchange of the *narrow* token rows ONLY when
    partitions < defaultParallelism — at production scale the input
    arrives in thousands of partitions and this no-ops.
    """
    return spread(df)


def _window_spans(tokens_df: DataFrame, L: int) -> DataFrame:
    """(doc_id, span) for every L-token window of every document.

    Pure Catalyst: ``transform(sequence(...))`` slices the array
    JVM-side; docs shorter than L contribute no windows (the
    ``where`` also keeps ``sequence`` ascending — Spark's sequence
    auto-reverses when stop < start, which would fabricate windows).
    """
    return _spread(tokens_df.where(F.size("tokens") >= L)).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tokens) - {L} + 1),"
                f" i -> concat_ws('-', slice(tokens, i, {L})))"
            )
        ).alias("span"),
    )


def _fanout_partitions(df: DataFrame) -> int:
    """Partition count for the window-set exchange. The span/key agg
    has mostly-UNIQUE keys, so a vanilla groupBy's map-side partial
    hash map holds ~its whole input (measured: 2 GB organic spill at
    sf0.1/16 partitions). Repartitioning BY THE GROUP KEY first moves
    the same bytes as the failed partial agg would, but each reduce
    task then owns windows/n keys — sized 4× the session's shuffle
    parallelism so a task's hash map stays comfortably in memory
    (explicit numPartitions also opts the exchange out of AQE
    coalescing, which would rebuild the oversized partitions)."""
    spark = df.sparkSession
    try:
        base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        base = spark.sparkContext.defaultParallelism
    return 4 * max(base, spark.sparkContext.defaultParallelism)


def _window_keys(tokens_df: DataFrame, L: int) -> DataFrame:
    """(doc_id, k) for every L-token window — the production 8-byte
    key form of ``_window_spans`` (nothing wider than (hash, doc_id)
    ever crosses an exchange)."""
    return _spread(tokens_df.where(F.size("tokens") >= L)).select(
        "doc_id", F.explode(span_key_expr(L)).alias("k")
    )


def span_key_expr(L: int = SPAN_L) -> F.Column:
    """The production span key: xxhash64 of the window slice — 8
    bytes on the wire instead of the '-'-joined string. Same plan as
    the oracle-keyed variant; used by callers that don't need a
    cross-engine-recomputable key."""
    return F.expr(
        f"transform(sequence(1, size(tokens) - {L} + 1),"
        f" i -> xxhash64(concat_ws('-', slice(tokens, i, {L}))))"
    )


def _tok_cte() -> str:
    """Shared oracle prelude: rebuild the token table from ``events``
    via the fixture payload recipe (identity byte vocab)."""
    from ..fixtures import DOC_ID, payload_sql, render

    d = lambda s: render(s, "duckdb")
    return f"""
WITH p AS (
  SELECT {d(DOC_ID)} AS doc_id, {d(payload_sql('duckdb'))} AS payload
  FROM events
), t AS (
  SELECT doc_id,
         [unicode(substr(payload, i, 1)) for i in range(1, length(payload) + 1)] AS toks
  FROM p
)"""


# ---------------------------------------------------------- pair counts


def bpe_pair_counts(tokens_df: DataFrame) -> DataFrame:
    """Adjacent-token pair frequencies — the core BPE statistic.

    ``zip_with`` over two shifted slices builds the pair structs
    inside whole-stage codegen; the groupBy's key space is the pair
    vocabulary, so partial aggregation bounds the exchange at |V|²
    rows per map partition regardless of corpus size."""
    pairs = _spread(tokens_df.where(F.size("tokens") >= 2)).select(
        F.explode(
            F.expr(
                "zip_with(slice(tokens, 1, size(tokens) - 1),"
                " slice(tokens, 2, size(tokens) - 1),"
                " (x, y) -> struct(x AS a, y AS b))"
            )
        ).alias("pr")
    )
    return (
        pairs.select(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cnt"))
    )


def bpe_pair_counts_sql() -> str:
    return f"""{_tok_cte()}, pr AS (
  SELECT toks, unnest(range(1, len(toks))) AS i FROM t WHERE len(toks) >= 2
)
SELECT toks[i] AS a, toks[i + 1] AS b, count(*) AS cnt
FROM pr GROUP BY 1, 2
"""


# ------------------------------------------------------- duplicate spans


def dup_spans(
    tokens_df: DataFrame, L: int = SPAN_L, min_docs: int = SPAN_MIN_DOCS
) -> DataFrame:
    """Distinct L-token windows appearing in ≥ ``min_docs`` documents
    — the corpus's duplicated substrings (shared boilerplate), with
    how many documents and total occurrences carry each."""
    wins = _window_spans(tokens_df, L)
    return (
        wins.repartition(_fanout_partitions(wins), "span")
        .groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def dup_spans_sql(L: int = SPAN_L, min_docs: int = SPAN_MIN_DOCS) -> str:
    """Oracle. The fixture vocab is the identity byte vocab and the
    payload is ASCII, so grouping on raw ``substr`` windows is exactly
    grouping on token windows — DuckDB groups the cheap strings and
    converts only the (filtered) output rows to '-'-joined token ids
    (32× faster than building per-position list slices)."""
    return f"""{_tok_cte()}, w AS (
  SELECT doc_id,
         unnest([substr(payload, i, {L})
                 for i in range(1, length(payload) - {L} + 2)]) AS raw
  FROM p WHERE length(payload) >= {L}
), g AS (
  SELECT raw, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
  FROM w GROUP BY raw HAVING count(DISTINCT doc_id) >= {min_docs}
)
SELECT array_to_string([unicode(substr(raw, j, 1)) for j in range(1, {L} + 1)], '-') AS span,
       n_docs, n_occ
FROM g
"""


def doc_dup_stats(tokens_df: DataFrame, L: int = SPAN_L) -> DataFrame:
    """Per-document exact-substring duplication: total L-windows and
    how many of them are spans shared with at least one other
    document. ``n_dup_windows / n_windows`` is the Lee-et-al dup rate
    (kept as two ints so the cross-engine value hash is exact)."""
    wins = _window_keys(tokens_df, L)
    # one key-partitioned exchange serves the (k, doc) pre-agg, the
    # per-key doc-count window, AND the dup flagging: HashPartitioning
    # on k satisfies the (k, doc_id) clustering and the window's
    # partitionBy, so nothing re-shuffles until the tiny doc rollup.
    # Keys are xxhash64 of the window (8 bytes on the wire instead of
    # the '-'-joined string): a collision would merge two spans with
    # probability ~|windows|²/2^65 — deterministic for a given corpus,
    # disproven against the string-keyed oracle at every gate scale;
    # at 10^12 rows you would widen to a (xxhash64(s), xxhash64(s‖x))
    # 128-bit pair, same plan.
    per = (
        wins.repartition(_fanout_partitions(wins), "k")
        .groupBy("k", "doc_id")
        .agg(F.count("*").alias("occ"))
    )
    flagged = per.withColumn(
        "n_docs", F.count("*").over(Window.partitionBy("k"))
    )
    return flagged.groupBy("doc_id").agg(
        F.sum("occ").alias("n_windows"),
        F.sum(
            F.when(F.col("n_docs") >= SPAN_MIN_DOCS, F.col("occ")).otherwise(
                F.lit(0)
            )
        ).alias("n_dup_windows"),
    )


def doc_dup_stats_sql(L: int = SPAN_L) -> str:
    return f"""{_tok_cte()}, w AS (
  SELECT doc_id,
         unnest([substr(payload, i, {L})
                 for i in range(1, length(payload) - {L} + 2)]) AS span
  FROM p WHERE length(payload) >= {L}
), per AS (
  SELECT span, doc_id, count(*) AS occ FROM w GROUP BY span, doc_id
), fl AS (
  SELECT doc_id, occ, count(*) OVER (PARTITION BY span) AS n_docs FROM per
)
SELECT doc_id,
       CAST(sum(occ) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN n_docs >= {SPAN_MIN_DOCS} THEN occ ELSE 0 END) AS BIGINT)
         AS n_dup_windows
FROM fl GROUP BY doc_id
"""


#: default dup-rate drop threshold, as an exact rational (drop when
#: n_dup_windows/n_windows > NUM/DEN) — integer cross-multiply, no
#: float ratio crosses an engine boundary.
DUP_FILTER_NUM = 4
DUP_FILTER_DEN = 5


def doc_dup_filter(
    tokens_df: DataFrame,
    L: int = SPAN_L,
    num: int = DUP_FILTER_NUM,
    den: int = DUP_FILTER_DEN,
) -> DataFrame:
    """The actionable step after ``doc_dup_stats``: Lee et al. drop
    documents that are mostly duplicated corpus text. Emits every
    document with its window counts and an integer ``dropped`` flag
    (1 ⇔ dup rate > num/den, decided by BIGINT cross-multiplication —
    no float ratio to drift cross-engine). Docs shorter than L carry
    0/0 windows and are kept.

    Scale shape: ``doc_dup_stats``'s two audited exchanges, then one
    doc_id sort-merge join back to the (narrow) doc list — both sides
    arrive doc-keyed, and the join's key is the stats agg's own output
    partitioning."""
    stats = doc_dup_stats(tokens_df, L)
    return (
        tokens_df.select("doc_id")
        .join(stats, "doc_id", "left")
        .na.fill({"n_windows": 0, "n_dup_windows": 0})
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.when(
                F.col("n_dup_windows") * den > F.col("n_windows") * num,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("int")
            .alias("dropped"),
        )
    )


def doc_dup_filter_sql(
    L: int = SPAN_L, num: int = DUP_FILTER_NUM, den: int = DUP_FILTER_DEN
) -> str:
    from ..fixtures import DOC_ID, render

    d = render(DOC_ID, "duckdb")
    return f"""
WITH s AS (
  SELECT * FROM ({doc_dup_stats_sql(L)}) x
), base AS (
  SELECT {d} AS doc_id FROM events
)
SELECT base.doc_id,
       coalesce(s.n_windows, 0) AS n_windows,
       coalesce(s.n_dup_windows, 0) AS n_dup_windows,
       CAST(CASE WHEN coalesce(s.n_dup_windows, 0) * {den}
                      > coalesce(s.n_windows, 0) * {num}
                 THEN 1 ELSE 0 END AS INT) AS dropped
FROM base LEFT JOIN s USING (doc_id)
"""


# ------------------------------------------------- bigram typicality


def bigram_typicality(tokens_df: DataFrame) -> DataFrame:
    """Bigram-LM document quality score (CCNet-style: score each
    document by how typical its token transitions are under a model
    trained on the corpus itself; outliers in either direction are
    filter candidates).

    The model is the MLE bigram transition table P(b | a) =
    cnt(a,b) / cnt(a,·). Real deployments sum log-probs; cross-engine
    float log() is not bit-portable (libm vs Math.log last-ulp), so
    the score is kept exactly verifiable instead: each pair's
    probability is quantized ONCE on the |V|²-bounded pair table
    (p_u = floor(1e6·cnt/ctx) — int→double casts and one IEEE divide/
    multiply, bit-identical in both engines), and the per-doc score is
    an order-independent BIGINT sum of those quanta. ``score_u /
    (1e6·n_pairs)`` is the mean transition probability.

    Scale shape: pair counts and context totals are |V|²/|V|-bounded
    aggregates (map-side combine); the probability table is tiny →
    broadcast to the per-doc scoring join, so the only corpus-sized
    exchange is the final doc_id rollup."""
    counts = bpe_pair_counts(tokens_df)
    ctx = counts.groupBy("a").agg(F.sum("cnt").alias("ctx"))
    prob = counts.join(ctx, "a").select(
        "a",
        "b",
        F.expr(
            "CAST(floor(1000000.0 * (CAST(cnt AS DOUBLE) / CAST(ctx AS DOUBLE)))"
            " AS BIGINT)"
        ).alias("p_u"),
    )
    pairs = _spread(tokens_df.where(F.size("tokens") >= 2)).select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(tokens, 1, size(tokens) - 1),"
                " slice(tokens, 2, size(tokens) - 1),"
                " (x, y) -> struct(x AS a, y AS b))"
            )
        ).alias("pr"),
    ).select("doc_id", F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
    return (
        pairs.join(F.broadcast(prob), ["a", "b"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_pairs"), F.sum("p_u").alias("score_u"))
    )


def bigram_typicality_sql() -> str:
    return f"""{_tok_cte()}, pr AS (
  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b FROM (
    SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
    FROM t WHERE len(toks) >= 2
  ) u
), cnts AS (
  SELECT a, b, count(*) AS cnt FROM pr GROUP BY 1, 2
), ctx AS (
  SELECT a, sum(cnt) AS ctx FROM cnts GROUP BY 1
), prob AS (
  SELECT a, b,
         CAST(floor(1000000.0 * (CAST(cnt AS DOUBLE) / CAST(ctx AS DOUBLE)))
              AS BIGINT) AS p_u
  FROM cnts JOIN ctx USING (a)
)
SELECT doc_id, count(*) AS n_pairs, CAST(sum(p_u) AS BIGINT) AS score_u
FROM pr JOIN prob USING (a, b) GROUP BY doc_id
"""


# ------------------------------------------------- zipf / coverage


def zipf_coverage(tokens_df: DataFrame) -> DataFrame:
    """Rank-frequency (Zipf) table with cumulative coverage: for every
    token id its corpus count, frequency rank (count desc, id asc —
    the tiebreak makes the rank deterministic cross-engine) and the
    cumulative count of the top-``rank`` tokens. ``cum_cnt / total``
    answers the curation question "how much of the corpus do the top-k
    vocabulary items cover" exactly (two BIGINTs, no float).

    Scale shape: the explode+groupBy exchange is |V|-bounded after
    map-side partial aggregation (≤256 rows/partition on the byte
    vocab, ≤|V| in general); the rank/cumsum window is a single
    ordered partition of |V| rows — vocab-sized, independent of
    corpus rows, so the one-task window is O(|V| log |V|) no matter
    how many documents feed it."""
    counts = (
        _spread(tokens_df)
        .select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return counts.select(
        "token",
        "cnt",
        F.row_number().over(w).alias("rank"),
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_cnt"),
    )


def zipf_coverage_sql() -> str:
    return f"""{_tok_cte()}, u AS (
  SELECT unnest(toks) AS token FROM t
), c AS (
  SELECT token, count(*) AS cnt FROM u GROUP BY 1
)
SELECT token, CAST(cnt AS BIGINT) AS cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank,
       CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
FROM c
"""


# ------------------------------------------- per-source divergence


def source_divergence(tokens_df: DataFrame) -> DataFrame:
    """Per-source unigram L1 divergence from the corpus mixture — the
    data-mixture diagnostic (which sources are distributionally
    atypical and by how much). For source s with n_src total tokens
    out of N corpus-wide:

        l1_num(s) = Σ_t | cnt_s(t)·N − cnt(t)·n_src |

    which is N·n_src·Σ_t|P_s(t) − P(t)| kept as one exact BIGINT
    (cross-multiplied; safe through ~sf1 on this fixture since
    l1_num ≤ 2·N·n_src < 2·N² ≈ 1.6e18 — the decade-up path rebases
    to per-million quanta like ``bigram_typicality``).

    Scale shape: ONE corpus-sized exchange — the (source, token)
    groupBy, whose key space is |V|·|sources| so partial aggregation
    bounds it regardless of corpus rows. Everything after runs as
    window functions over that vocab-sized frame (per-token totals,
    per-source totals, the grand total), so tokens absent from a
    source need no vocab×source cross join: their contribution is
    n_src·(N − Σ_{t present in s} cnt(t)), folded into the final
    per-source rollup."""
    per = (
        _spread(tokens_df)
        .select("source", F.explode("tokens").alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("cnt_src"))
    )
    enriched = per.select(
        "source",
        "cnt_src",
        F.sum("cnt_src").over(Window.partitionBy("token")).alias("cnt_all"),
        F.sum("cnt_src").over(Window.partitionBy("source")).alias("n_src"),
        F.sum("cnt_src").over(Window.partitionBy()).alias("n_total"),
    )
    term = F.abs(
        F.col("cnt_src") * F.col("n_total") - F.col("cnt_all") * F.col("n_src")
    )
    return enriched.groupBy("source").agg(
        F.max("n_src").alias("n_src"),
        (
            F.sum(term)
            + F.max("n_src") * (F.max("n_total") - F.sum("cnt_all"))
        ).alias("l1_num"),
    )


def source_divergence_sql() -> str:
    from ..fixtures import DOC_ID, SERVICE, render

    s = render(SERVICE, "duckdb")
    did = render(DOC_ID, "duckdb")
    return f"""{_tok_cte()}, src AS (
  SELECT t.doc_id, t.toks, {s} AS source
  FROM t JOIN events ON t.doc_id = {did}
), per AS (
  SELECT source, unnest(toks) AS token FROM src
), cnts AS (
  SELECT source, token, count(*) AS cnt_src FROM per GROUP BY 1, 2
), en AS (
  SELECT source, cnt_src,
         sum(cnt_src) OVER (PARTITION BY token) AS cnt_all,
         sum(cnt_src) OVER (PARTITION BY source) AS n_src,
         sum(cnt_src) OVER () AS n_total
  FROM cnts
)
SELECT source,
       CAST(max(n_src) AS BIGINT) AS n_src,
       CAST(sum(abs(cnt_src * n_total - cnt_all * n_src))
            + max(n_src) * (max(n_total) - sum(cnt_all)) AS BIGINT) AS l1_num
FROM en GROUP BY source
"""


# --------------------------------------------- benchmark decontamination


#: benchmark membership: docs whose event id is divisible by this are
#: the held-out "benchmark" whose L-grams must not leak into training.
DECON_MOD = 101


def benchmark_grams(tokens_df: DataFrame, L: int = SPAN_L) -> DataFrame:
    """The distinct L-token windows of a benchmark corpus, as the
    ``span`` probe table ``decontaminate_probe`` consumes. Built once
    per benchmark release (the benchmark is fixed-size — it doesn't
    grow with the crawl) and persisted/reused across probes."""
    return _window_spans(tokens_df, L).select("span").distinct()


def decontaminate_probe(
    corpus_df: DataFrame, bench_grams_df: DataFrame, L: int = SPAN_L
) -> DataFrame:
    """Score every corpus document against a prebuilt benchmark gram
    table: per-doc window count, benchmark-hit count, and an integer
    ``contaminated`` flag. The core of the ``token_decontaminate``
    registry query and of ``curation_gate``.

    Scale shape: the gram table is benchmark-bounded, so it broadcasts
    and the training corpus NEVER shuffles into the probe: windows
    explode narrowly, probe the broadcast hash relation, and collapse
    in the doc-keyed rollup. The only corpus-sized exchange is that
    final rollup."""
    marked = bench_grams_df.select("span").withColumn("is_hit", F.lit(1))
    wins = _window_spans(corpus_df, L)
    hits = (
        wins.join(F.broadcast(marked), "span", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.coalesce("is_hit", F.lit(0))).alias("n_hits"),
        )
    )
    return (
        corpus_df.select("doc_id")
        .join(hits, "doc_id", "left")
        .na.fill({"n_windows": 0, "n_hits": 0})
        .select(
            "doc_id",
            "n_windows",
            "n_hits",
            (F.col("n_hits") > 0).cast("int").alias("contaminated"),
        )
    )


def token_decontaminate(
    tokens_df: DataFrame, L: int = SPAN_L, mod: int = DECON_MOD
) -> DataFrame:
    """Token-native benchmark decontamination (the n-gram-overlap
    check every training-data pipeline runs before a release — GPT-3
    appendix C / PaLM style, here over token L-grams instead of
    detokenized text). A deterministic fixture subset (event_id %
    ``mod`` == 0) plays the benchmark; every OTHER document is scored
    by how many of its L-token windows appear verbatim anywhere in the
    benchmark, and flagged ``contaminated`` when any does.

    Scale shape: see ``decontaminate_probe`` — benchmark grams
    broadcast, corpus never shuffles into the probe; the only
    exchanges are the benchmark-side distinct (tiny) and the final
    doc rollup."""
    eid = F.expr("CAST(substr(doc_id, 5) AS BIGINT)")
    is_bench = (eid % mod) == 0
    return decontaminate_probe(
        tokens_df.where(~is_bench),
        benchmark_grams(tokens_df.where(is_bench), L),
        L,
    )


def token_decontaminate_sql(L: int = SPAN_L, mod: int = DECON_MOD) -> str:
    return f"""{_tok_cte()}, ids AS (
  SELECT doc_id, CAST(substr(doc_id, 5) AS BIGINT) % {mod} = 0 AS is_bench
  FROM p
), bench AS (
  SELECT DISTINCT unnest([substr(p.payload, i, {L})
                          for i in range(1, length(p.payload) - {L} + 2)]) AS raw
  FROM p JOIN ids USING (doc_id)
  WHERE ids.is_bench AND length(p.payload) >= {L}
), w AS (
  SELECT p.doc_id,
         unnest([substr(p.payload, i, {L})
                 for i in range(1, length(p.payload) - {L} + 2)]) AS raw
  FROM p JOIN ids USING (doc_id)
  WHERE NOT ids.is_bench AND length(p.payload) >= {L}
), h AS (
  SELECT w.doc_id, count(*) AS n_windows,
         sum(CASE WHEN bench.raw IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
  FROM w LEFT JOIN bench USING (raw) GROUP BY w.doc_id
)
SELECT ids.doc_id,
       CAST(coalesce(h.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END AS INT)
         AS contaminated
FROM ids LEFT JOIN h USING (doc_id)
WHERE NOT ids.is_bench
"""


# ------------------------------------------------------- curation gate


def curation_gate(
    tokens_df: DataFrame,
    L: int = SPAN_L,
    num: int = DUP_FILTER_NUM,
    den: int = DUP_FILTER_DEN,
    mod: int = DECON_MOD,
    bench_grams_df: DataFrame | None = None,
) -> DataFrame:
    """The composed keep/drop decision a training-data release
    actually ships: a document enters the corpus iff it is neither
    mostly duplicated corpus text (``doc_dup_filter``, Lee et al.
    2021) nor contaminated with benchmark L-grams
    (``token_decontaminate``, GPT-3 appendix C). One row per
    non-benchmark document with both flags and the final ``kept``
    bit — the full gate as a single declarative plan, so Catalyst
    sees (and can share/reorder) both sub-pipelines.

    Scale shape: the union of the two sub-plans' audited shapes —
    dup-stats' span-keyed exchanges + doc rollup, decontaminate's
    broadcast probe + doc rollup — joined on doc_id where BOTH sides
    arrive doc-keyed from their own final aggregations.

    ``bench_grams_df`` switches the contamination side to an EXTERNAL
    benchmark gram table (``benchmark_grams`` of a real held-out
    corpus — the production deployment shape, used by ``jobs.py
    token-curate --bench``); every input document is then gated. The
    default keeps the registry/oracle semantics: the deterministic
    fixture holdout plays the benchmark and is itself excluded."""
    dup = doc_dup_filter(tokens_df, L, num, den)
    if bench_grams_df is not None:
        dec = decontaminate_probe(tokens_df, bench_grams_df, L)
    else:
        dec = token_decontaminate(tokens_df, L, mod)
    return dec.join(dup, "doc_id").select(
        "doc_id",
        "dropped",
        "contaminated",
        (
            (F.col("dropped") == 0) & (F.col("contaminated") == 0)
        ).cast("int").alias("kept"),
    )


def curation_gate_sql(
    L: int = SPAN_L,
    num: int = DUP_FILTER_NUM,
    den: int = DUP_FILTER_DEN,
    mod: int = DECON_MOD,
) -> str:
    return f"""
WITH dup AS (
  SELECT * FROM ({doc_dup_filter_sql(L, num, den)}) x
), dec AS (
  SELECT * FROM ({token_decontaminate_sql(L, mod)}) y
)
SELECT dec.doc_id, dup.dropped, dec.contaminated,
       CAST(CASE WHEN dup.dropped = 0 AND dec.contaminated = 0
                 THEN 1 ELSE 0 END AS INT) AS kept
FROM dec JOIN dup USING (doc_id)
"""


# ------------------------------------------- mixture reweighting

#: weight quantum — mixture weights are reported in parts-per-million.
MIXTURE_PPM = 1_000_000

#: sampling quantum: the first 6 hex chars of md5(doc_id) give a
#: uniform integer in [0, 16^6) that both engines recompute exactly.
SAMPLE_Q = 16**6


def _isqrt_sql(n: str) -> str:
    """Exact integer square root of a non-negative BIGINT expression,
    portable across Spark and DuckDB. ``floor(sqrt(double))`` alone is
    already bit-identical cross-engine (IEEE 754 requires sqrt
    correctly rounded, unlike pow/log), but the CASE correction also
    makes the result *mathematically* isqrt for any BIGINT, so the
    op's semantics don't lean on floating point at all.

    The upward check is written ``s0² ≤ n − 2·s0 − 1`` (algebraically
    (s0+1)² ≤ n) because the naive ``(s0+1)*(s0+1)`` overflows BIGINT
    for n ≥ 3037000499² ≈ 9.22e18 — ANSI Spark would throw and DuckDB
    would error on inputs near the top of the range. In this form
    every intermediate fits: s0 ≤ 3037000499 for any BIGINT n, so
    s0² ≤ 9.2233720309e18 < 2^63−1 and n − 2·s0 − 1 never wraps."""
    s0 = f"CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT)"
    return (
        f"(CASE WHEN {s0} * {s0} <= {n} - 2 * {s0} - 1 THEN {s0} + 1"
        f" WHEN {s0} * {s0} > {n} THEN {s0} - 1 ELSE {s0} END)"
    )


def _src_cte() -> str:
    """Oracle prelude for the mixture family: per-doc (doc_id, source,
    n_tok) scalars only — no token unnest, mirroring the Spark side
    which never explodes the arrays either."""
    from ..fixtures import DOC_ID, SERVICE, payload_sql, render

    d = lambda s: render(s, "duckdb")
    return f"""
WITH p AS (
  SELECT {d(DOC_ID)} AS doc_id, {d(SERVICE)} AS source,
         length({d(payload_sql('duckdb'))}) AS n_tok
  FROM events
)"""


def mixture_weights(tokens_df: DataFrame) -> DataFrame:
    """Temperature-scaled source mixture weights — the data-mixture
    reweighting step LLM training pipelines apply before sampling
    (UniMax / XLM-R-style α-sampling, here with α = 1/2 so the
    "pow" is an integer square root and the whole computation stays
    exact BIGINT arithmetic, bit-identical cross-engine):

        w(s)   = isqrt(n_src(s)) / Σ_t isqrt(n_src(t))
        budget = Σ_t n_src(t)          (one epoch-equivalent)
        sampled_tokens(s) = floor(budget · w(s))
        epochs_permille(s) = floor(1000 · sampled / n_src)

    Up-weighted (small) sources get epochs > 1000‰ (they repeat);
    down-weighted (huge) sources get < 1000‰ (they are subsampled).
    Overflow bound: budget · w_num ≤ n_total^1.5 < 2^63 holds through
    n_total ≈ 4e12 tokens; the decade-up path rebases w_num to
    per-million quanta like ``bigram_typicality``.

    Scale shape: ONE |sources|-bounded hash exchange (map-side combine
    collapses each partition to its per-source partials); the window
    normalization runs on the |sources|-row frame — independent of
    corpus rows."""
    per = tokens_df.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_src"),
    )
    w = per.withColumn("w_num", F.expr(_isqrt_sql("n_src")))
    everything = Window.partitionBy()
    en = w.select(
        "*",
        F.sum("w_num").over(everything).alias("_w_tot"),
        F.sum("n_src").over(everything).alias("_budget"),
    )
    return en.select(
        "source",
        "n_docs",
        "n_src",
        "w_num",
        F.expr(f"({MIXTURE_PPM} * w_num) div _w_tot").alias("weight_ppm"),
        F.expr("(_budget * w_num) div _w_tot").alias("sampled_tokens"),
        F.expr("(1000 * ((_budget * w_num) div _w_tot)) div n_src").alias(
            "epochs_permille"
        ),
    )


def mixture_weights_sql() -> str:
    return f"""{_src_cte()}, per AS (
  SELECT source, count(*) AS n_docs, sum(n_tok) AS n_src
  FROM p GROUP BY 1
), w AS (
  SELECT source, n_docs, CAST(n_src AS BIGINT) AS n_src,
         {_isqrt_sql('CAST(n_src AS BIGINT)')} AS w_num
  FROM per
), en AS (
  SELECT *, sum(w_num) OVER () AS w_tot, sum(n_src) OVER () AS budget
  FROM w
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_src, w_num,
       CAST(({MIXTURE_PPM} * w_num) // w_tot AS BIGINT) AS weight_ppm,
       CAST((budget * w_num) // w_tot AS BIGINT) AS sampled_tokens,
       CAST((1000 * ((budget * w_num) // w_tot)) // n_src AS BIGINT)
         AS epochs_permille
FROM en
"""


def _uniform_expr() -> str:
    """Deterministic per-document uniform in [0, 16^6): Horner fold of
    the first 6 hex chars of md5(doc_id). Every piece — md5 (lowercase
    hex in both engines), substr, instr over the hex alphabet — is
    bit-portable integer arithmetic, so Spark and DuckDB agree exactly
    (unlike rand(seed), whose generator is engine-specific)."""
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr(md5(doc_id), {i + 1}, 1)) - 1)"
        f" * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"CAST({terms} AS BIGINT)"


def sample_rates(mix_df: DataFrame) -> DataFrame:
    """Per-source keep probability in SAMPLE_Q quanta, derived from a
    ``mixture_weights`` frame:

        rate_q(s) = min(SAMPLE_Q, floor(SAMPLE_Q · sampled/n_src))

    Up-weighted sources cap at keep-all (real pipelines repeat epochs
    instead — that's a write-side concern, not a gate). Split out from
    ``sample_gate`` so the rate table can be FROZEN at release time
    (``jobs.py token-curate --rates-out`` persists it). Overflow
    bound: SAMPLE_Q · sampled < 2^63 needs n_src < 5.5e11
    tokens/source (the rate branch only divides when sampled <
    n_src); beyond that rebase the quantum."""
    return mix_df.select(
        "source",
        F.expr(
            f"CAST(CASE WHEN sampled_tokens >= n_src THEN {SAMPLE_Q}"
            f" ELSE ({SAMPLE_Q} * sampled_tokens) div n_src END AS BIGINT)"
        ).alias("rate_q"),
    )


def apply_sample_gate(tokens_df: DataFrame, rate_df: DataFrame) -> DataFrame:
    """Deterministic Bernoulli thinning against a per-source rate
    table: document d from source s is kept iff u(d) < rate_q(s),
    where u is the md5-derived uniform (``_uniform_expr``).
    Deterministic sampling (vs rand()) is what makes the 100-TB job
    RETRYABLE: a re-executed task keeps exactly the same rows, so
    speculative/retried stages can't double- or under-sample.

    Scale shape: the |sources|-row rate frame broadcasts; the corpus
    never shuffles — one narrow map computes u/kept per row."""
    return (
        tokens_df.select("doc_id", "source", "n_tok")
        .join(F.broadcast(rate_df), "source")
        .select(
            "doc_id",
            "source",
            "n_tok",
            F.expr(_uniform_expr()).alias("u_q"),
            "rate_q",
        )
        .withColumn(
            "kept", (F.col("u_q") < F.col("rate_q")).cast("int")
        )
    )


def sample_gate(tokens_df: DataFrame) -> DataFrame:
    """Mixture-weighted deterministic thinning of the corpus itself:
    ``apply_sample_gate`` against the rates its own ``mixture_weights``
    imply (the registry/oracle shape)."""
    return apply_sample_gate(tokens_df, sample_rates(mixture_weights(tokens_df)))


def sample_gate_sql() -> str:
    return f"""{_src_cte()}, rate AS (
  SELECT source,
         CAST(CASE WHEN sampled_tokens >= n_src THEN {SAMPLE_Q}
                   ELSE ({SAMPLE_Q} * sampled_tokens) // n_src
              END AS BIGINT) AS rate_q
  FROM ({mixture_weights_sql()}) m
)
SELECT p.doc_id, p.source, CAST(p.n_tok AS INT) AS n_tok,
       {_uniform_expr()} AS u_q, rate.rate_q,
       CAST(CASE WHEN {_uniform_expr()} < rate.rate_q THEN 1 ELSE 0 END
            AS INT) AS kept
FROM p JOIN rate USING (source)
"""


def salted_receipts(tokens_df: DataFrame) -> DataFrame:
    """The north rule's "salted repartitioning by source handles
    hot-service skew", applied to the per-source ingest receipts: a
    two-phase (source, salt) → source count+sum aggregate
    (``enrich.two_phase_count_sum``) so one hot service can never pin
    its whole volume on a single task. The oracle is the PLAIN
    GROUP BY — a hash match proves the salted plan is semantically
    invisible.

    Scale shape: phase 1 exchanges (source, salt) partials (map-side
    combine bounds them at |sources|·|salts| rows per partition);
    phase 2 combines the tiny partials — the hot key's volume is
    spread across ``salt_buckets`` tasks by construction."""
    from ..enrich import two_phase_count_sum

    return two_phase_count_sum(
        tokens_df.select("doc_id", "source", "n_tok"), "source", "n_tok"
    )


def salted_receipts_sql() -> str:
    return f"""{_src_cte()}
SELECT source, count(*) AS row_count, CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
FROM p GROUP BY source
"""


# ----------------------------------------------------------- BPE trainer


def _greedy_pair_positions(
    values: np.ndarray, offsets: np.ndarray, a: int, b: int
) -> np.ndarray:
    """Positions i where (values[i], values[i+1]) == (a, b), row
    boundaries respected, overlapping matches resolved leftmost-first
    (only possible when a == b)."""
    if values.size < 2:
        return np.empty(0, dtype=np.int64)
    m = (values[:-1] == a) & (values[1:] == b)
    if offsets.size > 2:
        # a match starting at the last element of a row would pair
        # across documents — mask it out (starts > 0 skips degenerate
        # leading empty rows, whose start-1 would wrap to -1)
        starts = offsets[1:-1]
        starts = starts[starts > 0]
        m[starts - 1] = False
    idx = np.flatnonzero(m)
    if idx.size == 0 or a != b:
        return idx
    # a == b: runs of consecutive positions overlap; keep every other
    keep = np.ones(idx.size, dtype=bool)
    prev = -2
    for j, i in enumerate(idx):
        if i == prev + 1:
            keep[j] = False
        else:
            prev = i
    return idx[keep]


def _apply_merge_flat(
    values: np.ndarray, offsets: np.ndarray, a: int, b: int, new_id: int
) -> tuple[np.ndarray, np.ndarray]:
    """One BPE merge over the whole batch: flat Arrow-style
    values/offsets buffers in, same out. One vectorized scan + one
    ``np.delete`` — no per-token Python."""
    idx = _greedy_pair_positions(values, offsets, a, b)
    if idx.size == 0:
        return values, offsets
    out = values.copy()
    out[idx] = new_id
    out = np.delete(out, idx + 1)
    # deleted positions strictly inside their row ⇒ every offset drops
    # by the number of deletions before it
    new_offsets = offsets - np.searchsorted(idx + 1, offsets)
    return out, new_offsets


def _flat(tok_col: pa.Array | pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    if isinstance(tok_col, pa.ChunkedArray):
        tok_col = tok_col.combine_chunks()
    values = tok_col.values.to_numpy(zero_copy_only=False).astype(np.int64)
    offsets = tok_col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    # a sliced ListArray's values buffer is the unsliced parent —
    # normalize so offsets start at 0 and values covers exactly them
    values = values[offsets[0] : offsets[-1]]
    offsets = offsets - offsets[0]
    return values, offsets


def _rebuild(values: np.ndarray, offsets: np.ndarray) -> pa.Array:
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.array(values.astype(np.int32), type=pa.int32()),
    )


def bpe_apply(
    tokens_df: DataFrame, merges: Sequence[tuple[int, int, int]]
) -> DataFrame:
    """Re-encode ``tokens`` with an ordered merge list
    ``[(a, b, new_id), ...]`` (rank order, as produced by
    ``bpe_train``). Whole-batch Arrow kernel; all other columns pass
    through untouched."""
    merge_list = [(int(a), int(b), int(n)) for a, b, n in merges]
    schema = tokens_df.schema
    ti = schema.names.index("tokens")

    def kernel(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            values, offsets = _flat(rb.column(ti))
            for a, b, nid in merge_list:
                values, offsets = _apply_merge_flat(values, offsets, a, b, nid)
            arrays = [rb.column(j) for j in range(rb.num_columns)]
            arrays[ti] = _rebuild(values, offsets)
            yield pa.RecordBatch.from_arrays(arrays, schema=rb.schema)

    return tokens_df.mapInArrow(kernel, schema)


_MERGE_SCHEMA = T.StructType(
    [
        T.StructField("rank", T.IntegerType()),
        T.StructField("a", T.IntegerType()),
        T.StructField("b", T.IntegerType()),
        T.StructField("new_id", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def bpe_train(tokens_df: DataFrame, n_merges: int = 8) -> DataFrame:
    """Distributed BPE vocabulary induction: ``n_merges`` rounds of
    (pair-count aggregation → O(1)-row argmax collect → Arrow merge
    rewrite). Deterministic: ties broken by smallest (a, b).

    Returns the merge table (rank, a, b, new_id, cnt). Iterative and
    therefore not SQL-expressible — the registry records it as a
    rows-only row; ``tests/test_token_stats.py`` pins equality
    against a pure-Python reference trainer on the same corpus.
    """
    spark = tokens_df.sparkSession
    cur = _spread(tokens_df.select("doc_id", "tokens")).persist()
    merges: list[tuple[int, int, int, int, int]] = []
    try:
        for r in range(n_merges):
            top = (
                bpe_pair_counts(cur)
                .orderBy(F.desc("cnt"), "a", "b")
                .limit(1)
                .collect()
            )
            if not top or top[0]["cnt"] < 2:
                break
            a, b, cnt = int(top[0]["a"]), int(top[0]["b"]), int(top[0]["cnt"])
            new_id = BPE_FIRST_ID + r
            merges.append((r, a, b, new_id, cnt))
            nxt = bpe_apply(cur, [(a, b, new_id)]).persist()
            nxt.count()  # materialize before releasing the parent
            cur.unpersist()
            cur = nxt
    finally:
        cur.unpersist()
    return spark.createDataFrame(merges, _MERGE_SCHEMA)


def bpe_reference_train(
    seqs: list[list[int]], n_merges: int = 8
) -> list[tuple[int, int, int, int, int]]:
    """Single-node reference implementation (test oracle for
    ``bpe_train``): same argmax/tie-break/overlap semantics, plain
    Python."""
    cur = [list(s) for s in seqs]
    out: list[tuple[int, int, int, int, int]] = []
    for r in range(n_merges):
        counts: dict[tuple[int, int], int] = {}
        for s in cur:
            i = 0
            while i < len(s) - 1:
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + 1
                i += 1
        if not counts:
            break
        best = max(counts.items(), key=lambda kv: (kv[1], (-kv[0][0], -kv[0][1])))
        (a, b), cnt = best
        if cnt < 2:
            break
        new_id = BPE_FIRST_ID + r
        out.append((r, a, b, new_id, cnt))
        nxt = []
        for s in cur:
            ns, i = [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == a and s[i + 1] == b:
                    ns.append(new_id)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            nxt.append(ns)
        cur = nxt
    return out


def bpe_compression(
    tokens_df: DataFrame,
    n_merges: int = 8,
    merges: Sequence[tuple[int, int, int]] | None = None,
) -> DataFrame:
    """Per-source corpus compression achieved by the trained merges:
    original vs encoded token totals (ints — the ratio is theirs to
    divide). Trains on the given frame unless a pre-trained merge
    list is supplied (the registry passes its cached one so the
    compression row doesn't re-run the training loop)."""
    if merges is None:
        merges_rows = bpe_train(tokens_df, n_merges=n_merges).collect()
        merges = [(r["a"], r["b"], r["new_id"]) for r in merges_rows]
    enc = bpe_apply(tokens_df.select("source", "doc_id", "tokens"), merges)
    return (
        enc.select("source", F.size("tokens").alias("n_enc"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_enc").alias("enc_tokens"))
        .join(
            tokens_df.select("source", F.size("tokens").alias("n_orig"))
            .groupBy("source")
            .agg(F.sum("n_orig").alias("orig_tokens")),
            "source",
        )
        .select("source", "n_docs", "orig_tokens", "enc_tokens")
    )
