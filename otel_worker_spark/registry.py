"""The driver-facing query registry: every implemented operator from
SURVEY.md §2 (plus the training-data ops) as a (Spark callable,
DuckDB oracle SQL) pair.

Three families:

1. ``pipeline_*`` — run the REAL engine: derive token sequences from
   the driver's ``events`` table, push them through tokenize → the
   Arrow parse kernel (detokenize, decode, flatten, normalize) →
   enrich → route, then query the result. The oracle computes the
   same answers DIRECTLY from ``events`` (fixtures.parsed_spans_sql),
   so a value-hash match proves the whole parse/route path —
   including payload byte equality — end to end.
2. ``rel_*`` — the relational operator inventory (agg, top-k,
   broadcast joins, semi/anti, window, distinct) over the TPC-H-ish
   tables. Money sums use exact cents (BIGINT) so Spark's unordered
   double summation cannot diverge from the oracle.
3. ``dedup_* / text_* / ann_*`` — the training-data ops; oracles live
   next to each op in ``ops/``.

Timestamps cross the comparison boundary as fixed-format UTC strings.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .fixtures import (
    DOC_ID,
    parsed_spans_sql,
    payload_sql,
    render,
    service_lookup_df,
    service_lookup_values_sql,
    token_sequences_from_events,
)
from .ops.common import MERSENNE31
from .ops import ann_index as ai
from .ops import corpus as cp
from .ops import dedup as dd
from .ops import multimodal as mm
from .ops import similarity as sim
from .ops import text as tx
from .ops import timeseries as ts
from .ops import token_stats as tks
from .pipeline import transform_batch
from .queries import traces_list

TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TIME_CUTOFF = "2024-01-15 00:00:00"

#: F1 point-lookup literals for the event_id=1 span, computed once
#: (the same md5 derivation the fixture recipe uses)
LOOKUP_SPAN_ID = hashlib.md5(b"span-1").hexdigest()[:16]
LOOKUP_TRACE_ID = hashlib.md5(b"trace-0").hexdigest()


def _fmt(col: str, alias: str) -> F.Column:
    return F.date_format(col, TS_FMT).alias(alias)


# --------------------------------------------------------------- pipeline


#: the typed scalar columns the pipeline_* queries project — passed to
#: the kernel so it skips building maps/events/links/inner/tokens
#: (Catalyst cannot prune through a Python stage)
_QUERY_COLS = [
    "doc_id", "source", "n_tok", "trace_id", "span_id", "parent_span_id",
    "name", "kind", "severity", "service_name", "flags", "status_code",
    "status_message", "start_time", "end_time",
]


#: opt-in memo of the shared parse subplan (enable_parse_cache):
#: 15 pipeline_* queries rebuild the identical parse→enrich→route
#: stage, and a sweep/gate running all of them re-parses 15× unless
#: the frame is persisted once. Keyed by (sf_dir, with_inner) —
#: reusing the same DataFrame OBJECT guarantees the InMemoryRelation
#: hit (plan-canonicalization across separately-built Python stages
#: is not something to rely on).
_PARSE_CACHE: dict[tuple, DataFrame] = {}
_PARSE_CACHE_ON = False


def enable_parse_cache() -> None:
    global _PARSE_CACHE_ON
    _PARSE_CACHE_ON = True


def clear_parse_cache() -> None:
    global _PARSE_CACHE_ON
    _PARSE_CACHE_ON = False
    for df in _PARSE_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
    _PARSE_CACHE.clear()
    _BPE_MERGES.clear()
    # the dedup family persists signature frames per plan — release
    # those too, so a sweep/gate session ends with a clean cache
    dd.release_persisted_signatures()


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rendered token table, persisted once per sf_dir when the
    sweep/gate cache is on: five registry queries derive from it, and
    the per-row payload rendering (not their own logic) dominated
    their sweep times (token_hist 6.8 s → its explode+agg is <1 s on
    the cached table)."""
    key = ("tokens", sf_dir)
    if _PARSE_CACHE_ON and key in _PARSE_CACHE:
        return _PARSE_CACHE[key]
    tok = token_sequences_from_events(spark, sf_dir)
    if _PARSE_CACHE_ON:
        from pyspark.storagelevel import StorageLevel

        tok = tok.persist(StorageLevel.MEMORY_AND_DISK)
        _PARSE_CACHE[key] = tok
    return tok


def _spans(spark: SparkSession, sf_dir: str, with_inner: bool = False) -> DataFrame:
    """events → token table → the full parse/enrich/route pipeline."""
    key = (sf_dir, with_inner)
    if _PARSE_CACHE_ON and key in _PARSE_CACHE:
        return _PARSE_CACHE[key]
    tok = _tokens(spark, sf_dir)
    out = transform_batch(
        tok,
        service_lookup_df(spark),
        with_inner=with_inner,
        columns=None if with_inner else _QUERY_COLS,
    )
    if _PARSE_CACHE_ON:
        from pyspark.storagelevel import StorageLevel

        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        _PARSE_CACHE[key] = out
    return out


def _valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spans(spark, sf_dir).filter("signal != 'quarantine'")


def pipeline_parse_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P16 + routing, full typed output for every valid span."""
    return _valid(spark, sf_dir).select(
        "doc_id",
        "source",
        "n_tok",
        "trace_id",
        "span_id",
        "parent_span_id",
        "name",
        "kind",
        "severity",
        "service_name",
        "flags",
        "status_code",
        "status_message",
        _fmt("start_time", "start_ts"),
        _fmt("end_time", "end_ts"),
        "signal",
    )


def pipeline_parse_spans_sql() -> str:
    return f"""
WITH spans AS ({parsed_spans_sql()})
SELECT doc_id, source, n_tok, trace_id, span_id, parent_span_id, name, kind,
       severity, service_name, flags, status_code, status_message,
       start_ts, end_ts, signal
FROM spans
"""


def pipeline_token_receipts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's per-row invariant, measured as a query: every
    ROUTED row must preserve token-array equality with what was
    ingested. The receipt is an order-sensitive rolling hash of the
    carried payload bytes (token values under the identity byte
    vocab), computed on the routed frame — the oracle recomputes it
    from the original payload recipe, so a hash match proves the bytes
    survived parse → enrich → route untouched."""
    tok = _tokens(spark, sf_dir)
    routed = transform_batch(
        tok,
        service_lookup_df(spark),
        with_inner=False,
        columns=["doc_id", "n_tok", "payload"],
    ).filter("signal != 'quarantine'")
    chars = "filter(split(decode(payload, 'UTF-8'), ''), c -> c <> '')"
    return routed.select(
        "doc_id",
        "n_tok",
        F.expr("octet_length(payload)").alias("n_bytes"),
        F.expr(
            f"aggregate(transform({chars}, c -> CAST(ascii(c) AS BIGINT)),"
            f" CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % {MERSENNE31})"
        ).alias("payload_hash"),
    ).distinct()


def pipeline_token_receipts_sql() -> str:
    payload = render(payload_sql("duckdb"), "duckdb")
    doc_id = render(DOC_ID, "duckdb")
    return f"""
WITH p AS (
  SELECT {doc_id} AS doc_id, {payload} AS payload
  FROM events WHERE event_id % 97 <> 0
)
SELECT doc_id,
       length(payload) AS n_tok,
       length(payload) AS n_bytes,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      [CAST(unicode(substr(payload, i, 1)) AS BIGINT)
                       for i in range(1, length(payload) + 1)]),
         (acc, x) -> (acc * 31 + x) % {MERSENNE31}
       ) AS payload_hash
FROM p
"""


def pipeline_token_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token histogram over the raw token table (the input
    contract itself): explode → partial+final hash agg. Uniform small
    key space (the byte vocab) — the shuffle is 256 rows per map
    partition regardless of input size."""
    tok = _tokens(spark, sf_dir)
    return (
        tok.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


def pipeline_token_hist_sql() -> str:
    payload = render(payload_sql("duckdb"), "duckdb")
    return f"""
WITH p AS (SELECT {payload} AS payload FROM events),
c AS (
  SELECT unnest([unicode(substr(payload, i, 1))
                 for i in range(1, length(payload) + 1)]) AS token
  FROM p
)
SELECT token, count(*) AS cnt FROM c GROUP BY token
"""


def pipeline_protobuf_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: the SAME span set ingested over OTLP protobuf wire bytes —
    hand-decoded ExportTraceServiceRequest (proto.py), matching
    handlers/otel.rs:97-106 semantics. Projection excludes n_tok: the
    wire length of the protobuf encoding differs from the JSON
    payload's (the oracle derives every other column from events)."""
    from .fixtures import protobuf_sequences_from_events

    tok = protobuf_sequences_from_events(spark, sf_dir)
    routed = transform_batch(
        tok,
        service_lookup_df(spark),
        with_inner=False,
        engine="protobuf",
        columns=_QUERY_COLS,
    )
    return routed.filter("signal != 'quarantine'").select(
        "doc_id",
        "source",
        "trace_id",
        "span_id",
        "parent_span_id",
        "name",
        "kind",
        "severity",
        "service_name",
        "flags",
        "status_code",
        "status_message",
        _fmt("start_time", "start_ts"),
        _fmt("end_time", "end_ts"),
        "signal",
    )


def pipeline_protobuf_parse_sql() -> str:
    return f"""
WITH spans AS ({parsed_spans_sql()})
SELECT doc_id, source, trace_id, span_id, parent_span_id, name, kind,
       severity, service_name, flags, status_code, status_message,
       start_ts, end_ts, signal
FROM spans
"""


def pipeline_protobuf_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 poison path: malformed wire bytes quarantine as
    undecodable_payload (protobuf ids are raw bytes, so the JSON
    fixture's non-hex poison becomes a malformed-wire poison)."""
    from .fixtures import protobuf_sequences_from_events

    tok = protobuf_sequences_from_events(spark, sf_dir)
    routed = transform_batch(
        tok,
        service_lookup_df(spark),
        with_inner=False,
        engine="protobuf",
        columns=_QUERY_COLS,
    )
    return routed.filter("signal = 'quarantine'").select("doc_id", "invalid_reason")


def pipeline_protobuf_quarantine_sql() -> str:
    return """
SELECT 'evt-' || CAST(event_id AS VARCHAR) AS doc_id,
       'undecodable_payload' AS invalid_reason
FROM events WHERE event_id % 97 = 0
"""


def pipeline_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15 quarantine path: the poison rows, with reasons."""
    return (
        _spans(spark, sf_dir)
        .filter("signal = 'quarantine'")
        .select("doc_id", "invalid_reason")
    )


def pipeline_quarantine_sql() -> str:
    return """
SELECT 'evt-' || CAST(event_id AS VARCHAR) AS doc_id,
       'invalid_trace_id' AS invalid_reason
FROM events WHERE event_id % 97 = 0
"""


def pipeline_traces_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+O1: the reference's traces_list (GROUP BY + MAX + top-k)."""
    top = traces_list(_valid(spark, sf_dir), limit=20)
    return top.select("trace_id", _fmt("end_time", "end_ts"))


def pipeline_traces_list_sql() -> str:
    return f"""
WITH spans AS ({parsed_spans_sql()})
SELECT trace_id, strftime(max(end_time), '%Y-%m-%d %H:%M:%S.%f') AS end_ts
FROM spans GROUP BY trace_id
ORDER BY max(end_time) DESC, trace_id DESC LIMIT 20
"""


def pipeline_time_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: traces_list with the optional end_time <= t cutoff."""
    top = traces_list(_valid(spark, sf_dir), limit=20, time=TIME_CUTOFF)
    return top.select("trace_id", _fmt("end_time", "end_ts"))


def pipeline_time_filter_sql() -> str:
    return f"""
WITH spans AS ({parsed_spans_sql()})
SELECT trace_id, strftime(max(end_time), '%Y-%m-%d %H:%M:%S.%f') AS end_ts
FROM spans WHERE end_time <= TIMESTAMP '{TIME_CUTOFF}'
GROUP BY trace_id ORDER BY max(end_time) DESC, trace_id DESC LIMIT 20
"""


def pipeline_trace_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+A2: top-5 traces, spans broadcast-semi-joined + collected
    (span list emitted as a deterministic string for hashing)."""
    spans = _valid(spark, sf_dir)
    top = traces_list(spans, limit=5)
    picked = spans.join(F.broadcast(top.select("trace_id")), "trace_id", "left_semi")
    return (
        picked.groupBy("trace_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.array_join(F.array_sort(F.collect_list("span_id")), ",").alias("span_ids"),
        )
    )


def pipeline_trace_summaries_sql() -> str:
    return f"""
WITH spans AS ({parsed_spans_sql()}),
top AS (
  SELECT trace_id FROM spans GROUP BY trace_id
  ORDER BY max(end_time) DESC, trace_id DESC LIMIT 5
)
SELECT s.trace_id, count(*) AS n_spans,
       string_agg(s.span_id, ',' ORDER BY s.span_id) AS span_ids
FROM spans s JOIN top USING (trace_id)
GROUP BY s.trace_id
"""


def pipeline_span_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: two-column point lookup (sql.rs:32-34)."""
    return (
        _valid(spark, sf_dir)
        .where(
            (F.col("trace_id") == LOOKUP_TRACE_ID) & (F.col("span_id") == LOOKUP_SPAN_ID)
        )
        .select("trace_id", "span_id", "name", "kind", _fmt("start_time", "start_ts"))
    )


def pipeline_span_lookup_sql() -> str:
    return f"""
WITH spans AS ({parsed_spans_sql()})
SELECT trace_id, span_id, name, kind, start_ts
FROM spans WHERE trace_id = '{LOOKUP_TRACE_ID}' AND span_id = '{LOOKUP_SPAN_ID}'
"""


def pipeline_enrich_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: broadcast enrich against the service dimension + rollup."""
    return (
        _valid(spark, sf_dir)
        .groupBy("team", "tier")
        .agg(F.count("*").alias("n_spans"), F.sum("n_tok").alias("sum_n_tok"))
    )


def pipeline_enrich_agg_sql() -> str:
    return f"""
WITH spans AS ({parsed_spans_sql()})
SELECT l.team, l.tier, count(*) AS n_spans, CAST(sum(s.n_tok) AS BIGINT) AS sum_n_tok
FROM spans s LEFT JOIN {service_lookup_values_sql('l')}
  ON s.service_name = l.service_name
GROUP BY l.team, l.tier
"""


def pipeline_route_receipts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4: the per-sink count + sum receipt aggregates."""
    return (
        _valid(spark, sf_dir)
        .groupBy(F.col("signal").alias("sink"))
        .agg(F.count("*").alias("row_count"), F.sum("n_tok").alias("sum_n_tok"))
    )


def pipeline_route_receipts_sql() -> str:
    return f"""
WITH spans AS ({parsed_spans_sql()})
SELECT signal AS sink, count(*) AS row_count, CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
FROM spans GROUP BY signal
"""


def pipeline_parent_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: the trace-tree self-join (child → parent within a trace)."""
    spans = _valid(spark, sf_dir)
    child = spans.where(F.col("parent_span_id").isNotNull()).select(
        "trace_id",
        F.col("span_id").alias("child_span_id"),
        "parent_span_id",
        F.col("name").alias("child_name"),
    )
    parent = spans.select(
        "trace_id",
        F.col("span_id").alias("parent_span_id"),
        F.col("name").alias("parent_name"),
    )
    return child.join(parent, ["trace_id", "parent_span_id"]).select(
        "trace_id", "child_span_id", "child_name", "parent_span_id", "parent_name"
    )


def pipeline_parent_child_sql() -> str:
    return f"""
WITH spans AS ({parsed_spans_sql()})
SELECT c.trace_id, c.span_id AS child_span_id, c.name AS child_name,
       c.parent_span_id, p.name AS parent_name
FROM spans c JOIN spans p
  ON c.trace_id = p.trace_id AND c.parent_span_id = p.span_id
"""


def pipeline_trace_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trace-tree assembly: every span with its depth and root path
    (the consumer of the reference's (trace_id, parent_span_id)
    index). Orphans — spans whose parent was quarantined — surface as
    roots; the fixture plants those via the poisoned root spans."""
    from .queries import build_trace_tree

    return build_trace_tree(_valid(spark, sf_dir))


def pipeline_trace_tree_sql() -> str:
    return f"""
WITH RECURSIVE spans AS ({parsed_spans_sql()}),
tree(trace_id, span_id, parent_span_id, depth, path) AS (
  SELECT s.trace_id, s.span_id, s.parent_span_id, 0, s.span_id
  FROM spans s
  WHERE s.parent_span_id IS NULL
     OR NOT EXISTS (SELECT 1 FROM spans p
                    WHERE p.trace_id = s.trace_id AND p.span_id = s.parent_span_id)
  UNION ALL
  SELECT c.trace_id, c.span_id, c.parent_span_id, t.depth + 1, t.path || '/' || c.span_id
  FROM spans c JOIN tree t ON c.trace_id = t.trace_id AND c.parent_span_id = t.span_id
)
SELECT trace_id, span_id, parent_span_id, depth, path FROM tree
"""


def pipeline_severity_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-style histogram on an extracted attribute column."""
    return (
        _valid(spark, sf_dir)
        .groupBy("severity", "status_code")
        .agg(F.count("*").alias("n"))
    )


def pipeline_severity_hist_sql() -> str:
    return f"""
WITH spans AS ({parsed_spans_sql()})
SELECT severity, status_code, count(*) AS n FROM spans GROUP BY 1, 2
"""


# ------------------------------------------------------------- relational


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col: str) -> F.Column:
    return F.expr(f"CAST(round(100 * {col}) AS BIGINT)")


def rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter → partial/final hash agg. Exact
    cents arithmetic keeps double-sum ordering out of the result."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents("l_quantity")).alias("sum_qty_c"),
            F.sum(_cents("l_extendedprice")).alias("sum_base_c"),
            F.sum(
                _cents("l_extendedprice") * (100 - _cents("l_discount"))
            ).alias("sum_disc_price_c4"),
            F.count("*").alias("count_order"),
        )
    )


def rel_pricing_summary_sql() -> str:
    return """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(100 * l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty_c,
       CAST(sum(CAST(round(100 * l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_base_c,
       CAST(sum(CAST(round(100 * l_extendedprice) AS BIGINT)
           * (100 - CAST(round(100 * l_discount) AS BIGINT))) AS BIGINT) AS sum_disc_price_c4,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def rel_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: TakeOrderedAndProject (no global sort) with tiebreak."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", _cents("o_totalprice").alias("totalprice_c"))
        .orderBy(F.desc("totalprice_c"), F.asc("o_orderkey"))
        .limit(10)
    )


def rel_topk_orders_sql() -> str:
    return """
SELECT o_orderkey, o_custkey, CAST(round(100 * o_totalprice) AS BIGINT) AS totalprice_c
FROM orders ORDER BY totalprice_c DESC, o_orderkey ASC LIMIT 10
"""


def rel_join_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join chain: fact ⨝ two small dims, then agg — the
    dims broadcast, zero shuffle until the final group-by."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(_cents("c_acctbal")).alias("acctbal_c"),
        )
    )


def rel_join_chain_sql() -> str:
    return """
SELECT r_name, n_name, count(*) AS n_customers,
       CAST(sum(CAST(round(100 * c_acctbal) AS BIGINT)) AS BIGINT) AS acctbal_c
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def rel_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS): customers with no orders since 2000,
    per nation (the filter makes the anti side non-empty)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") >= "2000-01-01")
    n = _t(spark, sf_dir, "nation")
    no_orders = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        no_orders.join(F.broadcast(n), no_orders.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


def rel_anti_join_sql() -> str:
    return """
SELECT n_name, count(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY n_name
"""


def rel_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): parts that appear in lineitem."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


def rel_semi_join_sql() -> str:
    return """
SELECT p_brand, count(*) AS n_parts
FROM part WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
GROUP BY p_brand
"""


def rel_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-N per group: 2 biggest orders per customer."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("totalprice_c"), F.asc("o_orderkey")
    )
    return (
        o.select("o_custkey", "o_orderkey", _cents("o_totalprice").alias("totalprice_c"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 2)
    )


def rel_window_topn_sql() -> str:
    return """
SELECT o_custkey, o_orderkey, totalprice_c, rank FROM (
  SELECT o_custkey, o_orderkey,
         CAST(round(100 * o_totalprice) AS BIGINT) AS totalprice_c,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY CAST(round(100 * o_totalprice) AS BIGINT) DESC,
                                     o_orderkey ASC) AS rank
  FROM orders
) t WHERE rank <= 2
"""


def rel_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + plain count per group."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.count("*").alias("n_orders"),
    )


def rel_distinct_agg_sql() -> str:
    return """
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


def rel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate (order status × priority hierarchy + grand
    totals): Catalyst's Expand operator generates the grouping sets in
    one pass — no per-level re-scan. grouping_id disambiguates real
    NULLs from subtotal rows, exactly as the oracle's GROUPING() does."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_cents("o_totalprice")).alias("total_cents"),
            F.grouping_id().alias("gid"),
        )
    )


def rel_rollup_sql() -> str:
    return """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(round(100 * o_totalprice) AS BIGINT)) AS BIGINT) AS total_cents,
       GROUPING(o_orderstatus, o_orderpriority) AS gid
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def rel_events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregate over the event stream table (the batch
    twin of a streaming windowed agg): daily counts + exact value
    cents by event_type."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts").cast("timestamp")), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.sum(_cents("value")).alias("value_c"))
    )


def rel_events_window_agg_sql() -> str:
    return """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       count(*) AS n, CAST(sum(CAST(round(100 * value) AS BIGINT)) AS BIGINT) AS value_c
FROM events GROUP BY 1, 2
"""


def rel_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (p50/p90/p99 of order totals by
    priority) via explicit rank selection — percentile_disc semantics
    spelled out so Spark and DuckDB agree bit-for-bit (their built-in
    percentile functions interpolate differently). Index formula:
    value at row_number ``(n-1)*p/100 + 1`` (floor), ordering by
    (cents, o_orderkey) so ties are deterministic.

    Scale shape: one exchange on the group key; the sort is
    in-partition per group (bounded by the group's own rows), and the
    three percentiles come out of the SAME sorted pass — no re-scan
    per percentile. Reference analog: none (SQLite read path has no
    percentile); standard OLAP inventory."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        _cents("o_totalprice").alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    ranked = o.select(
        "o_orderpriority",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("o_orderpriority")).alias("n"),
    )
    picks = [("p50", 50), ("p90", 90), ("p99", 99)]
    aggs = [
        F.max(
            F.when(F.col("rn") == F.expr(f"(n - 1) * {p} div 100 + 1"), F.col("cents"))
        ).alias(name)
        for name, p in picks
    ]
    return ranked.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_orders"), *aggs
    )


def rel_percentiles_sql() -> str:
    return """
WITH ranked AS (
  SELECT o_orderpriority,
         CAST(round(100 * o_totalprice) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(round(100 * o_totalprice) AS BIGINT), o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderpriority,
       max(n) AS n_orders,
       max(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN cents END) AS p50,
       max(CASE WHEN rn = (n - 1) * 90 // 100 + 1 THEN cents END) AS p90,
       max(CASE WHEN rn = (n - 1) * 99 // 100 + 1 THEN cents END) AS p99
FROM ranked GROUP BY o_orderpriority
"""


# ----------------------------------------------------------- ops wrappers


#: trained BPE merge lists per (sf_dir, n_merges) — n_merges rows of
#: ints, driver-side. Deterministic given the (immutable) test data,
#: so the compression row reuses the merges row's training instead of
#: re-running the Lloyd-style loop.
_BPE_MERGES: dict[tuple[str, int], list[tuple[int, int, int, int, int]]] = {}


def _bpe_rows(
    spark: SparkSession, sf_dir: str, n_merges: int = 8
) -> list[tuple[int, int, int, int, int]]:
    key = (sf_dir, n_merges)
    if key not in _BPE_MERGES:
        rows = tks.bpe_train(_tokens(spark, sf_dir), n_merges=n_merges).collect()
        _BPE_MERGES[key] = [
            (r["rank"], r["a"], r["b"], r["new_id"], r["cnt"]) for r in rows
        ]
    return _BPE_MERGES[key]


def token_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary induction over the token table
    (rows-only driver check — the trainer is iterative; pytest pins
    it against a single-node reference implementation)."""
    return spark.createDataFrame(_bpe_rows(spark, sf_dir), tks._MERGE_SCHEMA)


def token_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source compression achieved by the trained merges (reuses
    the cached training from ``token_bpe_merges``)."""
    merges = [(a, b, n) for _, a, b, n, _ in _bpe_rows(spark, sf_dir)]
    return tks.bpe_compression(_tokens(spark, sf_dir), merges=merges)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------- registry


#: r7 rotation (VERDICT r6 next-round #6): the driver's CORRECTNESS
#: gate samples the FIRST 50 entries of ``queries()`` in dict order,
#: so the front window must hold the entries whose last driver row is
#: OLDEST. This list = the 1 entry last verified r4 (rel_percentiles)
#: + the 47 last verified r5 (their relative order preserved) + two
#: r6-verified entries whose code paths this optimization round
#: touched (pipeline_route_receipts — the ingest receipts tail;
#: ann_ivfpq_serve_topk — the serve-path reworks). Everything else
#: (last verified r6) follows in its existing order, so no row's
#: driver verification goes >2 rounds stale.
_R7_VERIFY_FRONT = [
    "rel_percentiles", "dedup_exact", "dedup_minhash_sig", "dedup_minhash_lsh_pairs",
    "dedup_simhash", "dedup_simhash_pairs", "dedup_ngram_jaccard", "dedup_verified_pairs",
    "dedup_groups", "dedup_survivors", "text_stats", "text_token_counts",
    "text_lang_id", "text_fingerprint", "text_repetition", "text_decontaminate",
    "text_unigram_rarity", "ann_pq_bigspace_topk", "ann_ivf_bigk_assign", "ann_ivfpq_topk",
    "multimodal_decode_features", "multimodal_decode_summary", "ann_cosine_topk", "ann_lsh_bucket_stats",
    "ann_embedding_near_dup", "ann_ivf_assignments", "ann_ivf_topk", "ann_pq_trained_topk",
    "ann_ivf_kmeans_topk", "ann_pq_topk", "ann_pq_topk_rerank", "corpus_tfidf_topk",
    "corpus_bloom_decontaminate", "corpus_passage_dedup", "corpus_pii_redact", "corpus_sample_per_source",
    "corpus_normalize_text", "corpus_boilerplate_removal", "corpus_source_mixture", "corpus_materialize_chunks",
    "corpus_materialize_token_chunks", "multimodal_summary", "corpus_pack_chunks", "corpus_curate_pack",
    "corpus_quality_filter", "corpus_split_assign", "corpus_ngram_topk", "multimodal_features",
    "pipeline_route_receipts", "ann_ivfpq_serve_topk",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE on ordering: the literal below keeps the r6 authoring order
    # (grouped by family, never-verified-first); the returned dict is
    # re-keyed so _R7_VERIFY_FRONT leads — see its comment.
    q = {
        # --- round-6 late additions (never driver-verified) lead:
        # exact-integer α=1/2 temperature mixture reweighting
        # (UniMax/XLM-R-style source sampling weights, all BIGINT —
        # isqrt instead of pow so nothing floats cross-engine)
        "token_mixture_weights": lambda s, d: tks.mixture_weights(_tokens(s, d)),
        # deterministic md5-uniform Bernoulli thinning realizing those
        # rates (retry-stable sampling: a re-executed task keeps
        # exactly the same rows — rand() cannot promise that)
        "token_sample_gate": lambda s, d: tks.sample_gate(_tokens(s, d)),
        # the north rule's salted two-phase skew aggregate on the
        # per-source receipts; oracle = plain GROUP BY, so the hash
        # match proves the salt is semantically invisible
        "token_salted_receipts": lambda s, d: tks.salted_receipts(_tokens(s, d)),
        # --- round-6 token-corpus family (never driver-verified):
        # the north-rule payload is pre-tokenized sequences, so the
        # engine gets token-NATIVE corpus statistics — BPE pair
        # counts, exact-substring duplicate spans (Lee et al. 2021
        # ExactSubstr as DataFrame algebra), per-doc dup rates, and a
        # distributed BPE trainer (rows-only: iterative; pytest pins
        # it to a single-node reference trainer)
        # bigram-LM document typicality (CCNet-style quality score,
        # exactly verifiable: per-pair probs quantized once on the
        # |V|²-bounded table, per-doc score = BIGINT sum)
        "token_bigram_typicality": lambda s, d: tks.bigram_typicality(
            _tokens(s, d)
        ),
        # the actionable ExactSubstr step (Lee et al. 2021): drop docs
        # whose dup rate exceeds NUM/DEN (integer cross-multiply)
        "token_doc_dup_filter": lambda s, d: tks.doc_dup_filter(_tokens(s, d)),
        # Zipf rank-frequency with exact cumulative coverage (top-k
        # vocabulary coverage as two BIGINTs, no float)
        "token_zipf_coverage": lambda s, d: tks.zipf_coverage(_tokens(s, d)),
        # per-source unigram L1 divergence from the corpus mixture
        # (cross-multiplied BIGINT — the data-mixture diagnostic)
        "token_source_divergence": lambda s, d: tks.source_divergence(
            _tokens(s, d)
        ),
        # token-native benchmark decontamination: L-gram overlap vs a
        # deterministic held-out subset, corpus never shuffles
        "token_decontaminate": lambda s, d: tks.token_decontaminate(
            _tokens(s, d)
        ),
        # the composed release decision: kept ⇔ not mostly-duplicated
        # AND not benchmark-contaminated, as ONE declarative plan
        "token_curation_gate": lambda s, d: tks.curation_gate(_tokens(s, d)),
        # ANN index acceptance gate: recall@k of the trained IVF vs
        # exact cosine top-k, as exact integer statistics (the oracle
        # replays BOTH pipelines, Lloyd training included)
        "ann_recall_eval": lambda s, d: sim.recall_eval(_embs(s, d)),
        # the same gate on the PRODUCTION serve path (persisted index
        # read from the TableStore — catches index corruption/staleness
        # the inline gate cannot)
        "ann_serve_recall_eval": ai.ann_ivf_serve_recall,
        "token_pair_counts": lambda s, d: tks.bpe_pair_counts(_tokens(s, d)),
        "token_dup_spans": lambda s, d: tks.dup_spans(_tokens(s, d)),
        "token_doc_dup_stats": lambda s, d: tks.doc_dup_stats(_tokens(s, d)),
        "token_bpe_merges": token_bpe_merges,
        "token_bpe_compression": token_bpe_compression,
        # SemDeDup (Abbas et al. 2023): k-means-trained clusters →
        # intra-cluster cosine near-dup pruning; oracle replays the
        # full Lloyd training via the shared CTE
        "ann_semantic_dedup": lambda s, d: sim.semantic_dedup(_embs(s, d)),
        # --- round-6 additions (never driver-verified) lead
        # ANN build/serve split (VERDICT r5 next-round #2): the serve
        # path reads PERSISTED index tables (TableStore: trained
        # centroids/codebooks + encoded corpus, posting lists as
        # partitions) instead of retraining per call; the oracle
        # replays the deterministic training, so a hash match proves
        # the build → persist → read → serve round trip bit-exact
        "ann_ivf_serve_topk": ai.ann_ivf_serve,
        "ann_pq_serve_topk": ai.ann_pq_serve,
        "ann_ivfpq_serve_topk": ai.ann_ivfpq_serve,
        # widened codec matrix (VERDICT r5 next-round #4): RGB/RGBA PNG
        # (multi-byte filter offsets) + stereo WAV (interleaved), same
        # closed-form-oracle trick as the gray/mono decode rows
        "multimodal_decode_color_features": lambda s, d: mm.decoded_color_features(
            _docs(s, d)
        ),
        "multimodal_decode_color_summary": lambda s, d: mm.decoded_color_summary(
            _docs(s, d)
        ),
        # --- oldest driver rows (r4) rotate forward into the gate's
        # first-50 sample window: pipeline (SURVEY §2.1-2.6) + rel
        "pipeline_parse_spans": pipeline_parse_spans,
        "pipeline_token_receipts": pipeline_token_receipts,
        "pipeline_token_hist": pipeline_token_hist,
        "pipeline_protobuf_parse": pipeline_protobuf_parse,
        "pipeline_protobuf_quarantine": pipeline_protobuf_quarantine,
        "pipeline_quarantine": pipeline_quarantine,
        "pipeline_traces_list": pipeline_traces_list,
        "pipeline_time_filter": pipeline_time_filter,
        "pipeline_trace_summaries": pipeline_trace_summaries,
        "pipeline_span_lookup": pipeline_span_lookup,
        "pipeline_enrich_agg": pipeline_enrich_agg,
        "pipeline_route_receipts": pipeline_route_receipts,
        "pipeline_parent_child": pipeline_parent_child,
        "pipeline_trace_tree": pipeline_trace_tree,
        "pipeline_severity_hist": pipeline_severity_hist,
        "rel_pricing_summary": rel_pricing_summary,
        "rel_topk_orders": rel_topk_orders,
        "rel_join_chain": rel_join_chain,
        "rel_anti_join": rel_anti_join,
        "rel_semi_join": rel_semi_join,
        "rel_window_topn": rel_window_topn,
        "rel_distinct_agg": rel_distinct_agg,
        "rel_events_window_agg": rel_events_window_agg,
        "rel_rollup": rel_rollup,
        "rel_sessionize": lambda s, d: ts.sessionize(_t(s, d, "events")),
        "rel_asof_join": lambda s, d: ts.asof_join(_t(s, d, "events")),
        "rel_range_join": lambda s, d: ts.range_join(_t(s, d, "events")),
        "rel_funnel": lambda s, d: ts.funnel(_t(s, d, "events")),
        "rel_percentiles": rel_percentiles,
        # --- r5-verified dedup/text fill the remainder of the window
        "dedup_exact": lambda s, d: dd.dedup_exact(_docs(s, d)),
        "dedup_minhash_sig": lambda s, d: dd.minhash_signatures_flat(_docs(s, d)),
        "dedup_minhash_lsh_pairs": lambda s, d: dd.minhash_lsh_pairs(_docs(s, d)),
        "dedup_simhash": lambda s, d: dd.simhash(_docs(s, d)),
        "dedup_simhash_pairs": lambda s, d: dd.simhash_near_pairs(_docs(s, d)),
        "dedup_ngram_jaccard": lambda s, d: dd.ngram_jaccard_pairs(_docs(s, d)),
        "dedup_verified_pairs": lambda s, d: dd.verified_pairs(_docs(s, d)),
        "dedup_groups": lambda s, d: dd.dedup_groups(_docs(s, d)),
        "dedup_survivors": lambda s, d: dd.dedup_survivors(_docs(s, d)),
        "text_stats": lambda s, d: tx.text_stats(_docs(s, d)),
        "text_token_counts": lambda s, d: tx.token_counts(_docs(s, d)),
        "text_lang_id": lambda s, d: tx.lang_id(_docs(s, d)),
        "text_fingerprint": lambda s, d: tx.fingerprint(_docs(s, d)),
        "text_repetition": lambda s, d: tx.repetition(_docs(s, d)),
        "text_decontaminate": lambda s, d: tx.decontaminate(_docs(s, d)),
        "text_unigram_rarity": lambda s, d: tx.unigram_rarity(_docs(s, d)),
        # --- freshest driver rows (r5) below the 50-row window
        "ann_pq_bigspace_topk": lambda s, d: sim.pq_trained_topk(
            _embs(s, d), m=8, ksub=32, iters=1
        ),
        "ann_ivf_bigk_assign": lambda s, d: sim.ivf_assignments(
            _embs(s, d), n_centroids=64
        ),
        "ann_ivfpq_topk": lambda s, d: sim.ivfpq_topk(_embs(s, d)),
        "multimodal_decode_features": lambda s, d: mm.decoded_media_features(
            _docs(s, d)
        ),
        "multimodal_decode_summary": lambda s, d: mm.decoded_media_summary(
            _docs(s, d)
        ),
        "ann_cosine_topk": lambda s, d: sim.cosine_topk(_embs(s, d)),
        "ann_lsh_bucket_stats": lambda s, d: sim.lsh_bucket_stats(_embs(s, d)),
        "ann_embedding_near_dup": lambda s, d: sim.embedding_near_dup(_embs(s, d)),
        "ann_ivf_assignments": lambda s, d: sim.ivf_assignments(_embs(s, d)),
        "ann_ivf_topk": lambda s, d: sim.ivf_topk(_embs(s, d)),
        "ann_pq_trained_topk": lambda s, d: sim.pq_trained_topk(_embs(s, d)),
        "ann_ivf_kmeans_topk": lambda s, d: sim.ivf_kmeans_topk(_embs(s, d)),
        "ann_pq_topk": lambda s, d: sim.pq_topk(_embs(s, d)),
        "ann_pq_topk_rerank": lambda s, d: sim.pq_topk_rerank(_embs(s, d)),
        "corpus_tfidf_topk": lambda s, d: cp.tfidf_topk(_docs(s, d)),
        "corpus_bloom_decontaminate": lambda s, d: cp.bloom_decontaminate(_docs(s, d)),
        "corpus_passage_dedup": lambda s, d: cp.passage_dedup(_docs(s, d)),
        "corpus_pii_redact": lambda s, d: cp.pii_redact(_docs(s, d)),
        "corpus_sample_per_source": lambda s, d: cp.sample_per_source(_docs(s, d)),
        "corpus_normalize_text": lambda s, d: cp.normalize_text(_docs(s, d)),
        "corpus_boilerplate_removal": lambda s, d: cp.boilerplate_removal(_docs(s, d)),
        "corpus_source_mixture": lambda s, d: cp.source_mixture(_docs(s, d)),
        "corpus_materialize_chunks": lambda s, d: cp.materialize_chunks(_docs(s, d)),
        "corpus_materialize_token_chunks": lambda s, d: cp.materialize_token_chunks(
            _tokens(s, d)
        ),
        # float-summary aggregate: rows-only check by design (float avg
        # hashing is engine-hostile); still surfaced for a driver row
        "multimodal_summary": lambda s, d: mm.media_feature_summary(_docs(s, d)),
        "corpus_pack_chunks": lambda s, d: cp.pack_chunks(_docs(s, d)),
        "corpus_curate_pack": lambda s, d: cp.curate_and_pack(_docs(s, d)),
        "corpus_quality_filter": lambda s, d: cp.quality_filter(_docs(s, d)),
        "corpus_split_assign": lambda s, d: cp.split_assign(_docs(s, d)),
        "corpus_ngram_topk": lambda s, d: cp.ngram_topk(_docs(s, d)),
        "multimodal_features": lambda s, d: mm.media_features_exact(_docs(s, d)),
    }
    front = set(_R7_VERIFY_FRONT)
    assert front <= set(q), sorted(front - set(q))
    return {k: q[k] for k in _R7_VERIFY_FRONT} | {
        k: v for k, v in q.items() if k not in front
    }


def oracle_sql() -> dict[str, str]:
    # ordered to mirror queries() — never-driver-verified entries first
    return {
        "token_mixture_weights": tks.mixture_weights_sql(),
        "token_sample_gate": tks.sample_gate_sql(),
        "token_salted_receipts": tks.salted_receipts_sql(),
        "token_bigram_typicality": tks.bigram_typicality_sql(),
        "token_doc_dup_filter": tks.doc_dup_filter_sql(),
        "token_zipf_coverage": tks.zipf_coverage_sql(),
        "token_source_divergence": tks.source_divergence_sql(),
        "token_decontaminate": tks.token_decontaminate_sql(),
        "token_curation_gate": tks.curation_gate_sql(),
        "ann_recall_eval": sim.recall_eval_sql(),
        "ann_serve_recall_eval": ai.ann_ivf_serve_recall_sql(),
        "token_pair_counts": tks.bpe_pair_counts_sql(),
        "token_dup_spans": tks.dup_spans_sql(),
        "token_doc_dup_stats": tks.doc_dup_stats_sql(),
        # token_bpe_merges / token_bpe_compression: iterative trainer,
        # rows-only by design (pytest pins the merge sequence)
        "ann_semantic_dedup": sim.semantic_dedup_sql(),
        "ann_ivf_serve_topk": ai.ann_ivf_serve_sql(),
        "ann_pq_serve_topk": ai.ann_pq_serve_sql(),
        "ann_ivfpq_serve_topk": ai.ann_ivfpq_serve_sql(),
        "multimodal_decode_color_features": mm.decoded_color_features_sql(),
        "multimodal_decode_color_summary": mm.decoded_color_summary_sql(),
        "pipeline_parse_spans": pipeline_parse_spans_sql(),
        "pipeline_token_receipts": pipeline_token_receipts_sql(),
        "pipeline_token_hist": pipeline_token_hist_sql(),
        "pipeline_protobuf_parse": pipeline_protobuf_parse_sql(),
        "pipeline_protobuf_quarantine": pipeline_protobuf_quarantine_sql(),
        "pipeline_quarantine": pipeline_quarantine_sql(),
        "pipeline_traces_list": pipeline_traces_list_sql(),
        "pipeline_time_filter": pipeline_time_filter_sql(),
        "pipeline_trace_summaries": pipeline_trace_summaries_sql(),
        "pipeline_span_lookup": pipeline_span_lookup_sql(),
        "pipeline_enrich_agg": pipeline_enrich_agg_sql(),
        "pipeline_route_receipts": pipeline_route_receipts_sql(),
        "pipeline_parent_child": pipeline_parent_child_sql(),
        "pipeline_trace_tree": pipeline_trace_tree_sql(),
        "pipeline_severity_hist": pipeline_severity_hist_sql(),
        "rel_pricing_summary": rel_pricing_summary_sql(),
        "rel_topk_orders": rel_topk_orders_sql(),
        "rel_join_chain": rel_join_chain_sql(),
        "rel_anti_join": rel_anti_join_sql(),
        "rel_semi_join": rel_semi_join_sql(),
        "rel_window_topn": rel_window_topn_sql(),
        "rel_distinct_agg": rel_distinct_agg_sql(),
        "rel_events_window_agg": rel_events_window_agg_sql(),
        "rel_rollup": rel_rollup_sql(),
        "rel_sessionize": ts.sessionize_sql(),
        "rel_asof_join": ts.asof_join_sql(),
        "rel_range_join": ts.range_join_sql(),
        "rel_funnel": ts.funnel_sql(),
        "rel_percentiles": rel_percentiles_sql(),
        "dedup_exact": dd.dedup_exact_sql(),
        "dedup_minhash_sig": dd.minhash_signatures_flat_sql(),
        "dedup_minhash_lsh_pairs": dd.minhash_lsh_pairs_sql(),
        "dedup_simhash": dd.simhash_sql(),
        "dedup_simhash_pairs": dd.simhash_near_pairs_sql(),
        "dedup_ngram_jaccard": dd.ngram_jaccard_pairs_sql(),
        "dedup_verified_pairs": dd.verified_pairs_sql(),
        "dedup_groups": dd.dedup_groups_sql(),
        "dedup_survivors": dd.dedup_survivors_sql(),
        "text_stats": tx.text_stats_sql(),
        "text_token_counts": tx.token_counts_sql(),
        "text_lang_id": tx.lang_id_sql(),
        "text_fingerprint": tx.fingerprint_sql(),
        "text_repetition": tx.repetition_sql(),
        "text_decontaminate": tx.decontaminate_sql(),
        "text_unigram_rarity": tx.unigram_rarity_sql(),
        "ann_pq_bigspace_topk": sim.pq_trained_topk_sql(m=8, ksub=32, iters=1),
        "ann_ivf_bigk_assign": sim.ivf_assignments_sql(64),
        "ann_ivfpq_topk": sim.ivfpq_topk_sql(),
        "multimodal_decode_features": mm.decoded_media_features_sql(),
        "multimodal_decode_summary": mm.decoded_media_summary_sql(),
        "ann_cosine_topk": sim.cosine_topk_sql(),
        "ann_lsh_bucket_stats": sim.lsh_bucket_stats_sql(),
        "ann_embedding_near_dup": sim.embedding_near_dup_sql(),
        "ann_ivf_assignments": sim.ivf_assignments_sql(),
        "ann_ivf_topk": sim.ivf_topk_sql(),
        "ann_pq_trained_topk": sim.pq_trained_topk_sql(),
        "ann_ivf_kmeans_topk": sim.ivf_kmeans_topk_sql(),
        "ann_pq_topk": sim.pq_topk_sql(),
        "ann_pq_topk_rerank": sim.pq_topk_rerank_sql(),
        "corpus_tfidf_topk": cp.tfidf_topk_sql(),
        "corpus_bloom_decontaminate": cp.bloom_decontaminate_sql(),
        "corpus_passage_dedup": cp.passage_dedup_sql(),
        "corpus_pii_redact": cp.pii_redact_sql(),
        "corpus_sample_per_source": cp.sample_per_source_sql(),
        "corpus_normalize_text": cp.normalize_text_sql(),
        "corpus_boilerplate_removal": cp.boilerplate_removal_sql(),
        "corpus_source_mixture": cp.source_mixture_sql(),
        "corpus_materialize_chunks": cp.materialize_chunks_sql(),
        "corpus_materialize_token_chunks": cp.materialize_token_chunks_sql(),
        "multimodal_summary": mm.media_feature_summary_sql(),
        "corpus_pack_chunks": cp.pack_chunks_sql(),
        "corpus_curate_pack": cp.curate_and_pack_sql(),
        "corpus_quality_filter": cp.quality_filter_sql(),
        "corpus_split_assign": cp.split_assign_sql(),
        "corpus_ngram_topk": cp.ngram_topk_sql(),
        "multimodal_features": mm.media_features_exact_sql(),
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full parse → enrich → route → aggregate pipeline
    over sf0.001, returning the per-sink receipt aggregate joined with
    the per-team enrichment rollup."""
    sf_dir = "/root/testdata/sf0.001"
    valid = _valid(spark, sf_dir)
    receipts = valid.groupBy("signal").agg(
        F.count("*").alias("row_count"),
        F.sum("n_tok").alias("sum_n_tok"),
        F.countDistinct("trace_id").alias("n_traces"),
    )
    return receipts.orderBy("signal")
