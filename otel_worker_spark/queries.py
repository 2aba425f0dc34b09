"""The read-side query layer — reference HTTP API semantics as
single-plan DataFrame queries (SURVEY.md §2.3-§2.6, §2.11).

Where the reference does an N+1 loop (list top-k traces, then fetch
spans per trace — handlers/traces.rs:19-33), this layer issues ONE
declarative plan: top-k via ``TakeOrderedAndProject`` (no global
sort), then a **broadcast semi-join** of the ≤k trace ids back against
the span table, then ``collect_list``. At 100 TB the semi-join
broadcasts ~20 ids to every executor; the only shuffle is the
group-by on trace_id, which a bucket(trace_id) table layout removes
entirely under storage-partitioned joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class NotFound(Exception):
    """404 semantics: empty result where the reference raises
    DbError::NotFound (otel-worker-cli/src/data/util.rs:18-20) or an
    empty trace group yields None (otel.rs:305-318)."""


DEFAULT_TRACE_LIMIT = 20  # limit.unwrap_or(20), data/sql.rs:83


def traces_list(spans: DataFrame, limit: int | None = None, time=None) -> DataFrame:
    """A1+O1+F3: ``SELECT trace_id, MAX(end_time) AS end_time FROM spans
    [WHERE end_time <= t] GROUP BY trace_id ORDER BY end_time DESC
    LIMIT k`` (data/sql.rs:82-101); only a missing ``limit`` defaults
    to 20 (``limit=0`` is an empty page).

    Partial hash-agg map-side, shuffle on trace_id, final agg, then
    top-k (TakeOrderedAndProject — no global sort). Over a frame
    already hash-partitioned by trace_id (the read API's serving
    snapshot, a bucketed table) the shuffle drops out. trace_id is the
    deterministic tiebreaker the reference leaves to SQLite's whim.
    """
    df = spans
    if time is not None:
        df = df.filter(F.col("end_time") <= F.lit(time))
    return (
        df.groupBy("trace_id")
        .agg(F.max("end_time").alias("end_time"))
        .orderBy(F.desc("end_time"), F.desc("trace_id"))
        .limit(DEFAULT_TRACE_LIMIT if limit is None else limit)
    )


def trace_summaries(
    spans: DataFrame, limit: int | None = None, time=None, span_cols: list[str] | None = None
) -> DataFrame:
    """J1+A2: the reference's N+1 as one plan — top-k trace ids
    broadcast-semi-joined to spans, spans collected per trace sorted
    by start time (TraceSummary, otel.rs:295-318).
    """
    top = traces_list(spans, limit, time)
    cols = span_cols or ["span_id", "parent_span_id", "name", "kind", "start_time", "end_time"]
    picked = spans.join(F.broadcast(top.select("trace_id")), "trace_id", "left_semi")
    collected = picked.groupBy("trace_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("start_time").alias("_ord"), *[F.col(c).alias(c) for c in cols]))
        ).alias("spans")
    )
    # re-attach ordering key and keep the reference's list order
    return (
        collected.join(F.broadcast(top), "trace_id")
        .orderBy(F.desc("end_time"), F.desc("trace_id"))
        .select("trace_id", "end_time", "spans")
    )


def span_list_by_trace(spans: DataFrame, trace_id: str) -> DataFrame:
    """F2: key-prefix scan (data/sql.rs:40-42)."""
    return spans.filter(F.col("trace_id") == F.lit(trace_id))


def span_get(spans: DataFrame, trace_id: str, span_id: str):
    """F1: two-column point lookup (data/sql.rs:32-34); 0 rows → 404
    (handlers/spans.rs:34-44). Returns the Row."""
    rows = (
        spans.filter((F.col("trace_id") == F.lit(trace_id)) & (F.col("span_id") == F.lit(span_id)))
        .limit(1)
        .collect()
    )
    if not rows:
        raise NotFound(f"span {trace_id}/{span_id}")
    return rows[0]


def trace_get(spans: DataFrame, trace_id: str):
    """F2+A2+F5: one trace summary; empty group → 404
    (handlers/traces.rs:48-61). Returns the Row of trace_summaries."""
    one = trace_summaries(span_list_by_trace(spans, trace_id), limit=1)
    rows = one.collect()
    if not rows:
        raise NotFound(f"trace {trace_id}")
    return rows[0]


def trace_summary_json(spans: DataFrame, trace_id: str) -> dict:
    """The reference's ``TraceSummary`` wire shape — camelCase
    ``{"traceId": ..., "spans": [<full span JSON>...]}``
    (otel.rs:295-318; spans round-trip through the ``inner`` column
    exactly like the reference re-parses its TEXT column,
    data/models.rs:31-44). Raises NotFound on an unknown/empty trace.

    One filter-and-collect; the rows of the one trace are ordered by
    start time on the driver (nulls first, as ``orderBy`` would), which
    spares the range-partition sampling job a Spark sort adds.
    """
    import json as _json

    rows = span_list_by_trace(spans, trace_id).select("start_time", "inner").collect()
    if not rows:
        raise NotFound(f"trace {trace_id}")
    rows.sort(key=lambda r: (r.start_time is not None, r.start_time))
    return {
        "traceId": trace_id,
        "spans": [_json.loads(r.inner) for r in rows if r.inner is not None],
    }


def _assemble_trace_tree(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """One trace's spans → its tree rows (``build_trace_tree``). Module
    level, so a worker unpickling it imports this package
    (``worker_imports``)."""
    import pandas as pd

    trace_id = pdf["trace_id"].iloc[0]
    parent = dict(zip(pdf["span_id"], pdf["parent_span_id"]))
    children: dict[str, list[str]] = {}
    roots = []
    for s, p in parent.items():
        if p is None or (isinstance(p, float)) or p not in parent:
            roots.append(s)
        else:
            children.setdefault(p, []).append(s)
    rows = []
    visited: set[str] = set()
    stack = [(r, 0, r) for r in sorted(roots, reverse=True)]
    while stack:
        s, d, path = stack.pop()
        if s in visited:
            continue
        visited.add(s)
        p = parent.get(s)
        rows.append((trace_id, s, None if isinstance(p, float) else p, d, path))
        for c in sorted(children.get(s, []), reverse=True):
            stack.append((c, d + 1, path + "/" + c))
    # cycle fallback: anything unreached becomes its own root
    for s in sorted(set(parent) - visited):
        p = parent.get(s)
        rows.append((trace_id, s, None if isinstance(p, float) else p, 0, s))
    return pd.DataFrame(
        rows, columns=["trace_id", "span_id", "parent_span_id", "depth", "path"]
    )


def build_trace_tree(spans: DataFrame) -> DataFrame:
    """The trace-tree consumer of the J3 index (r1 verdict item 8):
    nests spans into the parent/child hierarchy the reference's
    ``(trace_id, parent_span_id)`` index exists to serve
    (otel-worker/migrations/20240708_create_spans.sql:16) — the
    structure a trace-waterfall UI renders.

    Emits one row per span: ``(trace_id, span_id, parent_span_id,
    depth, path)`` where ``path`` is the '/'-joined span_id chain from
    the root — a deterministic, hashable serialization of the tree.
    Rules: a span whose parent is null OR absent from its trace (the
    parent may have been quarantined) is a root at depth 0; children
    are visited in sorted(span_id) order; a cycle, impossible in
    well-formed traces, is broken by the visited set (unreachable
    spans under a cycle surface as fresh roots so no span is lost).

    Scale shape: ``applyInPandas`` grouped by trace_id — the natural
    partition key (a trace is small and must be assembled in one
    place); one shuffle on trace_id, which bucket(trace_id) storage
    removes. The per-group assembly is O(spans in trace).
    """
    return (
        spans.select("trace_id", "span_id", "parent_span_id")
        .groupBy("trace_id")
        .applyInPandas(
            _assemble_trace_tree,
            schema="trace_id string, span_id string, parent_span_id string, depth int, path string",
        )
    )


def parent_child_spans(spans: DataFrame) -> DataFrame:
    """J3: the self-join the reference indexes for but never ships
    ((trace_id, parent_span_id) index, 20240708_create_spans.sql:16) —
    child rows joined to their parent within the same trace.

    Co-partitioned on trace_id: with both sides bucketed by trace_id
    this is a shuffle-free storage-partitioned join at scale.
    """
    child = spans.select(
        F.col("trace_id"),
        F.col("span_id").alias("child_span_id"),
        F.col("parent_span_id"),
        F.col("name").alias("child_name"),
    ).filter(F.col("parent_span_id").isNotNull())
    parent = spans.select(
        F.col("trace_id"),
        F.col("span_id").alias("parent_span_id"),
        F.col("name").alias("parent_name"),
    )
    return child.join(parent, ["trace_id", "parent_span_id"], "inner")
