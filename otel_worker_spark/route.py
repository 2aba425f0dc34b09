"""Routing: the per-signal sink of each parsed row (S7).

The reference has a single sink (the spans table) plus a post-commit
``SpanAdded`` broadcast (service.rs:47-49). The north rule extends
this to per-signal sinks (traces / logs / metrics); the pipeline lands
them as the partitions of one write (``signal`` is the partition
column) and observes the per-sink count and sum receipt on it
(pipeline.sink_aggregates).

The routing rule is a plain Catalyst CASE over parsed columns —
evaluated once, inside the write's single pass.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SIGNALS = ("traces", "logs", "metrics")

#: severities that route a span-shaped record to the logs sink
LOG_SEVERITIES = ("ERROR", "FATAL", "WARN")


def signal_expr(severity: Column | None = None, name: Column | None = None) -> Column:
    """traces | logs | metrics for each parsed row.

    Precedence: high-severity → logs, metric-shaped names → metrics,
    everything else → traces. Mirrors fixtures.SIGNAL for the
    events-derived corpus (error → logs, purchase → metrics).
    """
    severity = severity if severity is not None else F.col("severity")
    name = name if name is not None else F.col("name")
    return (
        F.when(severity.isin(*LOG_SEVERITIES), F.lit("logs"))
        .when(name.rlike("(^metric|/purchase$)"), F.lit("metrics"))
        .otherwise(F.lit("traces"))
    )
