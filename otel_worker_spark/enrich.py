"""Broadcast enrichment (J2) + skew handling for the hot-source key.

The reference never joins at read time because it denormalizes
resource/scope context onto every span at ingest
(otel.rs:53-66, 99-105). We keep that, and add the north rule's
broadcast hash-join against small service/resource dimension tables:
the dimension (~100 rows) is broadcast to every executor, so the
enrich costs zero shuffle regardless of fact-side scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_spans(spans: DataFrame, service_lookup: DataFrame) -> DataFrame:
    """Left-join span rows to the service dimension on service_name.

    ``F.broadcast`` forces BroadcastHashJoin — never a shuffle,
    whatever AQE estimates. Unknown services keep null enrichment
    (left join), they are not dropped.
    """
    dim = service_lookup.withColumnRenamed("environment", "service_environment")
    return spans.join(F.broadcast(dim), "service_name", "left")


def _salt_col(df: DataFrame, salt_buckets: int) -> F.Column:
    """Content-derived salt: hash of the whole row, never
    ``monotonically_increasing_id`` — the id is layout-dependent (the
    same row can land a different salt across retries/replans), which
    is fine for pure write balancing but silently wrong the moment a
    salted frame feeds a keyed aggregate or a retried stage is
    reconciled against a committed one. A row-content hash is stable
    under any re-execution."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))


def two_phase_count_sum(df: DataFrame, key: str, sum_col: str, salt_buckets: int = 16) -> DataFrame:
    """Skew-proof groupBy(key).agg(count, sum) — phase 1 aggregates on
    (key, salt) so the hot key is split across ``salt_buckets`` tasks,
    phase 2 combines the tiny partials.

    (Spark's hash aggregate already does map-side partials, so this
    matters mostly when phase-1 output must also be balanced —
    documented here as the pattern, used by routing receipts.)
    """
    salted = df.withColumn("_salt", _salt_col(df, salt_buckets))
    phase1 = salted.groupBy(key, "_salt").agg(
        F.count(F.lit(1)).alias("_c"), F.sum(sum_col).alias("_s")
    )
    return phase1.groupBy(key).agg(F.sum("_c").alias("row_count"), F.sum("_s").alias(f"sum_{sum_col}"))
