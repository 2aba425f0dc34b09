"""Shared deterministic primitives for the training-data ops.

The portable 64→31-bit hash is md5-based so Spark and DuckDB agree
bit-for-bit (Spark's xxhash64/hash and DuckDB's hash() are different
functions; md5 is the one cryptographic hash both expose identically).
At cluster scale you would swap ``F.xxhash64`` in (cheaper, also
JVM-native) — the op structure is unchanged; md5 keeps the oracle
cross-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame) -> DataFrame:
    """Spread an under-partitioned input across the cluster before an
    expensive narrow stage (signature folds, shingle hashing, window
    explosion). A corpus read from a handful of small files would
    otherwise run its whole map stage on a handful of cores; one
    round-robin exchange of the narrow input rows buys full
    parallelism. Scale-adaptive, not a local-mode constant: at
    production scale the input arrives in thousands of partitions and
    this no-ops — the guard fires only when partitions <
    defaultParallelism (r7 measurement: the sf0.1 documents.parquet is
    ONE file, so every dedup signature stage ran single-task)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df

#: Mersenne prime 2^31 - 1 — small enough that (a*h + b) never
#: overflows int64 (ANSI mode makes overflow fatal, not wrapping).
MERSENNE31 = 2_147_483_647


def hash31_sql(expr: str, seed: str = "") -> str:
    """Deterministic 31-bit hash of a string expression, DuckDB dialect."""
    return (
        f"(('0x' || substr(md5('{seed}' || {expr}), 1, 15))::BIGINT % {MERSENNE31})"
    )


def minhash_perms(n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation constants — seeded Python, no
    runtime randomness; identical literals are embedded in both the
    Spark plan and the oracle SQL."""
    import random

    rng = random.Random(42)
    return [(rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31)) for _ in range(n)]


def shingles_expr(col: str, k: int = 5) -> Column:
    """Distinct character k-shingles, order-normalized (sorted) —
    Spark side, pure HOFs (sequence/transform/array_distinct)."""
    return F.array_sort(
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, greatest(1, length({col}) - {k - 1})),"
                f" i -> substring({col}, i, {k}))"
            )
        )
    )
