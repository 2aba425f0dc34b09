"""Skew handling: the two-phase salted aggregate must (a) compute the
same answers as the plain aggregate it replaces and (b) keep the
two-phase plan shape (two hash exchanges, salted first)."""

from __future__ import annotations

from pyspark.sql import functions as F

from otel_worker_spark.enrich import two_phase_count_sum


def _skewed(spark):
    """One hot source (~90% of rows) + a long tail."""
    return spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot-service"))
        .otherwise(F.concat(F.lit("svc-"), (F.col("id") % 7).cast("string")))
        .alias("source"),
        (F.col("id") % 100).alias("n_tok"),
    )


def test_two_phase_count_sum_matches_plain_groupby(spark):
    df = _skewed(spark)
    salted = {
        r["source"]: (r["row_count"], r["sum_n_tok"])
        for r in two_phase_count_sum(df, "source", "n_tok").collect()
    }
    plain = {
        r["source"]: (r["cnt"], r["s"])
        for r in df.groupBy("source")
        .agg(F.count("*").alias("cnt"), F.sum("n_tok").alias("s"))
        .collect()
    }
    assert salted == plain


def test_two_phase_plan_has_salted_then_key_exchange(spark):
    df = _skewed(spark)
    plan = (
        two_phase_count_sum(df, "source", "n_tok")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # phase 1 shuffles on (source, _salt), phase 2 on source alone
    assert plan.count("Exchange hashpartitioning") == 2
    first = plan.index("Exchange hashpartitioning")
    assert "_salt" in plan[: first + 200] or "_salt" in plan
