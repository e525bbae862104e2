"""Aggregation operators (SURVEY.md §2.4, A1-A13).

Scale notes:
  - Everything here is a hash aggregate with map-side partial aggregation —
    one shuffle on the group keys, skew handled by AQE.
  - ``null_scan`` is the single-pass form the reference calls out as the
    OOM-safe variant (spark_jobs/02_clean_eda.py:77-81); the per-column-job
    variant (spark_jobs/02c:48) is O(columns) scans and intentionally not
    shipped.
  - Exact-decimal sums (functions.exact) keep double aggregates
    deterministic; see that module's docstring.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.functions.exact import davg


def null_scan(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Per-column null counts in ONE aggregation pass (A3). Counts are
    counts: an empty frame reports 0 per column, not SUM's NULL."""
    cols = list(cols or df.columns)
    return df.agg(
        *[
            F.coalesce(
                F.sum(F.col(c).isNull().cast("int")), F.lit(0)
            ).alias(f"{c}_nulls")
            for c in cols
        ]
    )


def duplicate_group_count(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Duplicate-group detection (A11; reference spark_jobs/02c:70-72):
    number of key groups with more than one row, as a 1-row DataFrame."""
    return (
        df.groupBy(*keys)
        .count()
        .filter(F.col("count") > 1)
        .agg(F.count("*").alias("dup_groups"))
    )


def describe_exact(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Deterministic describe (A10 twin): count / avg / min / max per column,
    one row per column via a single-pass agg + stack unpivot."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__count"),
            davg(c).alias(f"{c}__avg"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__count`, `{c}__avg`, `{c}__min`, `{c}__max`" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n, avg_value, min_value, max_value)"
    )


def top_k(
    df: DataFrame, order_by: Sequence[Column], k: int
) -> DataFrame:
    """Top-k (O4): orderBy + limit compiles to TakeOrderedAndProject — a
    per-partition heap then a k-row merge, never a full sort at scale."""
    return df.orderBy(*order_by).limit(k)


def exact_quantiles(df: DataFrame, col: str, qs: Sequence[float]) -> DataFrame:
    """Exact interpolated percentiles (A9's exact twin; the engine API also
    exposes ``DataFrame.approxQuantile`` / percentile_approx for the
    approximate path the reference uses, spark_jobs/02_clean_eda.py:88-90)."""
    rows = [
        F.expr(f"percentile({col}, {q})").alias(f"p{int(q * 100):02d}") for q in qs
    ]
    return df.agg(*rows)
