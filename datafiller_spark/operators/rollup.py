"""Tier rollup and the raw→1m→1h→1d cascade.

The continuous-aggregate core: one hash aggregate per tier, and every
coarser tier re-aggregated *from the tier below* rather than from raw —
at 100 TB the raw table is scanned exactly once. The aggregate set is
chosen to compose losslessly: count and sum are associative, min/max
idempotent, and avg is derived (sum/count) at read time, never averaged
across tiers. Catalyst plans these as partial (map-side) + final
aggregates, so the shuffle carries one row per (key, bucket) per
partition, not raw rows.

The reference has no tiering; its per-column count/sum/mean pass
(reference: src/datafiller/multivariate/imputer.py:404-419) is the
same partial+final decomposition in miniature.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bucket import time_bucket

#: Cascade order, finest to coarsest.
TIERS = ("1m", "1h", "1d")

METRIC_COLS = ("n_points", "sum_value", "min_value", "max_value")


def rollup(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    tier: str,
) -> DataFrame:
    """Aggregate raw points into (key, bucket) tier rows.

    Output: key cols + ``bucket`` + composable metrics
    (n_points, sum_value, min_value, max_value) + derived avg_value.
    """
    keys = list(key_cols)
    return (
        df.groupBy(*keys, time_bucket(ts_col, tier).alias("bucket"))
        .agg(
            F.count(value_col).alias("n_points"),
            F.sum(value_col).alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
        .withColumn("avg_value", F.col("sum_value") / F.col("n_points"))
    )


def cascade(tier_df: DataFrame, key_cols: Sequence[str], to_tier: str) -> DataFrame:
    """Re-aggregate a finer tier into ``to_tier`` (lossless composition)."""
    keys = list(key_cols)
    return (
        tier_df.groupBy(*keys, time_bucket("bucket", to_tier).alias("bucket"))
        .agg(
            F.sum("n_points").alias("n_points"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
        .withColumn("avg_value", F.col("sum_value") / F.col("n_points"))
    )
