"""Spark-native gap-fill operators over gridded tier tables.

These are the distributed, SQL-expressible fills (the north star's
forward/backward fill and linear/small-gap interpolation). They run as
window functions — whole-stage-codegen'd, no Python — over
``(partitionBy keys, orderBy bucket)``. The model-based ridge fill
lives in ``impute.py``; its in-kernel linear pre-interpolation matches
``fill_small_gaps`` here (semantics pinned against the reference's
``interpolate_small_gaps``, src/datafiller/timeseries/_utils.py:51-67,
by tests/test_gapfill_spark.py).

Scale note: one window partition per series key. Series are bounded by
the tier grid (≤ 527k buckets/year at 1m), so a key's window always
fits an executor; skew across keys is handled upstream by salted
repartition of the *raw* aggregation, not here.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _series_window(key_cols: Sequence[str], bucket_col: str):
    return Window.partitionBy(*key_cols).orderBy(bucket_col)


def forward_fill(
    df: DataFrame, key_cols: Sequence[str], bucket_col: str, value_col: str, out_col: str | None = None
) -> DataFrame:
    """Carry the last observed value forward across NULL buckets."""
    w = _series_window(key_cols, bucket_col).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out_col or value_col, F.last(value_col, ignorenulls=True).over(w))


def backward_fill(
    df: DataFrame, key_cols: Sequence[str], bucket_col: str, value_col: str, out_col: str | None = None
) -> DataFrame:
    """Carry the next observed value backward across NULL buckets."""
    w = _series_window(key_cols, bucket_col).rowsBetween(0, Window.unboundedFollowing)
    return df.withColumn(out_col or value_col, F.first(value_col, ignorenulls=True).over(w))


def _with_anchors(df: DataFrame, key_cols, bucket_col, value_col):
    """Attach previous/next observed (bucket, value) anchors to every row."""
    w_prev = _series_window(key_cols, bucket_col).rowsBetween(Window.unboundedPreceding, 0)
    w_next = _series_window(key_cols, bucket_col).rowsBetween(0, Window.unboundedFollowing)
    anchor_bucket = F.when(F.col(value_col).isNotNull(), F.col(bucket_col))
    return (
        df.withColumn("__prev_v", F.last(value_col, ignorenulls=True).over(w_prev))
        .withColumn("__prev_t", F.last(anchor_bucket, ignorenulls=True).over(w_prev))
        .withColumn("__next_v", F.first(value_col, ignorenulls=True).over(w_next))
        .withColumn("__next_t", F.first(anchor_bucket, ignorenulls=True).over(w_next))
    )


def _linear_expr(bucket_col: str, value_col: str):
    """Interior gaps: linear blend; trailing gaps: last value (pandas
    ``interpolate`` forward semantics); leading gaps: NULL."""
    frac = (
        F.unix_timestamp(F.col(bucket_col)) - F.unix_timestamp(F.col("__prev_t"))
    ).cast("double") / (
        F.unix_timestamp(F.col("__next_t")) - F.unix_timestamp(F.col("__prev_t"))
    ).cast("double")
    interior = F.col("__prev_v") + (F.col("__next_v") - F.col("__prev_v")) * frac
    return (
        F.when(F.col(value_col).isNotNull(), F.col(value_col))
        .when(F.col("__prev_t").isNull(), F.lit(None).cast("double"))
        .when(F.col("__next_t").isNull(), F.col("__prev_v"))
        .otherwise(interior)
    )


def linear_fill(
    df: DataFrame, key_cols: Sequence[str], bucket_col: str, value_col: str, out_col: str | None = None
) -> DataFrame:
    """Linear interpolation across every NULL gap (per series)."""
    out = out_col or value_col
    return (
        _with_anchors(df, key_cols, bucket_col, value_col)
        .withColumn(out, _linear_expr(bucket_col, value_col))
        .drop("__prev_v", "__prev_t", "__next_v", "__next_t")
    )


def fill_small_gaps(
    df: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    value_col: str,
    max_gap: int,
    out_col: str | None = None,
) -> DataFrame:
    """Linear interpolation only for NULL runs of length ≤ ``max_gap``.

    Distributed analogue of the reference's ``interpolate_small_gaps``:
    run ids label maximal stretches of equal null-ness (change-flag
    cumulative sum), a per-run count gates the fill.
    """
    out = out_col or value_col
    w = _series_window(key_cols, bucket_col)
    is_null = F.col(value_col).isNull()
    run_started = (
        is_null.cast("int") != F.lag(is_null.cast("int"), 1, -1).over(w)
    ).cast("int")
    df2 = df.withColumn(
        "__run", F.sum(run_started).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    w_run = Window.partitionBy(*key_cols, "__run")
    df2 = df2.withColumn("__run_len", F.count(F.lit(1)).over(w_run))
    filled = _with_anchors(df2, key_cols, bucket_col, value_col).withColumn(
        "__lin", _linear_expr(bucket_col, value_col)
    )
    return filled.withColumn(
        out,
        F.when(F.col(value_col).isNotNull(), F.col(value_col))
        .when(F.col("__run_len") <= max_gap, F.col("__lin"))
        .otherwise(F.col(value_col)),
    ).drop("__run", "__run_len", "__prev_v", "__prev_t", "__next_v", "__next_t", "__lin")


def spline_fill(
    df: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    value_col: str,
    out_col: str | None = None,
    max_gap: int | None = None,
) -> DataFrame:
    """Natural cubic-spline fill of interior NULL buckets, per series.

    Unlike the window-function fills above, a spline needs the whole
    series (the tridiagonal solve couples every observed point), so it
    runs on the per-series runner (``_series._per_series``) — same shape
    and determinism guarantees as the ridge fill in ``impute.py`` (every
    series arrives whole and sorted by bucket). ``max_gap`` restricts
    filling to NaN runs of at most that many buckets.
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    from ..kernels.spline import spline_interpolate
    from ._series import _per_series

    keys = list(key_cols)
    out_name = out_col or value_col
    out_schema = StructType()
    for k in keys:
        out_schema.add(df.schema[k])
    out_schema.add(df.schema[bucket_col])
    out_schema.add(out_name, "double")

    def fill_series(key_values: dict, series: pd.DataFrame) -> pd.DataFrame:
        filled = spline_interpolate(series[value_col].astype("float64"), max_gap=max_gap)
        return series[[*keys, bucket_col]].assign(**{out_name: filled})

    return _per_series(
        df.select(*keys, bucket_col, value_col), keys, bucket_col, fill_series, out_schema
    )
