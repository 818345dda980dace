"""Model-based gap-fill: the reference imputation kernel under Spark.

``model_gapfill`` runs the full TimeSeriesImputer recipe (grid
regularization → small-gap linear interpolation → lag/calendar ridge
imputation → mean fallback) once per series on the per-series runner
(``_series._per_series``) — partition-sized Arrow batches, NumPy math
inside, no per-row Python.

Determinism at scale: the runner hands every series over whole and
sorted by bucket, so the result is independent of Spark partitioning
and Arrow batch order; all order-sensitive float math happens on that
sorted frame. This is the property that keeps tiers reproducible when
the same job runs at N and 4N executors.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ._series import _impute, _per_series
from .encode import _encode_chunks, chunk_schema


def _series_frame(series: pd.DataFrame, bucket_col: str, values: list[str]) -> pd.DataFrame:
    return series[[bucket_col] + values].set_index(bucket_col).astype("float64")


def model_gapfill(
    df: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    value_cols: Sequence[str],
    lags: Sequence[int] = (1, 2, 3, -1, -2, -3),
    min_samples_train: int = 20,
    interpolate_gaps_less_than: int | None = None,
    n_nearest_features: int | float | None = None,
    add_time_features: bool = True,
    regressor_factory=None,
) -> DataFrame:
    """Gap-fill ``value_cols`` per key group with the ridge kernel (or a
    custom regressor built per group by ``regressor_factory`` — e.g. the
    ExtremeLearningMachine; the factory must be picklable).

    Input rows may be sparse (missing buckets) — the kernel reinserts
    the full regular grid, so the output generally has MORE rows than
    the input: one per grid bucket. Output schema: key cols + bucket +
    value cols (double).
    """
    keys = list(key_cols)
    values = list(value_cols)

    out_schema = StructType()
    for k in keys:
        out_schema.add(df.schema[k])
    out_schema.add(df.schema[bucket_col])
    for v in values:
        out_schema.add(v, "double")

    lags_list = [int(x) for x in lags]

    def fill_series(key_values: dict, series: pd.DataFrame) -> pd.DataFrame:
        filled, _ = _impute(
            _series_frame(series, bucket_col, values),
            n_nearest_features=n_nearest_features,
            lags=lags_list,
            regressor=regressor_factory() if regressor_factory is not None else None,
            min_samples_train=min_samples_train,
            interpolate_gaps_less_than=interpolate_gaps_less_than,
            add_time_features=add_time_features,
        )
        out = filled.rename_axis(bucket_col).reset_index()
        return out.assign(**key_values)

    return _per_series(
        df.select(*keys, bucket_col, *values), keys, bucket_col, fill_series, out_schema
    )


def gapfill_metrics(
    df: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    value_col: str,
    lags: Sequence[int] = (1, 2, 3, -1, -2, -3),
    min_samples_train: int = 20,
    interpolate_gaps_less_than: int | None = 4,
) -> DataFrame:
    """Per-series gap-fill metrics rows, one per key group:
    (keys..., n_observed, n_grid, gaps_by_interp, gaps_by_model,
    gaps_by_fallback, gaps_unfilled) — the lineage/metrics contract's
    3-step-policy attribution (reference policy: docs/algorithm.rst:22-32).
    """
    keys = list(key_cols)
    out_schema = StructType()
    for k in keys:
        out_schema.add(df.schema[k])
    for c in ("n_observed", "n_grid", "gaps_by_interp", "gaps_by_model",
              "gaps_by_fallback", "gaps_unfilled"):
        out_schema.add(c, "long")

    lags_list = [int(x) for x in lags]

    def stats_series(key_values: dict, series: pd.DataFrame) -> pd.DataFrame:
        filled, counts = _impute(
            _series_frame(series, bucket_col, [value_col]),
            lags=lags_list,
            min_samples_train=min_samples_train,
            interpolate_gaps_less_than=interpolate_gaps_less_than,
        )
        return pd.DataFrame(
            {
                **{k: [v] for k, v in key_values.items()},
                "n_observed": [len(series)],
                "n_grid": [len(filled)],
                "gaps_by_interp": [counts["interp"]],
                "gaps_by_model": [counts["model"]],
                "gaps_by_fallback": [counts["fallback"]],
                "gaps_unfilled": [int(filled.isna().sum().sum())],
            }
        )

    return _per_series(
        df.select(*keys, bucket_col, value_col), keys, bucket_col, stats_series, out_schema
    )


_STEP_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}
_FREQ = {"1m": "min", "1h": "h", "1d": "D"}


def _cascade_sums(ts_sec: np.ndarray, npts: np.ndarray, sv: np.ndarray, step: int):
    """Re-aggregate SORTED observed buckets to a coarser step in one
    ``np.add.reduceat`` pass — the output equals pandas
    ``resample().agg(sum)`` filtered to non-empty buckets (both sum
    sequentially in time order; only observed buckets are emitted)."""
    trunc = ts_sec - ts_sec % step
    starts = np.concatenate(([0], np.flatnonzero(np.diff(trunc)) + 1))
    return (
        trunc[starts],
        np.add.reduceat(npts, starts),
        np.add.reduceat(sv, starts),
    )


def cascade_gapfill_encode_all(
    df_1m: DataFrame,
    key_cols: Sequence[str],
    lags: Sequence[int] = (1, 2, 3, -1, -2, -3),
    min_samples_train: int = 20,
    interpolate_gaps_less_than: int | None = None,
) -> DataFrame:
    """One shuffle for the whole per-series tier chain.

    Input: observed 1m tier rows (bucket, n_points, sum_value) per key.
    The kernel — one call per series on the per-series runner — cascades
    the observed aggregates to 1h and 1d (sum/count compose in time
    order, deterministically), gap-fills each tier's grid with the ridge
    kernel, and Gorilla-encodes each tier's chunks. Output: chunk rows
    for ALL tiers — keys, chunk_start, tier, n_points, payload, plus
    ``n_observed``, the number of observed buckets in the chunk.

    Versus running the cascade in Spark + one kernel stage per tier,
    this trades three shuffles and three Python stages for one of each;
    at 10^12 scale it also means the 1m tier is shuffled exactly once.
    """
    keys = list(key_cols)

    out_schema = chunk_schema(df_1m, keys).add("n_observed", "integer")
    out_cols = out_schema.fieldNames()

    params = dict(
        lags=[int(x) for x in lags],
        min_samples_train=min_samples_train,
        interpolate_gaps_less_than=interpolate_gaps_less_than,
    )

    def fill_encode(tier: str, t: np.ndarray, n: np.ndarray, s_: np.ndarray) -> list[tuple]:
        """Fill + encode one tier of one series (sorted observed arrays):
        (chunk_start, tier, n_points, payload, n_observed) per chunk."""
        # the full grid directly from epoch-second arithmetic — same rows
        # as DatetimeIndex(...).asfreq(...) (UTC tiers are fixed-width),
        # minus its get_indexer/reindex machinery; date_range carries
        # freq, so the imputer's regularize pass short-circuits too
        pos = (t - t[0]) // _STEP_SECONDS[tier]
        vals = np.full(int(pos[-1]) + 1, np.nan)
        vals[pos] = s_.astype("float64") / n
        index = pd.date_range(
            pd.Timestamp(int(t[0]), unit="s"), periods=len(vals), freq=_FREQ[tier]
        )
        filled, _ = _impute(pd.DataFrame({"avg_value": vals}, index=index), **params)
        chunks = _encode_chunks(filled.index, filled["avg_value"].to_numpy(), tier)
        return [
            (start, tier, e - s, payload, int(np.searchsorted(pos, e) - np.searchsorted(pos, s)))
            for start, s, e, payload in chunks
        ]

    def tier_chain(key_values: dict, series: pd.DataFrame) -> pd.DataFrame:
        ts_sec = series["bucket"].to_numpy().astype("datetime64[s]").astype(np.int64)
        npts = series["n_points"].to_numpy()
        sv = series["sum_value"].to_numpy()
        t1h, n1h, s1h = _cascade_sums(ts_sec, npts, sv, 3600)
        rows = [
            *fill_encode("1m", ts_sec, npts, sv),
            *fill_encode("1h", t1h, n1h, s1h),
            *fill_encode("1d", *_cascade_sums(t1h, n1h, s1h, 86400)),
        ]
        key_row = tuple(key_values.values())
        return pd.DataFrame([key_row + r for r in rows], columns=out_cols)

    return _per_series(
        df_1m.select(*keys, "bucket", "n_points", "sum_value"),
        keys,
        "bucket",
        tier_chain,
        out_schema,
    )
