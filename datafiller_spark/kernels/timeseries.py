"""Time-series imputation driver (numeric pandas frames).

Pure NumPy/pandas re-expression of the reference's numeric path
(reference: src/datafiller/timeseries/imputer.py:435-631):

1. regularize the DatetimeIndex to its full grid (frequency from
   ``index.freq`` → ``pd.infer_freq`` → min positive delta with an
   exact-multiple check; unsorted/duplicate/irregular raise) —
   reference imputer.py:187-223;
2. optional linear interpolation of NaN runs ≤ ``interpolate_gaps_less_than``;
3. lag/lead feature matrix + deterministic calendar features;
4. prune generated features with no observed value (originals kept);
5. multivariate ridge imputation with row/col targeting and
   ``before``/``after`` time predicates;
6. project back to the original column layout.

This kernel is what runs once per series inside the engine's gap-fill
operators (the per-series runner, ``operators/_series.py``).
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd

from ..exceptions import EngineTypeError, EngineValueError
from .lags import all_nan_columns, build_lag_matrix, interpolate_small_gaps
from .multivariate import MultivariateImputer
from .timefeat import make_time_features


def infer_frequency(index: pd.DatetimeIndex):
    """Base grid step of a DatetimeIndex, tolerating regular gaps."""
    if index.freq is not None:
        return index.freq
    if len(index) < 2:
        raise EngineValueError("index needs a frequency or at least two timestamps.")
    if len(index) >= 3:
        inferred = pd.infer_freq(index)
        if inferred is not None:
            return inferred
    if not index.is_monotonic_increasing:
        raise EngineValueError("index must be sorted in increasing order.")
    if index.has_duplicates:
        raise EngineValueError("index must not contain duplicate timestamps.")
    ns = index.to_numpy(dtype="datetime64[ns]").astype(np.int64)
    deltas = np.diff(ns)
    positive = deltas[deltas > 0]
    if not positive.size:
        raise EngineValueError("index frequency could not be inferred.")
    base = positive.min()
    if np.any(positive % base != 0):
        raise EngineValueError("index frequency could not be inferred from irregular gaps.")
    return pd.Timedelta(base, unit="ns")


def regularize_index(df: pd.DataFrame) -> pd.DataFrame:
    """Reindex to the complete regular grid; inserted rows are all-NaN.

    The index is normalized to nanosecond unit first: pandas 2.x allows
    us/ms-unit DatetimeIndexes (DuckDB/Arrow sources produce them), and
    downstream time features derive from raw epoch integers — without
    one fixed unit the SAME timestamps would yield float64 features
    differing in their last bits, which float32 regressors (ELM)
    amplify into visibly different fills. ns is the reference's (and
    pandas' default) unit, so this is parity-preserving."""
    if not isinstance(df.index, pd.DatetimeIndex):
        raise EngineTypeError("DataFrame index must be a DatetimeIndex.")
    if df.index.dtype != "datetime64[ns]":
        df = df.set_axis(df.index.as_unit("ns"), axis=0)
    if df.index.freq is not None:
        # a DatetimeIndex carrying a freq IS the complete regular grid
        # (pandas validates freq against the data on construction) —
        # skip the date_range + equals pass, ~1 ms per per-series call
        return df
    freq = infer_frequency(df.index)
    full = pd.date_range(start=df.index[0], end=df.index[-1], freq=freq, name=df.index.name)
    if len(full) == len(df.index) and full.equals(df.index):
        return df
    return df.reindex(full)


class TimeSeriesImputer:
    """Gap-fill a regular-grid numeric time-series frame.

    Args mirror the reference (timeseries/imputer.py:93-126): ``lags``
    (positive = backward shifts, negative = leads; 0 forbidden),
    ``min_samples_train``, ``fallback``, ``interpolate_gaps_less_than``,
    ``add_time_features``.
    """

    def __init__(
        self,
        lags: Iterable[int] = (1,),
        regressor=None,
        min_samples_train: int | None = None,
        fallback: str | None = "simple",
        interpolate_gaps_less_than: int | None = None,
        add_time_features: bool = True,
        use_gram: bool | None = None,
        n_jobs: int | None = None,
        classifier=None,
        rng: int | None = None,
        verbose: int = 0,
        scoring: str = "default",
        device: str | None = None,
        time_column: str | None = None,
    ):
        # the reference's remaining constructor surface (reference
        # timeseries/imputer.py:93-107) so its users switch 1:1;
        # time_column only matters for the Polars path (out of scope —
        # pandas input uses its DatetimeIndex, same as the reference)
        if time_column is not None and not isinstance(time_column, str):
            raise EngineValueError("time_column must be a string or None.")
        self.time_column = time_column
        self.verbose = verbose
        lags = list(lags)
        if not all(isinstance(i, int) for i in lags):
            raise EngineValueError("lags must be an iterable of integers.")
        if 0 in lags:
            raise EngineValueError("lags cannot contain 0.")
        self.lags = lags
        self.regressor = regressor
        self.min_samples_train = min_samples_train
        self.fallback = fallback
        self.use_gram = use_gram
        self.interpolate_gaps_less_than = interpolate_gaps_less_than
        self.add_time_features = add_time_features
        self.multivariate_imputer = MultivariateImputer(
            regressor=regressor,
            classifier=classifier,
            min_samples_train=min_samples_train,
            fallback=fallback,
            use_gram=use_gram,
            n_jobs=n_jobs,
            rng=rng,
            verbose=verbose,
            scoring=scoring,
            device=device,
        )
        self.imputation_features_: dict | None = None
        #: cells filled per policy step on the last call — mirrors the
        #: reference's 3-step training policy (docs/algorithm.rst:22-32)
        self.fill_counts_: dict[str, int] = {"interp": 0, "model": 0, "fallback": 0}

    def _impute_mixed(
        self,
        df: pd.DataFrame,
        rows_to_impute,
        cols_to_impute,
        n_nearest_features,
        before,
        after,
        n_interp: int = 0,
    ) -> pd.DataFrame:
        """Mixed numeric/categorical frame (T7): the same feature layout
        as the numeric fast path — original columns, lag/lead copies,
        calendar features — built as a pandas frame so the multivariate
        one-hot codec applies to lagged categorical features too
        (reference timeseries/imputer.py:351-433)."""
        original_cols = df.columns
        frames = [df]
        for lag in self.lags:
            shifted = df.shift(lag)
            shifted.columns = pd.Index([f"{c}_lag_{lag}" for c in original_cols])
            frames.append(shifted)
        if self.add_time_features:
            reserved = [name for frame in frames for name in frame.columns]
            frames.append(make_time_features(df.index, reserved_names=reserved))
        feature_df = pd.concat(frames, axis=1)
        if not feature_df.columns.is_unique:
            duplicated = feature_df.columns[feature_df.columns.duplicated()].unique().tolist()
            raise EngineValueError(
                f"Column names collide with generated lag feature names: {duplicated}. "
                "Rename the offending columns before imputation."
            )
        # drop generated features with no observed value; originals kept
        keep = feature_df.notna().any(axis=0)
        keep[original_cols] = True
        feature_df = feature_df.loc[:, keep]

        if cols_to_impute is None:
            target_names = list(original_cols)
        else:
            if isinstance(cols_to_impute, (int, str)):
                cols_to_impute = [cols_to_impute]
            target_names = []
            for c in cols_to_impute:
                if isinstance(c, int):
                    target_names.append(original_cols[c])
                elif isinstance(c, str):
                    target_names.append(c)
                else:
                    raise EngineValueError("cols_to_impute entries must be int or str.")

        if rows_to_impute is not None:
            if isinstance(rows_to_impute, (pd.DatetimeIndex, pd.TimedeltaIndex, pd.PeriodIndex)):
                rows_to_impute = df.index.get_indexer(rows_to_impute)
            elif isinstance(rows_to_impute, int):
                rows_to_impute = [rows_to_impute]
        elif before is not None or after is not None:
            mask = pd.Series(True, index=df.index)
            if before is not None:
                mask &= df.index < pd.to_datetime(str(before))
            if after is not None:
                mask &= df.index > pd.to_datetime(str(after))
            rows_to_impute = np.where(mask)[0]

        imputed = self.multivariate_imputer(
            feature_df,
            rows_to_impute=rows_to_impute,
            cols_to_impute=target_names,
            n_nearest_features=n_nearest_features,
        )
        self.imputation_features_ = self.multivariate_imputer.imputation_features_
        mv_counts = self.multivariate_imputer.fill_counts_
        self.fill_counts_ = {"interp": n_interp, **mv_counts}
        return imputed[original_cols]

    # -- sklearn-style surface (reference timeseries/imputer.py:141-170) ----

    def fit(self, X, y=None) -> "TimeSeriesImputer":
        """No-op fit for pipeline compatibility."""
        return self

    def transform(self, X):
        return self(X)

    def fit_transform(self, X, y=None):
        return self(X)

    def get_params(self, deep: bool = True) -> dict:
        return {
            "lags": self.lags,
            "regressor": self.regressor,
            "min_samples_train": self.min_samples_train,
            "fallback": self.fallback,
            "interpolate_gaps_less_than": self.interpolate_gaps_less_than,
            "add_time_features": self.add_time_features,
            "use_gram": self.use_gram,
        }

    def set_params(self, **params) -> "TimeSeriesImputer":
        current = self.get_params()
        unknown = set(params) - set(current)
        if unknown:
            raise EngineValueError(f"unknown parameters: {sorted(unknown)}")
        current.update(params)
        self.__init__(**current)
        return self

    def _build_feature_matrix(
        self, df: pd.DataFrame
    ) -> tuple[np.ndarray, list, np.ndarray]:
        """Numeric-path feature matrix: original columns, lag/lead
        copies, calendar features; generated features with no observed
        value dropped (originals always kept so the output layout
        matches the input). Returns ``(matrix, feature_names,
        orig_of_feature)`` where ``orig_of_feature[p]`` is the ORIGINAL
        column position feature ``p`` derives from (−1 for
        index-derived time features) — the mapping ``select_features``
        uses to turn selected lag-matrix features back into panel
        columns."""
        original_cols = df.columns
        n_original = len(original_cols)

        values = df.to_numpy()
        if not np.issubdtype(values.dtype, np.floating):
            try:
                values = values.astype(np.float64)
            except (TypeError, ValueError):
                # nullable extension dtypes (Float64/Int64) reach here as
                # object arrays holding pd.NA, which plain astype rejects;
                # pandas' own cast maps NA → NaN
                try:
                    values = df.astype("float64").to_numpy()
                except (TypeError, ValueError) as exc:
                    raise EngineValueError(
                        "TimeSeriesImputer requires numeric columns."
                    ) from exc

        feature_names = list(original_cols)
        orig_of = list(range(n_original))
        for lag in self.lags:
            feature_names.extend(f"{col}_lag_{lag}" for col in original_cols)
            orig_of.extend(range(n_original))
        if self.add_time_features:
            time_df = make_time_features(df.index, reserved_names=feature_names)
            feature_names.extend(time_df.columns)
            orig_of.extend([-1] * time_df.shape[1])
            time_values = time_df.to_numpy(dtype=values.dtype)
        else:
            time_values = np.empty((len(df), 0), dtype=values.dtype)

        matrix = build_lag_matrix(values, np.asarray(self.lags, dtype=np.int64), time_values)

        keep = ~all_nan_columns(matrix)
        keep[:n_original] = True
        orig_of = np.asarray(orig_of, dtype=np.int64)
        if not keep.all():
            matrix = np.ascontiguousarray(matrix[:, keep])
            feature_names = [nm for nm, k in zip(feature_names, keep) if k]
            orig_of = orig_of[keep]
        return matrix, feature_names, orig_of

    def select_features(
        self,
        df: pd.DataFrame,
        cols_to_impute=None,
        n_nearest_features: None | float | int = None,
    ) -> tuple[dict, int | None]:
        """Driver-side selection pass for the wide cluster path
        (operators/wide.py): which ORIGINAL panel columns each target's
        model reads, under this imputer's exact scoring and stable
        top-k tie-break. Returns ``(needs, resolved_k)``:

        - ``needs[target_name]`` = list of original column names whose
          identity/lag features the target selects (index-derived time
          features excluded — every task can rebuild those);
        - ``resolved_k`` = ``n_nearest_features`` resolved to an int
          against the FULL panel's feature width. Chunk tasks must be
          given THIS value: a float ratio would re-resolve against the
          (narrower) subset width and select fewer features.

        All-numeric frames only (the wide path's contract).
        """
        if not isinstance(df, pd.DataFrame):
            raise EngineTypeError("Input must be a pandas DataFrame.")
        df = regularize_index(df)

        from pandas.api.types import is_bool_dtype, is_numeric_dtype

        numeric_cols = [
            c for c in df.columns if is_numeric_dtype(df[c]) and not is_bool_dtype(df[c])
        ]
        if len(numeric_cols) < len(df.columns):
            raise EngineValueError(
                "select_features supports all-numeric frames only (the "
                "mixed-dtype path one-hot encodes, which changes the "
                "feature layout)."
            )

        if self.interpolate_gaps_less_than is not None:
            # mirrors __call__: interpolation changes the NaN masks the
            # scores are computed from
            df = df.copy()
            for col in df.columns:
                df[col] = interpolate_small_gaps(df[col], self.interpolate_gaps_less_than)

        matrix, _, orig_of = self._build_feature_matrix(df)

        if cols_to_impute is None:
            cols_idx = np.arange(len(df.columns))
        else:
            if isinstance(cols_to_impute, (int, str)):
                cols_to_impute = [cols_to_impute]
            cols_idx = np.array(
                [
                    c if isinstance(c, int) else df.columns.get_loc(c)
                    for c in cols_to_impute
                ]
            )
        from .multivariate import _resolve_n_nearest

        resolved_k = _resolve_n_nearest(n_nearest_features, matrix.shape[1])
        sel = self.multivariate_imputer.select_features(
            matrix, cols_idx, n_nearest_features
        )
        needs = {}
        for c in cols_idx:
            origs = np.unique(orig_of[sel[int(c)]])
            needs[df.columns[int(c)]] = [df.columns[int(o)] for o in origs if o >= 0]
        return needs, resolved_k

    def __call__(
        self,
        df: pd.DataFrame,
        rows_to_impute=None,
        cols_to_impute=None,
        n_nearest_features: None | float | int = None,
        before=None,
        after=None,
    ) -> pd.DataFrame:
        if not isinstance(df, pd.DataFrame):
            raise EngineTypeError("Input must be a pandas DataFrame.")
        df = regularize_index(df)

        from pandas.api.types import is_bool_dtype, is_numeric_dtype

        numeric_cols = [
            c for c in df.columns if is_numeric_dtype(df[c]) and not is_bool_dtype(df[c])
        ]
        mixed = len(numeric_cols) < len(df.columns)

        n_interp = 0
        if self.interpolate_gaps_less_than is not None:
            df = df.copy()
            for col in numeric_cols:
                series = df[col]
                filled = interpolate_small_gaps(series, self.interpolate_gaps_less_than)
                # NaN bookkeeping on the raw arrays: the frame-level
                # isna().sum().sum() double-selection cost more than the
                # interpolation itself on per-series kernels
                n_interp += int(
                    np.isnan(series.to_numpy(dtype=np.float64, copy=False)).sum()
                    - np.isnan(filled.to_numpy()).sum()
                )
                df[col] = filled

        if mixed:
            return self._impute_mixed(
                df, rows_to_impute, cols_to_impute, n_nearest_features, before, after, n_interp
            )

        original_cols = df.columns
        n_original = len(original_cols)
        matrix, feature_names, _ = self._build_feature_matrix(df)
        feature_index = pd.Index(feature_names)

        if cols_to_impute is None:
            cols_idx = np.arange(n_original)
        else:
            if isinstance(cols_to_impute, (int, str)):
                cols_to_impute = [cols_to_impute]
            positions = []
            for c in cols_to_impute:
                if isinstance(c, int):
                    positions.append(c)
                elif isinstance(c, str):
                    positions.append(original_cols.get_loc(c))
                else:
                    raise EngineValueError("cols_to_impute entries must be int or str.")
            cols_idx = np.array(positions)

        if rows_to_impute is not None:
            if isinstance(rows_to_impute, (pd.DatetimeIndex, pd.TimedeltaIndex, pd.PeriodIndex)):
                rows_to_impute = df.index.get_indexer(rows_to_impute)
            elif isinstance(rows_to_impute, int):
                rows_to_impute = [rows_to_impute]
        elif before is not None or after is not None:
            mask = pd.Series(True, index=df.index)
            if before is not None:
                mask &= df.index < pd.to_datetime(str(before))
            if after is not None:
                mask &= df.index > pd.to_datetime(str(after))
            rows_to_impute = np.where(mask)[0]

        imputed = self.multivariate_imputer(
            matrix,
            rows_to_impute=rows_to_impute,
            cols_to_impute=cols_idx,
            n_nearest_features=n_nearest_features,
            # `matrix` was built above and is never read again
            _owns_input=True,
        )
        self.imputation_features_ = self.multivariate_imputer.imputation_features_
        mv_counts = self.multivariate_imputer.fill_counts_
        self.fill_counts_ = {"interp": n_interp, **mv_counts}
        if self.imputation_features_ is not None:
            self.imputation_features_ = {
                feature_index[col]: feature_index[features].tolist()
                for col, features in self.imputation_features_.items()
            }

        positions = feature_index.get_indexer(original_cols)
        return pd.DataFrame(imputed[:, positions], index=df.index, columns=original_cols)
