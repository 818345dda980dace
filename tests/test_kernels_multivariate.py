"""MultivariateImputer behavioral tests.

Reference analogues: tests/test_multivariate.py — observed cells pass
through bit-exactly (:522-531), fallback equals column means (:215-245),
determinism (:154-167), targeting leaves untargeted NaNs.
"""

import numpy as np
import pytest

from datafiller_spark.exceptions import EngineValueError
from datafiller_spark.kernels import MultivariateImputer


def _mar_matrix(seed=0, shape=(200, 6), ratio=0.1):
    rng = np.random.default_rng(seed)
    base = rng.normal(size=shape)
    # correlated columns so ridge has signal
    x = base @ rng.normal(size=(shape[1], shape[1])) * 0.5 + base
    mask = rng.random(shape) < ratio
    x_nan = x.copy()
    x_nan[mask] = np.nan
    return x, x_nan, mask


def test_fewer_nans_out_than_in():
    _, x_nan, _ = _mar_matrix()
    out = MultivariateImputer()(x_nan)
    assert np.isnan(out).sum() == 0


def test_observed_cells_pass_through_bit_exact():
    _, x_nan, mask = _mar_matrix(seed=1)
    out = MultivariateImputer()(x_nan)
    np.testing.assert_array_equal(out[~mask], x_nan[~mask])


def test_determinism():
    _, x_nan, _ = _mar_matrix(seed=2)
    a = MultivariateImputer()(x_nan.copy())
    b = MultivariateImputer()(x_nan.copy())
    np.testing.assert_array_equal(a, b)


def test_imputation_recovers_linear_relationship():
    rng = np.random.default_rng(3)
    x0 = rng.normal(size=500)
    x = np.column_stack([x0, 2 * x0 + 1, -x0 + 2])
    x_nan = x.copy()
    holes = rng.random(500) < 0.1
    x_nan[holes, 1] = np.nan
    out = MultivariateImputer()(x_nan)
    assert np.abs(out[holes, 1] - x[holes, 1]).mean() < 0.05


def test_fallback_is_column_mean_when_untrainable():
    # min_samples_train above the row count forces the mean fallback.
    rng = np.random.default_rng(4)
    x = rng.normal(size=(10, 3))
    x[3, 0] = np.nan
    x[7, 2] = np.nan
    out = MultivariateImputer(min_samples_train=50)(x.copy())
    np.testing.assert_allclose(out[3, 0], np.nanmean(x[:, 0]), rtol=1e-12)
    np.testing.assert_allclose(out[7, 2], np.nanmean(x[:, 2]), rtol=1e-12)


def test_fallback_none_leaves_nans():
    x = np.ones((5, 2))
    x[2, 0] = np.nan
    out = MultivariateImputer(min_samples_train=50, fallback=None)(x)
    assert np.isnan(out[2, 0])


def test_row_col_targeting():
    _, x_nan, _ = _mar_matrix(seed=5, shape=(100, 4))
    nan_rows = np.flatnonzero(np.isnan(x_nan).any(axis=1))
    target_row = int(nan_rows[0])
    out = MultivariateImputer()(x_nan, rows_to_impute=[target_row])
    # targeted row has no NaN left
    assert not np.isnan(out[target_row]).any()
    # untargeted NaN rows untouched
    for r in nan_rows[1:]:
        np.testing.assert_array_equal(np.isnan(out[r]), np.isnan(x_nan[r]))


def test_col_targeting():
    _, x_nan, _ = _mar_matrix(seed=6, shape=(100, 4))
    out = MultivariateImputer()(x_nan, cols_to_impute=[0])
    assert not np.isnan(out[:, 0]).any()
    np.testing.assert_array_equal(np.isnan(out[:, 1:]), np.isnan(x_nan[:, 1:]))


def test_n_nearest_features_subsets():
    _, x_nan, _ = _mar_matrix(seed=7, shape=(150, 8))
    imp = MultivariateImputer()
    out = imp(x_nan, n_nearest_features=3)
    assert not np.isnan(out).any()
    assert all(len(feats) == 3 for feats in imp.imputation_features_.values())


def test_n_nearest_features_fraction():
    _, x_nan, _ = _mar_matrix(seed=8, shape=(150, 8))
    imp = MultivariateImputer()
    imp(x_nan, n_nearest_features=0.5)
    assert all(len(feats) == 4 for feats in imp.imputation_features_.values())


def test_rejects_inf():
    x = np.ones((5, 2))
    x[0, 0] = np.inf
    with pytest.raises(EngineValueError):
        MultivariateImputer()(x)


def test_rejects_1d():
    with pytest.raises(EngineValueError):
        MultivariateImputer()(np.ones(5))


def test_all_nan_column_left_alone():
    rng = np.random.default_rng(9)
    x = rng.normal(size=(50, 3))
    x[:, 1] = np.nan
    out = MultivariateImputer()(x)
    assert np.isnan(out[:, 1]).all()
    assert not np.isnan(out[:, [0, 2]]).any()


def test_integer_matrix_promoted():
    x = np.arange(40).reshape(10, 4).astype(np.int64)
    out = MultivariateImputer()(x)
    np.testing.assert_array_equal(out, x.astype(np.float64))


def test_index_selector_validation():
    """rows/cols_to_impute validation mirrors the reference's
    _process_to_impute: bools rejected, fractional floats rejected,
    duplicates deduplicated (fill counters not skewed)."""
    from datafiller_spark.exceptions import EngineTypeError

    _, x, _ = _mar_matrix(seed=5)
    imp = MultivariateImputer(min_samples_train=10)
    with pytest.raises(EngineTypeError):
        imp(x.copy(), cols_to_impute=[True, False])
    with pytest.raises(EngineTypeError):
        imp(x.copy(), cols_to_impute=np.array([True, False]))
    with pytest.raises(EngineValueError):
        imp(x.copy(), cols_to_impute=[0.5])
    with pytest.raises(EngineValueError):
        imp(x.copy(), cols_to_impute=[float("nan")])

    # integral floats are accepted; duplicates collapse to one target
    out_dup = imp(x.copy(), cols_to_impute=[0.0, 0, 0])
    targeted = imp.fill_counts_["model"] + imp.fill_counts_["fallback"]
    assert targeted == int(np.isnan(x[:, 0]).sum())
    out_single = MultivariateImputer(min_samples_train=10)(x.copy(), cols_to_impute=0)
    np.testing.assert_array_equal(out_dup, out_single)


def test_n_jobs_parallel_columns_bit_identical():
    """n_jobs only changes WHERE columns run, never their math: the
    process-pool path must be bit-identical to the serial loop,
    including the tracked per-column feature selections."""
    import numpy as np

    from datafiller_spark.kernels import MultivariateImputer

    rng = np.random.default_rng(9)
    base = rng.normal(size=(400, 1))
    x = (base @ rng.normal(size=(1, 12)) + 0.1 * rng.normal(size=(400, 12))).astype(np.float32)
    x[rng.random(x.shape) < 0.15] = np.nan

    serial_imp = MultivariateImputer(min_samples_train=10)
    parallel_imp = MultivariateImputer(min_samples_train=10, n_jobs=3)
    serial = serial_imp(x.copy(), n_nearest_features=8)
    parallel = parallel_imp(x.copy(), n_nearest_features=8)
    np.testing.assert_array_equal(serial, parallel)
    assert serial_imp.imputation_features_.keys() == parallel_imp.imputation_features_.keys()
    for c in serial_imp.imputation_features_:
        np.testing.assert_array_equal(
            serial_imp.imputation_features_[c], parallel_imp.imputation_features_[c]
        )


def test_select_features_blocked_targets_equal_unblocked(monkeypatch):
    """Scoring the targets in blocks (remainder block included) selects
    exactly what scoring them all at once selects."""
    from datafiller_spark.kernels import multivariate

    _, x_nan, _ = _mar_matrix(seed=3, shape=(120, 17), ratio=0.15)
    targets = [0, 2, 3, 5, 8, 9, 11, 16]
    whole = MultivariateImputer().select_features(x_nan.copy(), targets, 5)
    monkeypatch.setattr(multivariate, "_SELECT_BLOCK_TARGETS", 3)
    blocked = MultivariateImputer().select_features(x_nan.copy(), targets, 5)
    assert list(blocked) == list(whole) == targets
    for c in targets:
        np.testing.assert_array_equal(blocked[c], whole[c])


def _argsort_top_k(n_features, col, n_nearest, scores):
    """The full stable-argsort form of ``_sampled_cols``, kept as the oracle."""
    candidates = np.arange(n_features)
    candidates = candidates[candidates != col]
    with np.errstate(all="ignore"):
        feat_scores = np.nan_to_num(scores[candidates], nan=-np.inf)
    k = min(n_nearest, len(candidates))
    ranking = np.argsort(-feat_scores, kind="stable")
    return np.sort(candidates[ranking[:k]])


def test_sampled_cols_top_k_equals_stable_argsort():
    """The linear-time top-k selects exactly what the stable argsort does:
    ties to the lower index, NaN below -inf, k = 1 up to k >= F - 1."""
    rng = np.random.default_rng(13)
    imputer = MultivariateImputer()
    for trial in range(400):
        n = int(rng.integers(2, 40))
        # few distinct levels force ties at the k-th score
        scores = rng.integers(0, int(rng.integers(1, 6)), size=n).astype(np.float64)
        special = rng.random(n)
        scores[special < 0.15] = np.nan
        scores[(special >= 0.15) & (special < 0.25)] = -np.inf
        scores[(special >= 0.25) & (special < 0.3)] = np.inf
        if trial % 7 == 0:
            scores[:] = np.nan
        col = int(rng.integers(0, n))
        for k in {1, 2, n // 2 or 1, n - 2 or 1, n - 1, n}:
            got = imputer._sampled_cols(n, col, k, scores[None, :], 0)
            np.testing.assert_array_equal(got, _argsort_top_k(n, col, k, scores))
            assert got.dtype == np.arange(1).dtype
