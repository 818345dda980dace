"""Cluster-distributed wide-panel imputation == the local kernel,
bit for bit (columns are independent, so chunked imputation over a
broadcast frame composes exactly)."""

import tracemalloc

import numpy as np
import pandas as pd

from datafiller_spark.kernels import TimeSeriesImputer
from datafiller_spark.operators import wide_gapfill
from datafiller_spark.sources import apply_mask, make_mar_mask


def _panel(n=300, k=12, seed=4):
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n, 1))
    data = base @ rng.normal(size=(1, k)) + 0.1 * rng.normal(size=(n, k))
    idx = pd.date_range("2024-03-01", periods=n, freq="5min")
    truth = pd.DataFrame(data, index=idx, columns=[f"s{i}" for i in range(k)])
    return apply_mask(truth, make_mar_mask(truth.shape, 0.15, np.random.default_rng(1)))


def test_wide_gapfill_equals_local_kernel_bit_exact(spark):
    holed = _panel()
    local = TimeSeriesImputer(
        lags=(1, 2, -1, -2), min_samples_train=10, interpolate_gaps_less_than=3
    )(holed, n_nearest_features=8)
    distributed = wide_gapfill(
        spark,
        holed,
        lags=(1, 2, -1, -2),
        min_samples_train=10,
        interpolate_gaps_less_than=3,
        n_nearest_features=8,
        columns_per_task=5,  # uneven chunking on purpose
    )
    assert list(distributed.columns) == list(local.columns)
    np.testing.assert_array_equal(local.to_numpy(), distributed.to_numpy())
    assert distributed.isna().sum().sum() == 0


def test_wide_gapfill_spill_path_bit_exact(spark, tmp_path):
    """Forcing the parquet-spill assembly (spill_dir set) must produce
    the identical frame: parquet round-trips float64 bit-exactly and the
    driver assembles from files, never a full collect+concat."""
    holed = _panel()
    kwargs = dict(
        lags=(1, 2, -1, -2),
        min_samples_train=10,
        interpolate_gaps_less_than=3,
        n_nearest_features=8,
        columns_per_task=5,
    )
    via_collect = wide_gapfill(spark, holed, **kwargs)
    via_spill = wide_gapfill(spark, holed, spill_dir=str(tmp_path / "chunks"), **kwargs)
    np.testing.assert_array_equal(via_collect.to_numpy(), via_spill.to_numpy())
    assert list(via_spill.columns) == list(holed.columns)
    assert via_spill.index.equals(via_collect.index)


def test_wide_gapfill_ten_thousand_columns_spills(spark, tmp_path):
    """A 10^4-sensor panel (int column labels, like PEMS) runs through
    the spill path without a driver concat of collected chunks; imputed
    cells are verified against the local kernel on the holed block."""
    rng = np.random.default_rng(9)
    n, k = 36, 10_000
    idx = pd.date_range("2024-03-01", periods=n, freq="5min")
    data = rng.normal(size=(n, k))
    panel = pd.DataFrame(data, index=idx, columns=list(range(k)))
    # holes only in the first 12 columns: the other chunks verify the
    # pass-through path at scale without per-column model work
    panel.iloc[5:9, 0:12] = np.nan
    kwargs = dict(
        lags=(1, -1), min_samples_train=8, n_nearest_features=4, columns_per_task=1000
    )
    # the driver's selection pass scores every target against ~3·10^4
    # lag features: blocked scoring keeps its peak far below the ~11 GB
    # of scoring all 10^4 targets at once
    tracemalloc.start()
    try:
        out = wide_gapfill(
            spark,
            panel,
            spill_cell_budget=100_000,  # force the spill decision by budget
            **kwargs,
        )
        # assembly equivalence at width: the collect path fits at 36 rows,
        # so it is the ground truth for the spilled parquet assembly
        via_collect = wide_gapfill(spark, panel, **kwargs)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 2 * 2**30, f"driver peak {peak / 2**30:.2f} GiB"
    assert out.shape == panel.shape and out.isna().sum().sum() == 0
    np.testing.assert_array_equal(out.to_numpy(), via_collect.to_numpy())
    obs = ~panel.iloc[:, 12:].isna()
    np.testing.assert_array_equal(
        out.iloc[:, 12:].to_numpy()[obs.to_numpy()], panel.iloc[:, 12:].to_numpy()[obs.to_numpy()]
    )


def test_wide_gapfill_spill_with_missing_grid_rows(spark, tmp_path):
    """A panel whose index is missing grid timestamps regularizes inside
    the kernel (more output rows than input): the spill assembly must
    carry the regularized index and still match the collect path."""
    holed = _panel(n=120, k=10)
    gappy = holed.drop(holed.index[[30, 31, 57]])  # drop grid rows
    kwargs = dict(lags=(1, -1), min_samples_train=10, columns_per_task=4)
    via_collect = wide_gapfill(spark, gappy, **kwargs)
    via_spill = wide_gapfill(spark, gappy, spill_dir=str(tmp_path / "g"), **kwargs)
    assert len(via_spill) == 120  # regularized back to the full grid
    assert via_spill.index.equals(via_collect.index)
    np.testing.assert_array_equal(via_collect.to_numpy(), via_spill.to_numpy())


def test_wide_gapfill_subset_equals_broadcast_bit_exact(spark):
    """With n_nearest_features set, the column-subset shipping path
    (each task receives only its targets + their selected feature
    columns) must equal the local kernel on the full panel — what the
    broadcast path runs per chunk — bit for bit: scoring/
    standardization are per-column-pair and the stable top-k tie-break
    survives an order-preserving subset."""
    holed = _panel(n=240, k=14)
    kernel = dict(lags=(1, 2, -1), min_samples_train=10, interpolate_gaps_less_than=3)
    via_subset = wide_gapfill(spark, holed, n_nearest_features=6, columns_per_task=4, **kernel)
    local = TimeSeriesImputer(**kernel)(holed, n_nearest_features=6)
    np.testing.assert_array_equal(via_subset.to_numpy(), local.to_numpy())


def test_wide_gapfill_subset_float_ratio_resolves_on_full_width(spark):
    """A float n_nearest_features must resolve against the FULL panel's
    feature width before chunking: re-resolving per subset would select
    fewer features and silently change the fills."""
    holed = _panel(n=200, k=12)
    kwargs = dict(lags=(1, -1), min_samples_train=10, columns_per_task=3)
    local = TimeSeriesImputer(lags=(1, -1), min_samples_train=10)(
        holed, n_nearest_features=0.25
    )
    via_subset = wide_gapfill(spark, holed, n_nearest_features=0.25, **kwargs)
    np.testing.assert_array_equal(local.to_numpy(), via_subset.to_numpy())


def test_wide_gapfill_subset_bounds_task_input(spark):
    """On a genuinely wide panel the subset path ships each task a
    small fraction of the columns: the driver-side selection pass bounds
    per-chunk input by chunk × (n_nearest + 1) original columns."""
    rng = np.random.default_rng(11)
    n, k = 48, 2_000
    idx = pd.date_range("2024-03-01", periods=n, freq="5min")
    panel = pd.DataFrame(
        rng.normal(size=(n, k)), index=idx, columns=[f"s{i}" for i in range(k)]
    )
    panel.iloc[7:11, 0:10] = np.nan
    needs, resolved_k = TimeSeriesImputer(lags=(1, -1), min_samples_train=8).select_features(
        panel, None, 4
    )
    assert resolved_k == 4
    cols = list(panel.columns)
    cpt = 50
    worst = 0
    for lo in range(0, k, cpt):
        chunk = cols[lo : lo + cpt]
        needed = set(chunk)
        for t in chunk:
            needed.update(needs[t])
        worst = max(worst, len(needed))
    # ≤ targets + targets × n_nearest originals, and a small fraction of k
    assert worst <= cpt * (4 + 1)
    assert worst < k // 4
    out = wide_gapfill(
        spark, panel, lags=(1, -1), min_samples_train=8,
        n_nearest_features=4, columns_per_task=cpt,
    )
    local = TimeSeriesImputer(lags=(1, -1), min_samples_train=8)(
        panel, n_nearest_features=4
    )
    np.testing.assert_array_equal(local.to_numpy(), out.to_numpy())


def test_wide_gapfill_extension_dtypes_collect_path(spark):
    """Nullable pandas extension dtypes must not crash the dtype gate on
    the (non-spill) collect path."""
    holed = _panel(n=80, k=4)
    ext = holed.astype("Float64")
    out = wide_gapfill(spark, ext, lags=(1, -1), min_samples_train=10, columns_per_task=2)
    assert out.isna().sum().sum() == 0
