"""model_gapfill (per-series runner) vs the kernel run directly — must be identical."""

import datetime

import numpy as np
import pandas as pd
import pytest

from datafiller_spark.kernels import TimeSeriesImputer
from datafiller_spark.operators import model_gapfill, rollup
from datafiller_spark.sources import load_table


def _panel(n=120, gaps=((30, 36), (80, 83))):
    idx = pd.date_range("2024-01-01", periods=n, freq="min")
    t = np.arange(n)
    df = pd.DataFrame(
        {
            "m1": np.sin(2 * np.pi * t / 60) + 0.01 * t,
            "m2": np.cos(2 * np.pi * t / 60) - 0.02 * t,
        },
        index=idx,
    )
    holed = df.copy()
    for lo, hi in gaps:
        holed.iloc[lo:hi] = np.nan
    return df, holed


def test_spark_matches_kernel_bitexact(spark):
    _, holed = _panel()
    long = holed.reset_index().rename(columns={"index": "bucket"})
    both = pd.concat([long.assign(key="a"), long.assign(key="b")], ignore_index=True)
    sdf = spark.createDataFrame(both[["key", "bucket", "m1", "m2"]]).repartition(4)

    out = (
        model_gapfill(sdf, ["key"], "bucket", ["m1", "m2"], lags=(1, 2, -1, -2), min_samples_train=10)
        .where("key='a'")
        .orderBy("bucket")
        .toPandas()
    )

    oracle = TimeSeriesImputer(lags=[1, 2, -1, -2], min_samples_train=10)(
        holed.astype("float64")
    )
    np.testing.assert_array_equal(out[["m1", "m2"]].to_numpy(), oracle.to_numpy())


def test_partitioning_invariance(spark):
    """Same result at 1 and 8 input partitions, with Arrow batches of
    7 rows — every series then spans several batches, so the per-series
    runner's cross-batch carry is exercised — and with
    ``spark.sql.shuffle.partitions`` at 1 and 16, for every operator on
    the runner; model_gapfill also equals the kernel run directly. The
    runner's shuffle is sized to ``defaultParallelism`` whatever the
    session's shuffle setting."""
    from datafiller_spark.operators import encode_tier, gapfill_metrics, spline_fill

    _, holed = _panel(n=90, gaps=((20, 24),))
    long = holed.reset_index().rename(columns={"index": "bucket"})
    long = pd.concat([long.assign(key=k) for k in ("a", "b", "c")], ignore_index=True)
    oracle = TimeSeriesImputer(lags=[1, -1], min_samples_train=10)(holed.astype("float64"))
    cores = spark.sparkContext.defaultParallelism

    def run_all(parts):
        sdf = spark.createDataFrame(long[["key", "bucket", "m1", "m2"]]).repartition(parts)
        ops = {
            "model_gapfill": model_gapfill(
                sdf, ["key"], "bucket", ["m1", "m2"], lags=(1, -1), min_samples_train=10
            ),
            "gapfill_metrics": gapfill_metrics(
                sdf, ["key"], "bucket", "m1", lags=(1, -1), min_samples_train=10
            ),
            "spline_fill": spline_fill(sdf, ["key"], "bucket", "m1"),
            "encode_tier": encode_tier(sdf, ["key"], "bucket", "m1", "1m"),
        }
        out = {}
        for name, df in ops.items():
            assert df.rdd.getNumPartitions() == cores, name
            pdf = df.toPandas()
            out[name] = pdf.sort_values(list(pdf.columns[:2])).reset_index(drop=True)
        got = out["model_gapfill"]
        for k in ("a", "b", "c"):
            np.testing.assert_array_equal(got.loc[got["key"] == k, ["m1", "m2"]].to_numpy(), oracle.to_numpy())
        return out

    def run_with(conf, value, parts):
        prior = spark.conf.get(conf)
        try:
            spark.conf.set(conf, value)
            return run_all(parts)
        finally:
            spark.conf.set(conf, prior)

    baseline = run_all(1)
    runs = [
        run_all(8),
        run_with("spark.sql.execution.arrow.maxRecordsPerBatch", "7", 8),
        run_with("spark.sql.shuffle.partitions", "1", 8),
        run_with("spark.sql.shuffle.partitions", "16", 8),
    ]
    for out in runs:
        for name, got in out.items():
            pd.testing.assert_frame_equal(got, baseline[name], check_exact=True)


def test_grid_reinsertion_through_spark(spark):
    """Missing buckets (absent rows, not NULLs) come back filled."""
    full, _ = _panel(n=60, gaps=())
    holed = full.drop(full.index[20:26])
    long = holed.reset_index().rename(columns={"index": "bucket"}).assign(key="k")
    sdf = spark.createDataFrame(long[["key", "bucket", "m1", "m2"]])

    out = model_gapfill(sdf, ["key"], "bucket", ["m1", "m2"], lags=(1, 2, -1, -2), min_samples_train=10)
    pdf = out.orderBy("bucket").toPandas()
    assert len(pdf) == 60
    assert not pdf[["m1", "m2"]].isna().any().any()
    err = np.abs(pdf["m1"].to_numpy()[20:26] - full["m1"].to_numpy()[20:26]).mean()
    assert err < 0.2


def test_real_events_end_to_end(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    tier = rollup(events, ["event_type"], "ts", "value", "1h")
    filled = model_gapfill(
        tier, ["event_type"], "bucket", ["avg_value"], lags=(1, 2, -1, -2), min_samples_train=10
    )
    pdf = filled.toPandas()
    assert len(pdf) >= tier.count()
    assert pdf["avg_value"].isna().sum() == 0


def test_model_gapfill_multiple_value_columns(spark):
    """Multi-column fill: each series group imputes BOTH metrics in one
    kernel call (cross-column signal is exactly what the multivariate
    kernel exists for), matching the kernel run directly on pandas."""
    import datetime

    import numpy as np
    import pandas as pd

    from datafiller_spark.kernels import TimeSeriesImputer
    from datafiller_spark.operators import model_gapfill

    idx = pd.date_range("2024-01-01", periods=96, freq="h")
    t = np.arange(96, dtype="float64")
    a = np.sin(2 * np.pi * t / 24) + 0.05 * t
    b = 2.0 * a + 1.0
    a[20:26] = np.nan
    b[50:53] = np.nan
    rows = [
        ("k", ts.to_pydatetime(),
         None if np.isnan(x) else float(x),
         None if np.isnan(y) else float(y))
        for ts, x, y in zip(idx, a, b)
    ]
    sdf = spark.createDataFrame(rows, "key string, bucket timestamp, m1 double, m2 double")
    out = (
        model_gapfill(sdf, ["key"], "bucket", ["m1", "m2"],
                      lags=(1, 2, -1, -2), min_samples_train=20)
        .toPandas().sort_values("bucket").reset_index(drop=True)
    )
    assert out["m1"].isna().sum() == 0 and out["m2"].isna().sum() == 0

    frame = pd.DataFrame({"m1": a, "m2": b}, index=idx)
    expected = TimeSeriesImputer(lags=(1, 2, -1, -2), min_samples_train=20)(frame)
    # Arrow delivers microsecond timestamps while the local frame carries
    # nanoseconds; the float32 calendar features round once differently
    # → last-ULP differences (~1e-15) on a few modeled cells
    np.testing.assert_allclose(
        out[["m1", "m2"]].to_numpy(), expected.to_numpy(), rtol=1e-12, atol=1e-12
    )
