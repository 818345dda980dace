"""Cluster-distributed wide-panel imputation.

The reference's published benchmark shape — ONE series, many sensor
columns (PEMS-BAY: 8064×60, production panels: 10^4-10^5 sensors) — is
the transpose of the engine's per-key gap-fill: there is a single time
index, and the parallelism axis is the TARGET COLUMN. Column
imputations are independent by construction (each reads the shared
matrix, writes only its own column — the same property the kernel's
``n_jobs`` pool exploits on one node), so the cluster form is:

    one Spark task per column chunk, each running
    ``TimeSeriesImputer(..., cols_to_impute=chunk)`` → assemble the
    imputed columns.

What each task RECEIVES depends on ``n_nearest_features``:

- unset, or a panel with non-numeric columns (whose one-hot encoding
  changes the feature layout): every model may read every column, so
  the full panel is broadcast once and each task reads it.
- set on an all-numeric panel (the wide-panel configuration — nobody
  regresses a sensor on 10^5 others): the driver first runs the
  kernel's own feature-SELECTION pass
  (``TimeSeriesImputer.select_features``) on the full panel, then
  ships each chunk task ONLY its target columns plus the original
  columns their selected features derive from. Per-task input is
  bounded by ``columns_per_task × (n_nearest + 1)`` columns instead of
  the whole panel. Bit-parity with the kernel run on the full panel
  holds because scoring/standardization are per-column-pair and the
  stable top-k tie-break is by column order, which the
  order-preserving subset keeps (pinned by tests/test_wide_gapfill.py).
  The selection pass costs the same scoring BLAS the tasks would have
  paid anyway, run once on the driver (which already holds the panel).

Every executor pays one lag-matrix build for its chunks (seconds) in
exchange for cluster-wide fan-out of the pattern/optimask/ridge work —
the right trade once columns × patterns dwarf it. Outputs are
bit-identical to the single-shot kernel (pinned by
tests/test_wide_gapfill.py): per-column results do not depend on which
other columns are being imputed in the same call.

Assembly has two paths:

- small panels: tasks return their imputed chunks and the driver
  concatenates (2× result memory at peak — fine below the budget).
- past ``spill_cell_budget`` cells (or with ``spill_dir`` set), each
  task WRITES its chunk to parquet and returns only the path; the
  driver streams the files into one preallocated float64 block, so
  peak driver memory is the result plus ONE chunk. Parquet round-trips
  float64 bit-exactly, so parity with the kernel is unchanged. On a
  real cluster ``spill_dir`` must be shared storage (the same contract
  as every other output_dir in the engine); a budget-triggered spill
  with no ``spill_dir`` refuses to run off local mode rather than
  writing executor-local files the driver cannot read.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from ..exceptions import EngineValueError


def wide_gapfill(
    spark: SparkSession,
    frame: pd.DataFrame,
    lags: Sequence[int] = (1, 2, 3, -1, -2, -3),
    min_samples_train: int | None = None,
    interpolate_gaps_less_than: int | None = None,
    n_nearest_features: int | float | None = None,
    add_time_features: bool = True,
    columns_per_task: int = 8,
    spill_dir: str | None = None,
    spill_cell_budget: int = 200_000_000,
) -> pd.DataFrame:
    """Impute a wide single-series panel across the cluster.

    Args:
        frame: pandas DataFrame with a DatetimeIndex (the reference's
            TimeSeriesImputer input shape).
        columns_per_task: chunk size — small enough to fan out, large
            enough to amortize the per-task lag-matrix build.
        spill_dir: directory for chunk parquet files; setting it forces
            the spill path. Must be cluster-shared storage off local
            mode.
        spill_cell_budget: REGULARIZED-grid rows × columns above which
            chunks spill to parquet instead of riding the driver
            collect (default 2e8 cells ≈ 1.6 GB of float64 — the
            collect path would briefly need twice that).

    Returns the fully imputed frame, bit-identical to
    ``TimeSeriesImputer(...)(frame, n_nearest_features=...)`` run
    locally.
    """
    from pandas.api.types import is_bool_dtype, is_numeric_dtype

    from ..kernels.timeseries import TimeSeriesImputer, regularize_index

    cols = list(frame.columns)
    chunks = [cols[i : i + columns_per_task] for i in range(0, len(cols), columns_per_task)]
    lags_list = [int(x) for x in lags]

    # the kernel regularizes the index (inserting all-NaN grid rows), so
    # the BUDGET must count regularized rows (a sparse index can inflate
    # the output well past the input row count), the spilled pieces have
    # the regularized length, and the assembled result carries the
    # regularized index — same as the collect path
    out_index = regularize_index(frame.iloc[:, :0]).index
    all_numeric = all(
        is_numeric_dtype(dt) and not is_bool_dtype(dt) for dt in frame.dtypes
    )
    # spill assembles one float64 block: bools would come back 0.0/1.0
    # and mixed dtypes can't assemble at all, so both stay on collect
    spill = spill_dir is not None or len(out_index) * len(cols) > spill_cell_budget
    if spill and not all_numeric:
        if spill_dir is not None:
            raise EngineValueError(
                "wide_gapfill spill assembly requires an all-numeric "
                "(non-bool) panel; mixed/bool panels use the driver-"
                "collect path."
            )
        spill = False  # budget-triggered: fall back to collect
    master = spark.sparkContext.master or ""
    if spill and spill_dir is None and not master.startswith("local"):
        raise EngineValueError(
            "wide_gapfill: the panel exceeds spill_cell_budget and no "
            "spill_dir was given. Off local mode the driver-local tempdir "
            "is not visible to executors — pass a cluster-shared spill_dir."
        )
    tmp_created = None
    if spill and spill_dir is None:
        tmp_created = tempfile.mkdtemp(prefix="dfspark_wide_")
        spill_dir = tmp_created
    if spill:
        os.makedirs(spill_dir, exist_ok=True)

    def _make_imputer():
        return TimeSeriesImputer(
            lags=lags_list,
            min_samples_train=min_samples_train,
            interpolate_gaps_less_than=interpolate_gaps_less_than,
            add_time_features=add_time_features,
        )

    subset = n_nearest_features is not None and all_numeric
    if subset:
        # kernel-exact selection pass: which original columns does each
        # target's model read, and the int n_nearest resolved against
        # the FULL panel width (a float ratio must not re-resolve
        # against the narrower subset)
        needs, resolved_k = _make_imputer().select_features(
            frame, None, n_nearest_features
        )
        col_pos = {c: i for i, c in enumerate(cols)}
        chunk_cols = []
        for chunk in chunks:
            needed = set(chunk)
            for t in chunk:
                needed.update(needs[t])
            # panel order preserved — the stable tie-break depends on it
            chunk_cols.append(sorted(needed, key=col_pos.__getitem__))
        task_n_nearest = resolved_k
        bc = None
    else:
        bc = spark.sparkContext.broadcast(frame)
        task_n_nearest = n_nearest_features

    def impute_chunk(task):
        ci, chunk, sub = task
        panel = bc.value if sub is None else sub
        filled = _make_imputer()(
            panel, cols_to_impute=list(chunk), n_nearest_features=task_n_nearest
        )
        piece = filled[list(chunk)]
        if not spill:
            return ci, piece
        # positional string column names: parquet requires strings and
        # sensor labels are often ints; the driver restores by position
        path = os.path.join(spill_dir, f"chunk_{ci:06d}.parquet")
        piece.set_axis([f"c{k}" for k in range(piece.shape[1])], axis=1).reset_index(
            drop=True
        ).to_parquet(path)
        return ci, path

    try:
        results = []
        if subset:
            # waves bound the driver's transient sub-frame copies: only
            # `wave` chunks' column subsets exist at once
            wave = max(2 * spark.sparkContext.defaultParallelism, 16)
            for w0 in range(0, len(chunks), wave):
                tasks = [
                    (ci, chunks[ci], frame[chunk_cols[ci]])
                    for ci in range(w0, min(w0 + wave, len(chunks)))
                ]
                results.extend(
                    spark.sparkContext.parallelize(tasks, numSlices=len(tasks))
                    .map(impute_chunk)
                    .collect()
                )
        else:
            results = (
                spark.sparkContext.parallelize(
                    [(ci, chunk, None) for ci, chunk in enumerate(chunks)],
                    numSlices=len(chunks),
                )
                .map(impute_chunk)
                .collect()
            )
        results.sort(key=lambda r: r[0])
        if not spill:
            return pd.concat([piece for _, piece in results], axis=1)[cols]

        vals = np.empty((len(out_index), len(cols)), dtype=np.float64)
        for ci, path in results:
            piece = pd.read_parquet(path)
            if len(piece) != len(out_index):
                raise EngineValueError(
                    f"spilled chunk {ci} has {len(piece)} rows, expected "
                    f"{len(out_index)} (regularized grid) — inconsistent "
                    "per-chunk regularization."
                )
            lo = ci * columns_per_task
            vals[:, lo : lo + piece.shape[1]] = piece.to_numpy(dtype=np.float64)
        return pd.DataFrame(vals, index=out_index, columns=cols)
    finally:
        # release the broadcast panel and the driver tempdir even when a
        # task or the assembly fails
        if bc is not None:
            bc.unpersist()
        if tmp_created is not None:
            shutil.rmtree(tmp_created, ignore_errors=True)
