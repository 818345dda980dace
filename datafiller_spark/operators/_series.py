"""The per-series runner every per-series operator shares.

``repartition(n, keys) → sortWithinPartitions(keys, order) → mapInPandas``:
one hash shuffle, then Arrow moves PARTITION-sized batches into Python
instead of one tiny frame per series. ``groupBy().applyInPandas`` pays a
per-group fixed cost (Arrow batch framing + pandas construction, ~8 ms)
that dominates wall and serializes scaling when groups are thousands of
small series (measured: the bare kernel scales 0.98 at 1→4 procs while
the applyInPandas stage scaled 0.56).

The shuffle is sized to ``defaultParallelism`` — one Python task per
core slot — rather than following ``spark.sql.shuffle.partitions`` or
AQE. Each Python task pays a fixed set-up toll (0.2–0.25 CPU-s on a
4-core host, mostly ``importlib.invalidate_caches`` re-reading
``pyspark.zip`` in ``setup_spark_files``), so 16 shuffle partitions on 4
cores pay it four times per core; and AQE merges a small (<1 MB by
default) kernel input into ONE task, serializing the kernel math. A numbered
repartition is never coalesced by AQE, so the stage runs exactly one
task per core whatever the session's shuffle settings.

Series are split with NumPy key-change scans over the sorted batch; a
series spanning two Arrow batches of a partition is carried over, so
every series reaches ``fn`` whole and in ``order_col`` order — results
do not depend on partitioning or ``spark.sql.execution.arrow.
maxRecordsPerBatch`` (pinned by tests/test_impute_spark.py).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..exceptions import EngineError
from ..kernels.timeseries import TimeSeriesImputer


def _per_series(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    fn: Callable[[dict, pd.DataFrame], pd.DataFrame],
    schema: StructType,
) -> DataFrame:
    """Run ``fn(key_values, series_frame)`` once per series of ``df``.

    ``series_frame`` is a read-only slice holding the series' rows
    sorted by ``order_col`` (all of ``df``'s columns); ``fn`` returns a
    pandas frame carrying the columns of ``schema``."""
    keys = list(keys)
    out_cols = schema.fieldNames()

    def run_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        change = np.zeros(len(pdf), dtype=bool)
        change[0] = True
        for k in keys:
            kv = pdf[k].to_numpy()
            change[1:] |= kv[1:] != kv[:-1]
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], len(pdf))
        frames = [
            fn({k: pdf[k].iat[s] for k in keys}, pdf.iloc[s:e])
            for s, e in zip(starts, ends)
        ]
        return pd.concat(frames, ignore_index=True)[out_cols]

    def process_partition(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            # hold back the trailing series — it may continue in the
            # next Arrow batch of this partition
            tail = np.ones(len(pdf), dtype=bool)
            for k in keys:
                kv = pdf[k].to_numpy()
                tail &= kv == kv[-1]
            # rows are key-sorted, so the last series is a contiguous tail
            first_of_last = len(pdf) - int(tail[::-1].argmin()) if not tail.all() else 0
            carry = pdf.iloc[first_of_last:]
            if first_of_last:
                yield run_batch(pdf.iloc[:first_of_last])
        if carry is not None and len(carry):
            yield run_batch(carry)

    return (
        df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)
        .sortWithinPartitions(*keys, order_col)
        .mapInPandas(process_partition, schema=schema)
    )


def _impute(frame: pd.DataFrame, n_nearest_features=None, **params) -> tuple[pd.DataFrame, dict]:
    """``TimeSeriesImputer(**params)(frame)`` and its per-step fill
    counts. A series too short for frequency inference (or a single row)
    passes through unfilled, with zero counts, rather than failing the
    stage. Only the engine's own validation errors are expected here;
    anything else is a genuine kernel bug and must propagate."""
    imputer = TimeSeriesImputer(**params)
    try:
        filled = imputer(frame, n_nearest_features=n_nearest_features)
    except EngineError:
        return frame, {"interp": 0, "model": 0, "fallback": 0}
    return filled, imputer.fill_counts_
