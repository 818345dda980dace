"""Two runner layers:

- ``_sorted_runs`` — ``repartition(n, keys) → sortWithinPartitions(keys,
  order) → mapInPandas``: one hash shuffle, then Arrow moves
  PARTITION-sized batches into Python. A run (the rows sharing ``keys``)
  that spans two Arrow batches of a partition is carried over, so every
  call of the batch function sees whole runs only, each in ``order``
  order — results do not depend on partitioning or
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (pinned by
  tests/test_impute_spark.py and tests/test_dedup_similarity.py). Task
  memory is one Arrow batch plus the longest run.
- ``_per_series`` — the per-key split on top: one ``fn`` call per
  series. ``groupBy().applyInPandas`` pays a per-group fixed cost
  (Arrow batch framing + pandas construction, ~8 ms) that dominates wall
  and serializes scaling when groups are thousands of small series
  (measured: the bare kernel scales 0.98 at 1→4 procs while the
  applyInPandas stage scaled 0.56).

The shuffle is sized to ``defaultParallelism`` — one Python task per
core slot — rather than following ``spark.sql.shuffle.partitions`` or
AQE. Each Python task pays a fixed set-up cost, so 16 shuffle partitions
on 4 cores pay it four times per core; and AQE merges a small (<1 MB by
default) kernel input into ONE task, serializing the kernel math. A
numbered repartition is never coalesced by AQE, so the stage runs
exactly one task per core whatever the session's shuffle settings. The
rule was set when that cost was 0.2–0.25 CPU-s per task, mostly
``importlib.invalidate_caches`` re-reading ``pyspark.zip`` and the
``spark-core`` jar; ``get_spark``'s worker daemon
(``datafiller_spark._worker_daemon``) takes both off the worker path, and
the call now takes under 1 ms.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..exceptions import EngineError
from ..kernels.timeseries import TimeSeriesImputer


def _sorted_runs(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    fn: Callable[[pd.DataFrame, np.ndarray], Iterator[pd.DataFrame]],
    schema: StructType | str,
) -> DataFrame:
    """Yield the frames of ``fn(batch, starts)`` over ``df`` shuffled by
    ``keys`` and sorted by ``keys`` then ``order_cols``.

    ``batch`` holds whole runs only (all of ``df``'s columns) and
    ``starts`` the row offset of each run in it; ``fn`` yields frames
    carrying the columns of ``schema``."""
    keys = list(keys)

    def process_partition(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            # a run starts wherever a key changes
            change = np.zeros(len(pdf), dtype=bool)
            change[0] = True
            for k in keys:
                kv = pdf[k].to_numpy()
                change[1:] |= kv[1:] != kv[:-1]
            starts = np.flatnonzero(change)
            # hold back the last run — it may continue in the next Arrow
            # batch of this partition
            carry = pdf.iloc[starts[-1] :]
            if len(starts) > 1:
                yield from fn(pdf.iloc[: starts[-1]], starts[:-1])
        if carry is not None:
            yield from fn(carry, np.zeros(1, dtype=np.int64))

    return (
        df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)
        .sortWithinPartitions(*keys, *order_cols)
        .mapInPandas(process_partition, schema=schema)
    )


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

    def run_batch(pdf: pd.DataFrame, starts: np.ndarray):
        ends = np.append(starts[1:], len(pdf))
        frames = [
            fn({k: pdf[k].iat[s] for k in keys}, pdf.iloc[s:e])
            for s, e in zip(starts, ends)
        ]
        yield pd.concat(frames, ignore_index=True)[out_cols]

    return _sorted_runs(df, keys, [order_col], run_batch, schema)


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
