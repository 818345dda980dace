"""Structured Streaming front-end for the 1m tier.

The continuous-aggregate path for live ingest: tumbling 1-minute
windows with a watermark for late data. The aggregate set is the same
composable (count, sum, min, max) as the batch rollup, and every
finalized micro-batch is committed through the batch pipeline's own
warehouse commit (``_commit_delta`` in plans/pipeline.py): the 1m
merge-write, the 1h/1d cascade, gap-fill and Gorilla chunks, metrics,
lineage and a snapshot row — one write path, so a streamed warehouse is
indistinguishable from a batch-built one. Late rows within the
watermark update their window in place; later-than-watermark rows are
the snapshot re-rollup case handled by the batch resume
(plans/checkpoint.py), which is why a stream commit never advances the
high-water marks.

Per-batch cost: a micro-batch re-derives the WHOLE history of the keys
it touched, exactly as a batch resume does. A gap-filled chunk depends
on the model fitted over the whole series, so re-encoding only the
touched chunk periods cannot be correct. The commit rewrites only the
``<key0>=<v>`` partitions those keys fall in; the rest of the warehouse
is neither read nor rewritten.

The reference is batch-only (SURVEY §2.4); this is engine-new surface.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import read_high_water
from ..plans.pipeline import _check_layout, _commit_delta, latest_snapshot_id


def streaming_rollup(
    stream: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window 1m tier aggregation over a streaming DataFrame."""
    keys = list(key_cols)
    # watermarks require TIMESTAMP (NTZ is rejected); session TZ is UTC so
    # the cast is value-preserving for the naive-UTC test tables
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys, F.window(ts_col, "1 minute").alias("__win"))
        .agg(
            F.count(value_col).alias("n_points"),
            F.sum(value_col).alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
        .select(
            *keys,
            F.col("__win.start").alias("bucket"),
            "n_points",
            "sum_value",
            "min_value",
            "max_value",
            (F.col("sum_value") / F.col("n_points")).alias("avg_value"),
        )
    )


def start_tier_pipeline_stream(
    stream: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    query_name: str = "tier_pipeline_stream",
):
    """Continuous aggregate end-to-end: stream → finalized 1m windows →
    the batch pipeline's warehouse commit, one snapshot per non-empty
    micro-batch.

    ``foreachBatch`` receives only windows the watermark finalized, so
    every micro-batch is an incremental 1m delta. It is merged into
    ``tier=1m``, and the keys it touched are re-derived from their
    merged history into ``tier=1h``/``tier=1d`` and every
    ``chunks_tier=<t>`` — with ``run_pipeline``'s default ``lags``,
    ``min_samples_train`` and ``interpolate_gaps_less_than``. The
    commit records the high-water marks of the snapshot it follows,
    unchanged (see plans/checkpoint.py), and anchors to that snapshot.
    """
    keys = list(key_cols)
    # stamp fresh warehouses, refuse pre-versioning ones
    _check_layout(output_dir)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_df = batch_df.cache()
        head = latest_snapshot_id(spark, output_dir)
        marks = read_high_water(spark, output_dir, snapshot_id=head)
        if marks is None:  # nothing committed by a batch run yet
            marks = batch_df.select(*keys, F.col("bucket").alias("max_bucket")).limit(0)
        # the commit has materialized: drop its caches so a long-running
        # stream doesn't accumulate per-batch blocks
        _commit_delta(spark, batch_df, output_dir, keys, marks, head, merge=True).unpersist()

    return (
        streaming_rollup(stream, keys, ts_col, value_col, watermark)
        .writeStream.foreachBatch(handle_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
