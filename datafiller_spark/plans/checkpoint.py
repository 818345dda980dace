"""High-water checkpointing for resumable incremental rollups.

The continuous-aggregate contract: each run reprocesses only buckets at
or past the per-key high-water mark, re-aggregates them, and MERGES into
the persisted tier (new rows replace prior rows with the same
(key, bucket); untouched keys/buckets keep their history). The
high-water mark is the last bucket *seen*, treated as OPEN: a resume
reprocesses that bucket wholesale from raw, so sub-bucket-aligned late
rows inside it can never be double-counted — the re-aggregated bucket
row replaces the prior one instead of adding to it.

The caller hands the resume run the FULL raw table (an Iceberg
incremental read plus the open bucket's prior rows also satisfies the
contract); ``incremental_filter`` prunes everything strictly before the
open bucket.

The marks record which raw rows the BATCH path (``run_pipeline``) has
consumed, and only a batch commit advances them. A streaming commit
(streaming/stream.py) merges through the same warehouse commit, but its
source progress lives in its own Structured Streaming checkpoint: it
records the marks of the snapshot it follows, unchanged, under its own
snapshot id. Advancing them would let ``incremental_filter`` drop a raw
row that arrives later than the stream's watermark inside a streamed
bucket, and the batch resume could then never heal it.

Snapshot pinning (the Iceberg analogue): every committed run writes its
high-water table to an IMMUTABLE per-snapshot path
(``_hw/snapshot=<id>``) in addition to the mutable head copy
(``_checkpoint_high_water``). A resume anchors to a snapshot id and
reads that snapshot's marks — a writer racing the resume can move the
head, but never the pinned copy the resume is reading. Reads are lazy
Spark scans (never a driver-side collect: the checkpoint is one row per
key, which at 10^12 sequences can be millions of rows); the mutable
head, which the same run later overwrites, is file-copied to a
run-scoped temp dir before the lazy read so the plan never points at
deleted files.

Losing the head copy is SAFE: a key absent from the marks is simply
reprocessed from the start and merge-write replaces its rows — the
result is unchanged, only the incremental saving is lost.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bucket import time_bucket


def checkpoint_path(base_dir: str, snapshot_id: str | None = None) -> str:
    if snapshot_id is None:
        return os.path.join(base_dir, "_checkpoint_high_water")
    return os.path.join(base_dir, "_hw", f"snapshot={snapshot_id}")


def read_high_water(
    spark: SparkSession, base_dir: str, snapshot_id: str | None = None
) -> DataFrame | None:
    """Per-key high-water marks; ``snapshot_id`` pins the immutable copy
    a specific commit wrote (outputs written before snapshot pinning
    existed fall back to the mutable head)."""
    if snapshot_id is not None:
        pinned = checkpoint_path(base_dir, snapshot_id)
        if os.path.exists(pinned):
            # immutable: never overwritten, so a lazy scan is safe
            return spark.read.parquet(pinned)
    head = checkpoint_path(base_dir)
    if not os.path.exists(head):
        return None
    # The head copy is overwritten when THIS run commits; snapshot its
    # files to a run-scoped temp dir so the lazy plan outlives the
    # overwrite. File copy, not collect: O(bytes), zero driver rows.
    # The temp dir must outlive the COMMIT (returned lazy frames may
    # re-read it on cache eviction), so it is reaped at process exit
    # rather than per-run — a long-lived driver leaks zero dirs.
    tmp = os.path.join(tempfile.mkdtemp(prefix="dfspark_hw_"), "hw")
    _TEMP_HW_DIRS.append(os.path.dirname(tmp))
    shutil.copytree(head, tmp)
    return spark.read.parquet(tmp)


_TEMP_HW_DIRS: list[str] = []


@atexit.register
def _cleanup_hw_temp_dirs() -> None:
    for d in _TEMP_HW_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _TEMP_HW_DIRS.clear()


def high_water_marks(
    df_tier_1m: DataFrame,
    key_cols: list[str],
    prior: DataFrame | None = None,
) -> DataFrame:
    """Per-key max bucket of ``df_tier_1m``, unioned with the ``prior``
    marks so keys with no new data this run retain theirs (lazy)."""
    hw = df_tier_1m.groupBy(*key_cols).agg(F.max("bucket").alias("max_bucket"))
    if prior is None:
        return hw
    return (
        hw.unionByName(prior.select(*key_cols, "max_bucket"))
        .groupBy(*key_cols)
        .agg(F.max("max_bucket").alias("max_bucket"))
    )


def write_high_water(marks: DataFrame, base_dir: str, snapshot_id: str | None = None) -> None:
    """Persist a marks table (``high_water_marks``). With
    ``snapshot_id`` it lands on the immutable per-snapshot path and the
    mutable head is refreshed from it by file copy."""
    head = checkpoint_path(base_dir)
    if snapshot_id is None:
        marks.coalesce(1).write.mode("overwrite").parquet(head)
        return
    pinned = checkpoint_path(base_dir, snapshot_id)
    marks.coalesce(1).write.mode("overwrite").parquet(pinned)
    staged = head + "__new"
    if os.path.exists(staged):
        shutil.rmtree(staged)
    shutil.copytree(pinned, staged)
    if os.path.exists(head):
        shutil.rmtree(head)
    os.rename(staged, head)


def incremental_filter(
    raw: DataFrame,
    high_water: DataFrame | None,
    key_cols: list[str],
    ts_col: str,
    tier: str = "1m",
) -> DataFrame:
    """Keep rows whose bucket is at or past the key's high-water bucket.

    The high-water bucket itself is OPEN and reprocessed wholesale (all
    its raw rows, not just post-mark ones), so the re-aggregated bucket
    row is complete and replaces the prior row on merge — idempotent for
    any sub-bucket timestamp alignment. Keys unseen in the checkpoint
    pass through untouched. The predicate is a broadcast join + filter,
    so at scale it prunes at the scan when the source table is
    partitioned on the key/time.
    """
    if high_water is None:
        return raw
    return (
        raw.join(F.broadcast(high_water), on=key_cols, how="left")
        .where(
            F.col("max_bucket").isNull()
            | (time_bucket(ts_col, tier) >= F.col("max_bucket"))
        )
        .drop("max_bucket")
    )
