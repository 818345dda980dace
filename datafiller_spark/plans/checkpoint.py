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

Snapshot pinning (the Iceberg analogue): marks live ONLY per snapshot,
in one parquet file under ``_hw/snapshot=<id>`` that the commit writes
before its snapshot record (plans/pipeline.py) and never changes. A
resume anchors to a snapshot id and reads that snapshot's marks, so a
writer committing while the resume runs adds a new snapshot and cannot
move the marks the resume reads. There is no mutable head copy and no
temp copy: the marks are read and written on the driver with pyarrow,
and ``read_high_water`` hands them to Spark with ``createDataFrame``.
That bounds them by driver memory. Measured at 10^6 keys (an
11-character string key and the mark, 4-core host): the file is 11 MB;
``write_high_water`` raised the Python driver's peak RSS by 65 MB
(2.0–2.6 s), and ``read_high_water`` by 53 MB (2.7–3.1 s) while the
JVM heap held 135 MB for the resulting local relation.

Losing a snapshot's marks is SAFE: a key absent from the marks is
simply reprocessed from the start and merge-write replaces its rows —
the result is unchanged, only the incremental saving is lost.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bucket import time_bucket


def write_parquet_file(table: pa.Table, path: str) -> None:
    """Write ``table`` as the one parquet file ``path``: to a hidden temp
    name beside it, then renamed into place, so no reader sees a partial
    file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def snapshot_file(base_dir: str, name: str, snapshot_id: str) -> str:
    """The one file a snapshot's commit wrote under ``name`` (``_hw``,
    ``metrics`` or ``lineage``)."""
    return os.path.join(base_dir, name, f"snapshot={snapshot_id}", "part-0.parquet")


def read_high_water(
    spark: SparkSession, base_dir: str, snapshot_id: str | None = None
) -> DataFrame | None:
    """Per-key high-water marks of snapshot ``snapshot_id``; None for a
    fresh warehouse (no snapshot) or a snapshot without marks."""
    if snapshot_id is None:
        return None
    path = snapshot_file(base_dir, "_hw", snapshot_id)
    if not os.path.exists(path):
        return None
    return spark.createDataFrame(pq.read_table(path))


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


def write_high_water(marks: DataFrame, base_dir: str, snapshot_id: str) -> None:
    """Persist a marks table (``high_water_marks``) as snapshot
    ``snapshot_id``'s marks: collected to the driver and written with
    pyarrow (timestamps as UTC-adjusted microseconds, which Spark reads
    as ``timestamp``)."""
    write_parquet_file(marks.toArrow(), snapshot_file(base_dir, "_hw", snapshot_id))


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
