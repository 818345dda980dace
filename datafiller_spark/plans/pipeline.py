"""The continuous-aggregate pipeline: raw → 1m → 1h → 1d, gap-filled,
encoded, checkpointed, with per-partition lineage and metrics rows.

Scale design (what survives 1000 executors / 10^12 sequences):

- Raw is scanned ONCE (the 1m rollup); coarser tiers cascade from the
  tier below. Spark's hash aggregate already does map-side partial
  aggregation; for heavily skewed sources an explicit salt stage
  pre-aggregates on (key, bucket, salt) first, bounding any single
  reducer's input to 1/S of the hottest key — this composes exactly
  because the metrics are count/sum/min/max.
- Cascade, gap-fill (pandas ridge kernel) and encode run as ONE
  per-series kernel over the observed 1m tier rows, never raw rows: the
  expensive Python stage sees orders of magnitude fewer rows than the
  scan, and the 1m tier is shuffled once for all three tiers.
- Persisted state: ``tier=<t>`` holds the OBSERVED tier rows (the
  mergeable ground truth — count/sum/min/max compose, so (key, bucket)
  replacement is always safe); the gap-filled representation is
  persisted as Gorilla chunks. Derived data is never the merge source
  of truth: a partial re-derivation can then never clobber history.
- Resume: the 1m delta (from the high-water filter) merges into the
  observed 1m tier; every DERIVED product — 1h/1d cascade, gap-fill,
  chunks — is then recomputed from the MERGED tier restricted to the
  keys the delta touched. Cascade boundaries and open chunks are thus
  always rebuilt from complete history, and the merge replaces complete
  rows with complete rows. Untouched keys are never read or rewritten.
  This commit (``_commit_delta``) is the warehouse's only write path:
  a streaming micro-batch (streaming/stream.py) is committed through it
  as a 1m delta too.
- Lineage: one row per (tier, spark partition) recording row counts and
  bucket ranges — enough to re-drive any partition.
- Metrics: per tier: observed rows in, grid size, gaps filled
  (grid − observed), bytes out — summed from the kernel's chunk rows by
  the one stats aggregation, so they cost no extra job.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..exceptions import EngineValueError
from ..operators import cascade, cascade_gapfill_encode_all, decode_tier, rollup
from .checkpoint import high_water_marks, incremental_filter, read_high_water, write_high_water

TIER_CHAIN = ("1m", "1h", "1d")


@dataclass
class PipelineResult:
    tiers: dict[str, DataFrame]
    encoded: dict[str, DataFrame]
    key_cols: list[str]
    metrics: DataFrame | None = None
    #: written beside the warehouse; None without ``output_dir``
    lineage: DataFrame | None = None
    points: int = 0
    wall_seconds: float = 0.0
    counters: dict[str, int] = field(default_factory=dict)
    snapshot_id: str | None = None
    #: the 1m rows actually re-aggregated from raw this run (on resume:
    #: only buckets at/past the pinned high-water marks)
    delta: DataFrame | None = None
    #: the kernel's cached chunk rows, all tiers (``encoded`` reads them)
    _chunks: DataFrame | None = field(default=None, repr=False)

    def unpersist(self) -> None:
        """Drop the frames this run cached: the 1m delta, the merged 1m
        tier a resume re-read, and the kernel's chunk rows."""
        for df in (self.delta, self.tiers["1m"], self._chunks):
            if df is not None:
                df.unpersist()

    @property
    def filled(self) -> dict[str, DataFrame]:
        """The gap-filled grid of each tier, decoded from ``encoded``
        (the codec is lossless); built on access, so a caller that never
        reads it pays no planning cost."""
        return {
            tier: decode_tier(df, self.key_cols, "bucket", "avg_value")
            for tier, df in self.encoded.items()
        }


def salted_rollup(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    tier: str,
    salt_buckets: int = 16,
    salt_col: str = "doc_id",
) -> DataFrame:
    """Two-phase rollup for skewed keys: partial agg on (key, bucket,
    hash(salt_col) % S), then final agg on (key, bucket). Results are
    identical to the direct rollup (count/sum/min/max compose); the salt
    only bounds per-reducer fan-in."""
    keys = list(key_cols)
    salted = df.withColumn("__salt", F.pmod(F.hash(F.col(salt_col)), F.lit(salt_buckets)))
    partial = rollup(salted, keys + ["__salt"], ts_col, value_col, tier)
    return (
        partial.groupBy(*keys, "bucket")
        .agg(
            F.sum("n_points").alias("n_points"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
        .withColumn("avg_value", F.col("sum_value") / F.col("n_points"))
    )


def _heal_dir(path: str) -> None:
    """Recover a directory from a crash mid-swap.

    ``_replace_dir`` renames the live dir aside (``__old``) before
    renaming the new one into place, so every crash window leaves a
    recoverable state: ``__old`` without ``path`` → the second rename
    never happened, restore the old dir; ``__old`` beside ``path`` →
    the swap completed, drop the leftover; a stray ``__merge_tmp`` is an
    unfinished staging write and is discarded either way."""
    old = path + "__old"
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)
    tmp = path + "__merge_tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)


def _replace_dir(path: str, staged: str) -> None:
    """Atomically (to within one rename) swap ``staged`` into ``path``:
    no crash instant leaves the data unrecoverable (see ``_heal_dir``)."""
    old = path + "__old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old)


def _merge_write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    merge_keys: list[str],
    partition_by: list[str] | None = None,
    merge: bool = False,
) -> None:
    """Persist ``df``; with ``merge=True`` new rows REPLACE prior rows
    sharing the same merge key and untouched keys keep their history —
    the parquet stand-in for Iceberg MERGE / dynamic partition
    overwrite. A static overwrite on a resume run would truncate the
    whole directory and drop previously persisted data. The directory
    swap is rename-based with crash recovery (``_heal_dir``)."""

    def _write(d: DataFrame, p: str) -> None:
        w = d.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(p)

    _heal_dir(path)
    if merge and os.path.exists(path):
        prior = spark.read.parquet(path)
        keep = prior.join(df.select(*merge_keys).distinct(), on=merge_keys, how="left_anti")
        merged = keep.select(*df.columns).unionByName(df)
        tmp = path + "__merge_tmp"
        _write(merged, tmp)
        _replace_dir(path, tmp)
    else:
        _write(df, path)


def _new_snapshot_id() -> str:
    import uuid

    return str(uuid.uuid4())


# Persisted-warehouse layout contract version. v2: tier=<t> directories
# hold OBSERVED rows (gap-filled values live only in chunks/ and query
# results); v1 (pre round-3) persisted gap-filled rows in tier=<t>.
# Merging v2 observed deltas into a v1 directory would silently retain
# synthetic values as ground truth, so resumes refuse on version skew.
LAYOUT_VERSION = 2


def _check_layout(output_dir: str) -> None:
    """Stamp the layout version on fresh warehouses; refuse to write
    into one written under an older (or unversioned) layout contract."""
    marker = os.path.join(output_dir, "_layout_version")
    if os.path.exists(os.path.join(output_dir, "chunks")):
        # the retired fused layout (chunks/tier=<t>): a resume would start
        # a chunks_tier=<t> directory holding only the delta's keys, and
        # range reads would silently miss every other key
        raise EngineValueError(
            f"warehouse at {output_dir!r} holds chunks/ from the retired "
            "fused layout; range reads and retention read chunks_tier=<tier>. "
            "Rebuild the warehouse from raw (a full, non-resume run into a "
            "fresh output_dir) instead of resuming into it."
        )
    if os.path.exists(marker):
        with open(marker) as fh:
            found = int(fh.read().strip() or 0)
        if found != LAYOUT_VERSION:
            raise EngineValueError(
                f"warehouse at {output_dir!r} has layout v{found}, engine "
                f"expects v{LAYOUT_VERSION}: tier directories predate the "
                "observed-rows contract. Rebuild the warehouse from raw "
                "(a full, non-resume run into a fresh output_dir) instead "
                "of resuming into it."
            )
        return
    has_prior = os.path.exists(os.path.join(output_dir, "_snapshots")) or os.path.exists(
        os.path.join(output_dir, "tier=1m")
    )
    if has_prior:
        # refuse EVEN for non-resume runs: stamping v2 onto a pre-
        # versioning warehouse would bless its leftover v1 artifacts
        # (old chunk dirs, the prior snapshot chain) as v2, and the next
        # resume would merge against mixed state with no way to tell
        raise EngineValueError(
            f"warehouse at {output_dir!r} has no layout marker — it was "
            "written before layout versioning (pre-v2, gap-filled tier "
            "rows). Refusing to write into it; rebuild from raw into a "
            "fresh output_dir."
        )
    os.makedirs(output_dir, exist_ok=True)
    with open(marker, "w") as fh:
        fh.write(str(LAYOUT_VERSION))


def latest_snapshot_id(spark: SparkSession, output_dir: str) -> str | None:
    """Head of the snapshot chain, or None for a fresh warehouse."""
    path = os.path.join(output_dir, "_snapshots")
    if not os.path.exists(path):
        return None
    rows = spark.read.parquet(path).orderBy(F.desc("committed_at")).limit(1).collect()
    return rows[0]["snapshot_id"] if rows else None


def read_snapshot(spark: SparkSession, output_dir: str, snapshot_id: str):
    """One commit row by id (raises on unknown ids)."""
    rows = (
        read_snapshots(spark, output_dir)
        .where(F.col("snapshot_id") == F.lit(snapshot_id))
        .collect()
    )
    if not rows:
        raise ValueError(f"unknown snapshot_id {snapshot_id!r}")
    return rows[0]


def _commit_snapshot(
    spark: SparkSession,
    output_dir: str,
    counters: dict,
    resume: bool,
    snapshot_id: str,
    anchor_id: str | None,
) -> str:
    """Append one commit row to the warehouse's snapshot log — the
    parquet stand-in for Iceberg's snapshot chain: id, parent id, the
    anchor a resume pinned its high-water read to, the run's counters,
    and whether it was incremental. Read it back with
    :func:`read_snapshots`; the parent chain is the audit trail a resume
    or a re-rollup anchors to."""
    import json
    import time as _time

    path = os.path.join(output_dir, "_snapshots")
    parent = latest_snapshot_id(spark, output_dir)
    row = pd.DataFrame(
        {
            "snapshot_id": [snapshot_id],
            "parent_id": [parent],
            "anchor_id": [anchor_id],
            "resume": [bool(resume)],
            "committed_at": [float(_time.time())],
            "counters": [json.dumps(counters)],
        }
    )
    # from pandas, not a list: a list is shipped through a Python worker
    # (~1 s per commit), a pandas frame goes over Arrow (~0.06 s)
    spark.createDataFrame(
        row,
        "snapshot_id string, parent_id string, anchor_id string, "
        "resume boolean, committed_at double, counters string",
    ).coalesce(1).write.mode("append").parquet(path)
    return snapshot_id


def read_snapshots(spark: SparkSession, output_dir: str) -> DataFrame:
    """The warehouse's commit log, newest first."""
    return spark.read.parquet(os.path.join(output_dir, "_snapshots")).orderBy(
        F.desc("committed_at")
    )


def _lineage(df: DataFrame, tier: str, key_cols: list[str]) -> DataFrame:
    return (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("bucket").alias("min_bucket"),
            F.max("bucket").alias("max_bucket"),
            F.countDistinct(*key_cols).alias("n_keys"),
        )
        .select(
            F.lit(tier).alias("tier"),
            F.col("__pid").alias("partition_id"),
            "n_rows",
            "min_bucket",
            "max_bucket",
            "n_keys",
        )
    )


def _derive(spark: SparkSession, t1m: DataFrame, keys: list[str], **kernel) -> PipelineResult:
    """Everything an observed 1m tier yields: its 1h/1d cascades, the
    tier-chain kernel's chunks (``kernel`` is ``run_pipeline``'s
    gap-fill parameters) and the one stats aggregation over them, which
    gives the per-tier counters and the metrics rows."""
    tiers = {"1m": t1m, "1h": cascade(t1m, keys, "1h")}
    tiers["1d"] = cascade(tiers["1h"], keys, "1d")
    # chunk rows are small (one per key × calendar period); caching them
    # means the stats job, the writes and the returned frames don't
    # re-run the scan→rollup→kernel chain
    all_enc = cascade_gapfill_encode_all(t1m, keys, **kernel).cache()
    stats = {
        r["tier"]: (int(r["rows"]), int(r["points"]), int(r["bytes"]))
        for r in all_enc.groupBy("tier")
        .agg(
            F.sum(F.length("payload")).alias("bytes"),
            F.sum("n_points").alias("points"),
            F.sum("n_observed").alias("rows"),
        )
        .collect()
    }
    counters: dict[str, int] = {}
    metrics_rows = []
    for tier in TIER_CHAIN:
        rows_in, grid, nbytes = stats.get(tier, (0, 0, 0))
        counters[f"tier_{tier}_rows"] = rows_in
        counters[f"tier_{tier}_points"] = grid
        counters[f"tier_{tier}_bytes"] = nbytes
        metrics_rows.append((tier, rows_in, grid, grid - rows_in, nbytes))
    # pandas (Arrow), not a list, for the reason in _commit_snapshot
    metrics = spark.createDataFrame(
        pd.DataFrame(metrics_rows, columns=["tier", "rows_in", "grid_rows", "gaps_filled", "bytes_out"]),
        "tier string, rows_in long, grid_rows long, gaps_filled long, bytes_out long",
    )
    chunks = all_enc.drop("n_observed")
    return PipelineResult(
        tiers=tiers,
        encoded={tier: chunks.where(F.col("tier") == tier) for tier in TIER_CHAIN},
        key_cols=keys,
        metrics=metrics,
        points=sum(counters[f"tier_{tier}_points"] for tier in TIER_CHAIN),
        counters=counters,
        _chunks=all_enc,
    )


def _commit_delta(
    spark: SparkSession,
    t1m_delta: DataFrame,
    output_dir: str,
    key_cols: list[str],
    marks: DataFrame,
    anchor_id: str | None,
    merge: bool,
    lags: tuple[int, ...] = (1, 2, 3, -1, -2, -3),
    min_samples_train: int = 20,
    interpolate_gaps_less_than: int | None = 4,
) -> PipelineResult:
    """Commit a 1m delta to the warehouse at ``output_dir`` — the one
    write path of the batch pipeline and the streaming front-end.

    Merge-writes the observed 1m rows; with ``merge`` re-reads the
    merged tier for the keys the delta touched; derives the tiers,
    chunks and stats from it (``_derive``); writes ``tier=<t>``,
    ``chunks_tier=<t>``, ``metrics`` and ``lineage``; records ``marks``
    (the per-key high-water table, see plans/checkpoint.py) under the
    new snapshot; and appends the snapshot row anchored to
    ``anchor_id``. ``t1m_delta`` should be cached: the tier write, the
    affected-keys probe and the caller's marks all read it. The kernel
    parameter defaults are ``run_pipeline``'s."""
    keys = list(key_cols)
    tier1m_path = os.path.join(output_dir, "tier=1m")
    # observed rows are the persisted source of truth; written FIRST so
    # every derived product below can re-derive from the merged tier
    # and a crash mid-run is heal-by-rerun
    _merge_write(
        spark, t1m_delta, tier1m_path, merge_keys=keys + ["bucket"], partition_by=keys[:1], merge=merge
    )
    t1m = t1m_delta
    if merge:
        # Derived products (cascades, fills, chunks) must never be built
        # from the delta alone: a delta-only 1h boundary row or open
        # chunk would REPLACE its complete prior version on merge. Read
        # back the merged tier, restricted to the keys the delta touched
        # — work scales with the affected keys' history, not the table.
        affected = t1m_delta.select(*keys).distinct()
        t1m = spark.read.parquet(tier1m_path).join(F.broadcast(affected), keys, "left_semi").cache()

    result = _derive(
        spark,
        t1m,
        keys,
        lags=lags,
        min_samples_train=min_samples_train,
        interpolate_gaps_less_than=interpolate_gaps_less_than,
    )
    for tier in TIER_CHAIN[1:]:  # 1m observed rows already persisted above
        _merge_write(
            spark,
            result.tiers[tier],
            os.path.join(output_dir, f"tier={tier}"),
            merge_keys=keys + ["bucket"],
            partition_by=keys[:1],
            merge=merge,
        )
    for tier in TIER_CHAIN:
        _merge_write(
            spark,
            result.encoded[tier],
            os.path.join(output_dir, f"chunks_tier={tier}"),
            merge_keys=keys + ["chunk_start"],
            merge=merge,
        )

    result.lineage = _lineage(t1m, "1m", keys)
    for tier in TIER_CHAIN[1:]:
        result.lineage = result.lineage.unionByName(_lineage(result.tiers[tier], tier, keys))
    result.metrics.coalesce(1).write.mode("overwrite").parquet(os.path.join(output_dir, "metrics"))
    result.lineage.coalesce(1).write.mode("overwrite").parquet(os.path.join(output_dir, "lineage"))
    result.snapshot_id = _new_snapshot_id()
    write_high_water(marks, output_dir, snapshot_id=result.snapshot_id)
    _commit_snapshot(spark, output_dir, result.counters, merge, result.snapshot_id, anchor_id)
    result.delta = t1m_delta
    return result


def run_pipeline(
    spark: SparkSession,
    raw: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    output_dir: str | None = None,
    lags: tuple[int, ...] = (1, 2, 3, -1, -2, -3),
    min_samples_train: int = 20,
    interpolate_gaps_less_than: int | None = 4,
    salt_buckets: int | None = None,
    salt_col: str | None = None,
    resume: bool = False,
    pin_snapshot: str | None = None,
    collect_metrics: bool = True,
    fused: bool = False,
) -> PipelineResult:
    """Run the full tier pipeline; optionally persist + checkpoint.

    Every run takes one shape: the 1m rollup (salted when
    ``salt_buckets`` and ``salt_col`` are set) → one per-series kernel
    that cascades to 1h/1d, gap-fills and Gorilla-encodes every tier
    (``cascade_gapfill_encode_all``) → one stats aggregation, which
    yields the counters and the metrics rows. With ``output_dir`` the
    rollup is committed by ``_commit_delta``, which writes the observed
    ``tier=<t>`` rows, the ``chunks_tier=<t>`` chunks, ``metrics``,
    ``lineage``, the high-water marks and a snapshot commit.
    ``filled[tier]`` decodes ``encoded[tier]`` on access (the codec is
    lossless).

    ``resume=True`` anchors the high-water read to a snapshot —
    ``pin_snapshot`` names one explicitly, otherwise the current head is
    pinned at start. A writer committing between the pin and this run's
    commit cannot change which rows this run reprocesses (the pinned
    per-snapshot marks are immutable).

    ``collect_metrics`` and ``fused`` are accepted for older callers and
    ignored: metrics are always recorded and there is no other shape."""
    t0 = time.time()
    keys = list(key_cols)
    kernel = dict(
        lags=lags,
        min_samples_train=min_samples_train,
        interpolate_gaps_less_than=interpolate_gaps_less_than,
    )
    prior_hw = None
    anchor_id = None
    if output_dir:
        _check_layout(output_dir)
        if resume:
            anchor_id = pin_snapshot if pin_snapshot is not None else latest_snapshot_id(spark, output_dir)
            prior_hw = read_high_water(spark, output_dir, snapshot_id=anchor_id)
            raw = incremental_filter(raw, prior_hw, keys, ts_col, tier="1m")

    if salt_buckets and salt_col:
        t1m_delta = salted_rollup(raw, keys, ts_col, value_col, "1m", salt_buckets, salt_col)
    else:
        t1m_delta = rollup(raw, keys, ts_col, value_col, "1m")
    if output_dir:
        # without a warehouse the kernel consumes the rollup exactly
        # once, and caching would only add a full memory-store
        # materialization of the tier to the critical path
        t1m_delta = t1m_delta.cache()
        marks = high_water_marks(t1m_delta, keys, prior=prior_hw)
        result = _commit_delta(spark, t1m_delta, output_dir, keys, marks, anchor_id, resume, **kernel)
    else:
        result = _derive(spark, t1m_delta, keys, **kernel)
        result.delta = t1m_delta
    result.wall_seconds = time.time() - t0
    return result


def apply_retention(spark: SparkSession, output_dir: str, tier: str, keep_after) -> int:
    """Retention: rewrite a tier keeping only buckets >= ``keep_after``.

    On Iceberg this is a metadata-only partition drop; on parquet we
    rewrite the tier directory (crash-safe rename swap). Returns rows
    retained."""
    path = os.path.join(output_dir, f"tier={tier}")
    _heal_dir(path)
    df = spark.read.parquet(path).where(F.col("bucket") >= F.lit(keep_after))
    kept = df.count()
    tmp = path + "__merge_tmp"
    df.write.mode("overwrite").parquet(tmp)
    _replace_dir(path, tmp)
    return kept


def scan_chunks(
    spark: SparkSession,
    output_dir: str,
    tier: str,
    key_cols: list[str],
    start=None,
    end=None,
    value_col: str = "avg_value",
) -> DataFrame:
    """Read a tier back from its Gorilla chunks for a time range,
    decoding ONLY the chunks whose calendar period intersects
    [start, end) — the chunk_start predicate prunes at the parquet scan
    (row-group min/max stats), so a narrow time window over years of
    history touches a handful of chunk rows per key. Bucket-level edges
    are trimmed after decode. Returns (keys…, bucket, value)."""
    from ..operators.encode import _CHUNK_UNIT, decode_tier

    df = spark.read.parquet(os.path.join(output_dir, f"chunks_tier={tier}"))
    if start is not None:
        # a chunk starting before `start` may still contain it: include
        # the whole boundary period, trim per-bucket after decode
        df = df.where(
            F.col("chunk_start") >= F.date_trunc(_CHUNK_UNIT[tier], F.lit(start))
        )
    if end is not None:
        df = df.where(F.col("chunk_start") < F.lit(end))
    out = decode_tier(df, list(key_cols), "bucket", value_col)
    if start is not None:
        out = out.where(F.col("bucket") >= F.lit(start))
    if end is not None:
        out = out.where(F.col("bucket") < F.lit(end))
    return out


def apply_chunk_retention(
    spark: SparkSession,
    output_dir: str,
    tier: str,
    key_cols: list[str],
    keep_after,
    value_col: str = "avg_value",
) -> int:
    """Retention over the ENCODED chunks of a tier.

    Chunks whose whole calendar period precedes ``keep_after`` drop by
    the ``chunk_start`` predicate alone — no payload is ever decoded
    (the Iceberg partition-drop analogue); only the single boundary
    chunk per key is decoded, filtered to ``bucket >= keep_after``, and
    re-encoded. Work is O(keys), not O(points). Returns chunks retained.
    """
    from ..operators.encode import _CHUNK_UNIT, decode_tier, encode_tier

    keys = list(key_cols)
    path = os.path.join(output_dir, f"chunks_tier={tier}")
    _heal_dir(path)
    df = spark.read.parquet(path)
    boundary = F.date_trunc(_CHUNK_UNIT[tier], F.lit(keep_after))
    whole = df.where(F.col("chunk_start") >= F.lit(keep_after))
    partial = df.where(
        (F.col("chunk_start") == boundary) & (F.col("chunk_start") < F.lit(keep_after))
    )
    reencoded = encode_tier(
        decode_tier(partial, keys, "bucket", value_col).where(
            F.col("bucket") >= F.lit(keep_after)
        ),
        keys,
        "bucket",
        value_col,
        tier,
    )
    retained = whole.unionByName(reencoded)
    tmp = path + "__merge_tmp"
    retained.write.mode("overwrite").parquet(tmp)
    _replace_dir(path, tmp)
    return spark.read.parquet(path).count()
