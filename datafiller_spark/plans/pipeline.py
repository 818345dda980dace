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
  rows with complete rows. This commit (``_commit_delta``) is the
  warehouse's only write path: a streaming micro-batch
  (streaming/stream.py) is committed through it as a 1m delta too.
- Layout (v5): every data directory — ``tier=<t>`` and
  ``chunks_tier=<t>`` — is partitioned by the first key column
  (``<key0>=<v>``), the unit a commit updates. A commit rewrites only
  the partitions its delta touches: it stages them under
  ``<dir>__merge_tmp`` and renames each into place, parking the one it
  displaces under ``<dir>__old`` until all are in (``_heal_dir`` undoes
  or finishes a crashed swap partition by partition). Untouched
  partitions are never read or rewritten — with one key column, no
  untouched key is. ``tier=1m`` merges on (keys, bucket), reading the
  touched partitions only, because its delta carries only the new
  buckets. A derived directory's touched partitions are replaced
  outright when the key is the partition column alone and the log
  records no 1m retention horizon: then ``tier=1m`` holds every row
  they were derived from, each touched key is re-derived whole and no
  prior row is read. Otherwise — more key columns, or a horizon, below
  which the coarser rows ``tier=1m`` can no longer re-derive must
  survive — the commit reads the touched partitions only and merges on
  (keys, bucket) or (keys, chunk_start). The first key column should
  have few values (tens to thousands): each value is a directory, and a
  commit collects the touched values to the driver and filters on them
  literally.
- Lineage: one row per (tier, kernel partition) of the chunk rows:
  observed rows, grid points, payload bytes, the chunk_start bounds and
  the chunk count (``n_chunks``; a distinct key count would cost the
  stats job an extra stage).
- Metrics: per tier: observed rows in, grid size, gaps filled
  (grid − observed), bytes out — the lineage rows summed per tier.
  Lineage and metrics both come from the one stats aggregation over the
  kernel's chunk rows, so they cost no extra job.
- Spark touches only the data directories (``tier=<t>``,
  ``chunks_tier=<t>``), and every read of one is pinned to a known
  schema (the delta's, or the one the snapshot log recorded), so none
  infers a schema from parquet footers. The warehouse metadata — the
  snapshot log, the high-water marks, ``metrics`` and ``lineage`` — is a
  few KB per commit, read and written on the driver with pyarrow, one
  file per snapshot (``<name>/snapshot=<id>/part-0.parquet``) that is
  never rewritten. The driver must therefore see ``output_dir`` as a
  file system, as the rename-based directory swap already requires.
- One commit point: the snapshot record
  (``_snapshots/part-<id>.parquet``) is written last, to a temp name and
  renamed into place. A crash before it leaves data directories that a
  re-run heals by merge and per-snapshot files that no record names;
  nothing reads marks, metrics or lineage except through a record.
- Retention (``apply_chunk_retention``, the one entry point) trims
  ``tier=<t>`` and ``chunks_tier=<t>`` together, each through the same
  partition swap, keeping its partitioning. Like an Iceberg delete it
  is one more snapshot in the chain: its record carries the per-tier
  ``horizons`` (every commit carries them forward), and it is written
  before any row goes. A commit drops delta rows below the 1m horizon,
  so no resume brings trimmed rows back. Fills after retention: a key a
  commit touches is re-derived from its retained history only; an
  untouched key keeps its earlier chunks byte for byte. Horizon order:
  a coarser tier keeps at least the history of a finer one
  (``horizon[1d] <= horizon[1h] <= horizon[1m]``, an absent horizon
  counting as -inf), so a tier re-derived from a trimmed ``tier=1m``
  never yields a row below its own horizon.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..exceptions import EngineValueError
from ..operators import cascade, cascade_gapfill_encode_all, decode_tier, rollup
from ..operators.encode import chunk_schema
from .checkpoint import (
    high_water_marks,
    incremental_filter,
    read_high_water,
    snapshot_file,
    write_high_water,
    write_parquet_file,
)

TIER_CHAIN = ("1m", "1h", "1d")


@dataclass
class PipelineResult:
    tiers: dict[str, DataFrame]
    encoded: dict[str, DataFrame]
    key_cols: list[str]
    points: int = 0
    wall_seconds: float = 0.0
    counters: dict[str, int] = field(default_factory=dict)
    snapshot_id: str | None = None
    #: the 1m rows actually re-aggregated from raw this run (on resume:
    #: only buckets at/past the pinned high-water marks)
    delta: DataFrame | None = None
    #: the kernel's cached chunk rows, all tiers (``encoded`` reads them)
    _chunks: DataFrame | None = field(default=None, repr=False)
    #: the stats aggregation's ``metrics`` and ``lineage`` rows, which
    #: the commit writes
    _tables: dict[str, pa.Table] = field(default_factory=dict, repr=False)

    def unpersist(self) -> None:
        """Drop the frames this run cached: the 1m delta, the merged 1m
        tier a resume re-read, and the kernel's chunk rows."""
        for df in (self.delta, self.tiers["1m"], self._chunks):
            if df is not None:
                df.unpersist()

    @property
    def metrics(self) -> DataFrame:
        """Per tier: rows_in, grid_rows, gaps_filled (grid − observed)
        and bytes_out. Like ``lineage``, built on access."""
        return self.tiers["1m"].sparkSession.createDataFrame(self._tables["metrics"])

    @property
    def lineage(self) -> DataFrame:
        """One row per (tier, kernel partition): observed rows, grid
        points, payload bytes, chunk_start bounds and chunk count."""
        return self.tiers["1m"].sparkSession.createDataFrame(self._tables["lineage"])

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


def _partition_dirs(path: str) -> list[str]:
    """The ``<col>=<v>`` partition directories of ``path`` (none if it
    does not exist)."""
    if not os.path.isdir(path):
        return []
    return sorted(n for n in os.listdir(path) if "=" in n and os.path.isdir(os.path.join(path, n)))


def _heal_dir(path: str) -> None:
    """Recover a directory from a crash mid-swap, partition by partition.

    ``_swap_partitions`` parks each displaced partition under ``__old``
    before it renames the staged one into place, so a parked partition
    says how far its own swap got: without a live partition beside it the
    second rename never happened, and it is restored; beside one, the swap
    finished, and it is dropped. A stray ``__merge_tmp`` is an unfinished
    staging write or the partitions a crashed swap had not reached yet,
    and is discarded either way."""
    old = path + "__old"
    for name in _partition_dirs(old):
        if os.path.exists(os.path.join(path, name)):
            shutil.rmtree(os.path.join(old, name))
        else:
            os.rename(os.path.join(old, name), os.path.join(path, name))
    for leftover in (old, path + "__merge_tmp"):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)


def _swap_partitions(path: str) -> None:
    """Rename every partition staged under ``<path>__merge_tmp`` into
    ``path``, parking the partition it displaces under ``<path>__old`` —
    outside the table, so no reader ever sees a stray partition value —
    until all are in. No crash instant loses a partition (see
    ``_heal_dir``). Other partitions are left alone."""
    tmp, old = path + "__merge_tmp", path + "__old"
    os.makedirs(old)
    for name in _partition_dirs(tmp):
        live = os.path.join(path, name)
        if os.path.exists(live):
            os.rename(live, os.path.join(old, name))
        os.rename(os.path.join(tmp, name), live)
    shutil.rmtree(tmp)
    shutil.rmtree(old)


def _in_partitions(col: str, values: list):
    """``col`` is one of ``values`` (``None`` matching null): a filter on
    a partition column, so a scan reads only those partitions' files."""
    cond = F.col(col).isin([v for v in values if v is not None])
    return cond | F.col(col).isNull() if None in values else cond


def _merge_write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    merge_keys: list[str],
    partitions: list | None = None,
) -> None:
    """Persist ``df`` partitioned by its first merge key — the parquet
    stand-in for Iceberg MERGE / dynamic partition overwrite.

    With ``partitions=None`` ``df`` overwrites the whole directory (a
    build). Otherwise ``partitions`` are the partition values ``df``
    touches, and only those partitions are rewritten: staged under
    ``<path>__merge_tmp`` and renamed into place one by one
    (``_swap_partitions``, crash recovery in ``_heal_dir``); every other
    partition is neither read nor rewritten. In a rewritten partition
    ``df``'s rows replace the prior rows sharing their ``merge_keys`` and
    the other prior rows are kept — read from the touched partitions
    alone, pinned to ``df``'s schema. When the partition column is the
    whole merge key, ``df`` replaces its partitions outright and no prior
    row is read: ``_commit_delta`` asks for that for a derived directory
    only while the log records no 1m retention horizon. The prior read
    filters on ``partitions`` literally, one value each: the partition
    column should have few values."""
    part = merge_keys[0]
    _heal_dir(path)
    if partitions is None or not os.path.exists(path):
        df.write.mode("overwrite").partitionBy(part).parquet(path)
        return
    staged = df
    if merge_keys != [part]:
        # pinned to the delta's schema: no footer inference, and a commit
        # whose schema drifted never gets here (``_check_schemas``)
        prior = spark.read.schema(df.schema).parquet(path).where(_in_partitions(part, partitions))
        keep = prior.join(df.select(*merge_keys), on=merge_keys, how="left_anti")
        staged = keep.select(*df.columns).unionByName(df)
    staged.write.mode("overwrite").partitionBy(part).parquet(path + "__merge_tmp")
    _swap_partitions(path)


def _new_snapshot_id() -> str:
    import uuid

    return str(uuid.uuid4())


# Persisted-warehouse layout contract version. v2: tier=<t> directories
# hold OBSERVED rows (gap-filled values live only in chunks and query
# results); v1 (pre round-3) persisted gap-filled rows in tier=<t>.
# Merging v2 observed deltas into a v1 directory would silently retain
# synthetic values as ground truth, so resumes refuse on version skew.
# v3: the metadata (snapshot log, marks, metrics, lineage) is one file
# per snapshot written by the driver, and each snapshot record carries
# the data directories' schemas; a v2 warehouse has a mutable marks head
# and a log without schemas. v4: chunks_tier=<t> is partitioned by the
# first key column like tier=<t>, and a commit swaps only the partitions
# it touches; a v3 chunk directory is flat. v5: each snapshot record
# carries the retention horizons; a v4 warehouse recorded a tier=1m trim
# in a side file that a v5 commit would not read.
LAYOUT_VERSION = 5


def _layout_version(output_dir: str) -> int | None:
    """The warehouse's stamped layout version (None if unstamped)."""
    marker = os.path.join(output_dir, "_layout_version")
    if not os.path.exists(marker):
        return None
    with open(marker) as fh:
        return int(fh.read().strip() or 0)


def _refuse_other_layout(output_dir: str, found: int | None) -> None:
    if found != LAYOUT_VERSION:
        raise EngineValueError(
            f"warehouse at {output_dir!r} has "
            + (f"layout v{found}" if found is not None else "no layout marker")
            + f", engine "
            f"expects v{LAYOUT_VERSION}: its metadata or tier directories "
            "predate the current contract. Rebuild the warehouse from raw "
            "(a full, non-resume run into a fresh output_dir) instead "
            "of resuming into it."
        )


def _check_layout(output_dir: str) -> None:
    """Stamp the layout version on fresh warehouses; refuse to write
    into one written under an older (or unversioned) layout contract."""
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
    found = _layout_version(output_dir)
    if found is not None:
        _refuse_other_layout(output_dir, found)
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
    with open(os.path.join(output_dir, "_layout_version"), "w") as fh:
        fh.write(str(LAYOUT_VERSION))


#: One snapshot record; ``schemas`` maps each data directory to its
#: Spark schema (JSON), which readers pin instead of inferring one, and
#: ``horizons`` maps each tier that retention trimmed to its horizon (JSON,
#: ``YYYY-MM-DD HH:MM:SS[.ffffff]``, so string order is time order):
#: ``tier=<t>`` and ``chunks_tier=<t>`` hold no bucket before it.
_LOG_SCHEMA = pa.schema(
    [
        ("snapshot_id", pa.string()),
        ("parent_id", pa.string()),
        ("anchor_id", pa.string()),
        ("resume", pa.bool_()),
        ("committed_at", pa.float64()),
        ("counters", pa.string()),
        ("schemas", pa.string()),
        ("horizons", pa.string()),
    ]
)


def _snapshot_log(output_dir: str) -> pa.Table:
    """The snapshot log, newest first, read with pyarrow on the driver:
    one file per commit, ``_snapshots/part-<id>.parquet``."""
    path = os.path.join(output_dir, "_snapshots")
    names = os.listdir(path) if os.path.isdir(path) else []
    files = [os.path.join(path, n) for n in names if n.startswith("part-") and n.endswith(".parquet")]
    if not files:
        return _LOG_SCHEMA.empty_table()
    return pa.concat_tables(pq.read_table(f) for f in files).sort_by([("committed_at", "descending")])


def latest_snapshot_id(spark: SparkSession, output_dir: str) -> str | None:
    """Head of the snapshot chain, or None for a fresh warehouse."""
    log = _snapshot_log(output_dir)
    return log["snapshot_id"][0].as_py() if log.num_rows else None


def read_snapshots(spark: SparkSession, output_dir: str) -> DataFrame:
    """The warehouse's commit log, newest first (a driver-side table:
    reading it starts no Spark job)."""
    return spark.createDataFrame(_snapshot_log(output_dir))


def _head(output_dir: str) -> dict:
    """The newest snapshot record, with its ``schemas`` and ``horizons``
    decoded (both empty, and no ``snapshot_id``, for a warehouse with no
    snapshot). Refuses a warehouse of another layout version."""
    _refuse_other_layout(output_dir, _layout_version(output_dir))
    log = _snapshot_log(output_dir)
    if not log.num_rows:
        return {"schemas": {}, "horizons": {}}
    head = log.slice(0, 1).to_pylist()[0]
    head["schemas"] = {name: StructType.fromJson(s) for name, s in json.loads(head["schemas"]).items()}
    head["horizons"] = json.loads(head["horizons"])
    return head


def _commit_snapshot(
    spark: SparkSession,
    output_dir: str,
    counters: dict,
    resume: bool,
    snapshot_id: str,
    anchor_id: str | None,
    schemas: dict[str, StructType],
    horizons: dict[str, str],
) -> None:
    """Append one commit record to the warehouse's snapshot log — the
    parquet stand-in for Iceberg's snapshot chain: id, parent id, the
    anchor a resume pinned its high-water read to, the run's counters,
    whether it was incremental, the data directories' schemas and the
    retention horizons. The record is one file written to a temp name
    and renamed into place: the commit point. Read the log back with
    :func:`read_snapshots`; the parent chain is the audit trail a resume
    anchors to."""
    record = {
        "snapshot_id": snapshot_id,
        "parent_id": latest_snapshot_id(spark, output_dir),
        "anchor_id": anchor_id,
        "resume": bool(resume),
        "committed_at": time.time(),
        "counters": json.dumps(counters),
        "schemas": json.dumps({name: s.jsonValue() for name, s in schemas.items()}),
        "horizons": json.dumps(horizons),
    }
    write_parquet_file(
        pa.Table.from_pylist([record], schema=_LOG_SCHEMA),
        os.path.join(output_dir, "_snapshots", f"part-{snapshot_id}.parquet"),
    )


def _read_dir(spark: SparkSession, output_dir: str, name: str, head: dict) -> DataFrame:
    """Data directory ``name``, read pinned to the schema the snapshot
    record ``head`` (``_head``) recorded for it: nothing is inferred
    from parquet footers."""
    schema = head["schemas"].get(name)
    if schema is None:
        raise EngineValueError(
            f"warehouse at {output_dir!r} has no committed snapshot recording "
            f"{name} (none yet, or its layout predates v{LAYOUT_VERSION}). Rebuild "
            "the warehouse from raw (a full, non-resume run into a fresh output_dir)."
        )
    return spark.read.schema(schema).parquet(os.path.join(output_dir, name))


def _cascades(t1m: DataFrame, keys: list[str]) -> dict[str, DataFrame]:
    tiers = {"1m": t1m, "1h": cascade(t1m, keys, "1h")}
    tiers["1d"] = cascade(tiers["1h"], keys, "1d")
    return tiers


def _layout_schemas(t1m: DataFrame, keys: list[str]) -> dict[str, StructType]:
    """The schema of every data directory a commit of ``t1m`` writes."""
    schemas = {f"tier={tier}": df.schema for tier, df in _cascades(t1m, keys).items()}
    schemas.update({f"chunks_tier={tier}": chunk_schema(t1m, keys) for tier in TIER_CHAIN})
    return schemas


def _check_schemas(output_dir: str, head: dict, schemas: dict[str, StructType]) -> None:
    """Refuse a commit whose directory schemas differ (in a column's
    name, type or position; nullability aside) from the ones the
    snapshot record ``head`` recorded."""
    for name, recorded in head["schemas"].items():
        ours = schemas[name]
        if ours.simpleString() != recorded.simpleString():
            raise EngineValueError(
                f"{os.path.join(output_dir, name)} was committed with schema "
                f"{recorded.simpleString()}, but this commit's is "
                f"{ours.simpleString()}. Cast the input to the recorded types, "
                "or rebuild the warehouse from raw into a fresh output_dir."
            )


def _derive(spark: SparkSession, t1m: DataFrame, keys: list[str], **kernel) -> PipelineResult:
    """Everything an observed 1m tier yields: its 1h/1d cascades, the
    tier-chain kernel's chunks (``kernel`` is ``run_pipeline``'s
    gap-fill parameters) and the one stats aggregation over them. It
    groups the chunk rows by tier and kernel partition; its rows are the
    lineage, and their sums per tier are the counters and metrics."""
    tiers = _cascades(t1m, keys)
    # chunk rows are small (one per key × calendar period); caching them
    # means the stats job, the writes and the returned frames don't
    # re-run the scan→rollup→kernel chain
    all_enc = cascade_gapfill_encode_all(t1m, keys, **kernel).cache()
    # sums, bounds and counts only: a distinct count would add a stage
    lineage = (
        all_enc.groupBy("tier", F.spark_partition_id().alias("partition_id"))
        .agg(
            F.sum("n_observed").alias("n_rows"),
            F.sum("n_points").alias("n_points"),
            F.sum(F.length("payload")).alias("bytes_out"),
            F.min("chunk_start").alias("min_chunk_start"),
            F.max("chunk_start").alias("max_chunk_start"),
            F.count("*").alias("n_chunks"),
        )
        .toArrow()
        .sort_by([("tier", "ascending"), ("partition_id", "ascending")])
    )
    totals = lineage.group_by("tier").aggregate(
        [("n_rows", "sum"), ("n_points", "sum"), ("bytes_out", "sum")]
    ).to_pylist()
    stats = {r["tier"]: (r["n_rows_sum"], r["n_points_sum"], r["bytes_out_sum"]) for r in totals}
    counters: dict[str, int] = {}
    metrics_rows = []
    for tier in TIER_CHAIN:
        rows_in, grid, nbytes = stats.get(tier, (0, 0, 0))
        counters[f"tier_{tier}_rows"] = rows_in
        counters[f"tier_{tier}_points"] = grid
        counters[f"tier_{tier}_bytes"] = nbytes
        metrics_rows.append(
            {"tier": tier, "rows_in": rows_in, "grid_rows": grid, "gaps_filled": grid - rows_in, "bytes_out": nbytes}
        )
    metrics = pa.Table.from_pylist(metrics_rows)
    chunks = all_enc.drop("n_observed")
    return PipelineResult(
        tiers=tiers,
        encoded={tier: chunks.where(F.col("tier") == tier) for tier in TIER_CHAIN},
        key_cols=keys,
        points=sum(counters[f"tier_{tier}_points"] for tier in TIER_CHAIN),
        counters=counters,
        _chunks=all_enc,
        _tables={"metrics": metrics, "lineage": lineage},
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

    Refuses a delta whose directory schemas drifted from the recorded
    ones before it writes anything. Then merge-writes the observed 1m
    rows; with ``merge`` re-reads the merged tier for the keys the delta
    touched; derives the tiers, chunks and stats from it (``_derive``);
    writes ``tier=<t>`` and ``chunks_tier=<t>``; writes ``metrics``,
    ``lineage`` and ``marks`` (the per-key high-water table, see
    plans/checkpoint.py) under the new snapshot's own paths; and last
    the snapshot record anchored to ``anchor_id`` — the commit point. A
    crash before the record leaves files no record names, which the
    next run ignores and overwrites nothing of. With ``merge`` each data
    directory rewrites only the ``<key0>=<v>`` partitions the delta
    touches (``_merge_write``), collected to the driver (a few per
    commit, as the first key column should have few values).

    With ``merge`` the record carries the head's retention ``horizons``
    forward, and the delta's rows before the 1m horizon are dropped: no
    commit brings back a trimmed row, and a key whose only delta rows
    lie below the horizon is not touched. A touched key is re-derived
    from its retained history only; an untouched key keeps its files.
    A derived directory replaces the touched keys' rows wholly while
    the log records no 1m horizon; with one, it merges on (keys, bucket)
    or (keys, chunk_start), keeping the rows older than the retained 1m
    history. The horizon order (see ``apply_chunk_retention``) keeps the
    re-derivation above every coarser tier's own horizon. A build
    (``merge=False``) rewrites everything and records no horizon.
    ``t1m_delta`` should be cached: the partition probe, the tier write
    and the caller's marks all read it. The kernel parameter defaults
    are ``run_pipeline``'s."""
    keys = list(key_cols)
    schemas = _layout_schemas(t1m_delta, keys)
    head = _head(output_dir)
    _check_schemas(output_dir, head, schemas)
    horizons = head["horizons"] if merge else {}
    delta = t1m_delta
    if "1m" in horizons:
        delta = delta.where(F.col("bucket") >= F.lit(horizons["1m"]))
    tier1m_path = os.path.join(output_dir, "tier=1m")
    # every directory is partitioned by the first key column, and a merge
    # rewrites only the partitions the delta touches
    parts = [r[0] for r in delta.select(keys[0]).distinct().collect()] if merge else None
    # observed rows are the persisted source of truth; written FIRST so
    # every derived product below can re-derive from the merged tier
    # and a crash mid-run is heal-by-rerun
    _merge_write(spark, delta, tier1m_path, keys + ["bucket"], parts)
    t1m = delta
    if merge:
        # Derived products (cascades, fills, chunks) must never be built
        # from the delta alone: a delta-only 1h boundary row or open
        # chunk would REPLACE its complete prior version. Read back the
        # merged tier's touched partitions, restricted to the keys the
        # delta touched — work scales with the affected keys' history,
        # not the table.
        t1m = spark.read.schema(delta.schema).parquet(tier1m_path).where(_in_partitions(keys[0], parts))
        if len(keys) > 1:
            t1m = t1m.join(F.broadcast(delta.select(*keys).distinct()), keys, "left_semi")
        t1m = t1m.cache()

    result = _derive(
        spark,
        t1m,
        keys,
        lags=lags,
        min_samples_train=min_samples_train,
        interpolate_gaps_less_than=interpolate_gaps_less_than,
    )
    # a touched key is re-derived from its whole 1m history, which covers
    # every derived row of it unless retention trimmed that history: then
    # the rows it no longer yields are kept by a (key, bucket) merge
    trimmed = "1m" in horizons
    for tier in TIER_CHAIN[1:]:
        merge_keys = keys + ["bucket"] if trimmed else keys
        _merge_write(spark, result.tiers[tier], os.path.join(output_dir, f"tier={tier}"), merge_keys, parts)
    for tier in TIER_CHAIN:
        merge_keys = keys + ["chunk_start"] if trimmed else keys
        _merge_write(spark, result.encoded[tier], os.path.join(output_dir, f"chunks_tier={tier}"), merge_keys, parts)

    result.snapshot_id = _new_snapshot_id()
    for name, table in result._tables.items():
        write_parquet_file(table, snapshot_file(output_dir, name, result.snapshot_id))
    write_high_water(marks, output_dir, snapshot_id=result.snapshot_id)
    _commit_snapshot(spark, output_dir, result.counters, merge, result.snapshot_id, anchor_id, schemas, horizons)
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


def _parquet_rows(path: str) -> int:
    """Rows in the parquet files under ``path``, summed from their
    footers on the driver (no Spark job)."""
    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _retain(df: DataFrame, path: str) -> int:
    """Replace the table at ``path`` with ``df``, the rows it retains,
    keeping the partition column its ``<col>=<v>`` directories name:
    staged, the partitions ``df`` has no rows for deleted (their rows
    all expired, so no crash instant loses a kept row), then swapped in
    partition by partition (``_swap_partitions``). Returns rows
    written (0 for an empty table, which has no partition)."""
    parts = _partition_dirs(path)
    if not parts:
        return 0
    tmp = path + "__merge_tmp"
    df.write.mode("overwrite").partitionBy(parts[0].split("=", 1)[0]).parquet(tmp)
    kept = _parquet_rows(tmp)
    for name in sorted(set(parts) - set(_partition_dirs(tmp))):
        shutil.rmtree(os.path.join(path, name))
    _swap_partitions(path)
    return kept


def scan_chunks(
    spark: SparkSession,
    output_dir: str,
    tier: str,
    key_cols: list[str],
    start=None,
    end=None,
) -> DataFrame:
    """Read a tier back from its Gorilla chunks for a time range,
    decoding ONLY the chunks whose calendar period intersects
    [start, end) — the chunk_start predicate prunes at the parquet scan
    (row-group min/max stats), so a narrow time window over years of
    history touches a handful of chunk rows per key. Bucket-level edges
    are trimmed after decode. Returns (keys…, bucket, avg_value)."""
    from ..operators.encode import _CHUNK_UNIT, decode_tier

    df = _read_dir(spark, output_dir, f"chunks_tier={tier}", _head(output_dir))
    if start is not None:
        # a chunk starting before `start` may still contain it: include
        # the whole boundary period, trim per-bucket after decode
        df = df.where(
            F.col("chunk_start") >= F.date_trunc(_CHUNK_UNIT[tier], F.lit(start))
        )
    if end is not None:
        df = df.where(F.col("chunk_start") < F.lit(end))
    out = decode_tier(df, list(key_cols), "bucket", "avg_value")
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
) -> int:
    """Retention, the one entry point: drop every bucket of ``tier``
    before ``keep_after``, from its observed rows (``tier=<t>``) and its
    encoded chunks (``chunks_tier=<t>``) together.

    Like an Iceberg delete it appends one snapshot, carrying the head's
    schemas and marks unchanged and ``tier``'s new horizon (a horizon
    only moves forward). The record is written before any row goes, so
    no crash instant leaves rows trimmed while the log records no
    horizon, and re-running the same retention completes a crashed one.
    Later commits carry the horizon forward and drop delta rows before
    the 1m horizon (``_commit_delta``). Horizon order: a coarser tier
    may not keep less history than a finer one (``horizon[1d] <=
    horizon[1h] <= horizon[1m]``, an absent horizon counting as -inf);
    a retention that would break it raises ``EngineValueError`` and
    changes nothing.

    Chunks whose whole calendar period precedes ``keep_after`` drop by
    the ``chunk_start`` predicate alone — no payload is ever decoded
    (the Iceberg partition-drop analogue); only the single boundary
    chunk per key is decoded, filtered to ``bucket >= keep_after``, and
    re-encoded. Work is O(keys), not O(points). Each directory is
    rewritten with the crash-safe partition swap (``_retain``) and keeps
    its partition column, whatever the order of ``key_cols``. Returns
    chunks retained.
    """
    from ..operators.encode import _CHUNK_UNIT, decode_tier, encode_tier

    keys = list(key_cols)
    horizon = datetime.fromisoformat(str(keep_after)).isoformat(sep=" ")
    head = _head(output_dir)
    horizons = dict(head["horizons"])
    horizons[tier] = max(horizon, horizons.get(tier, horizon))
    for fine, coarse in zip(TIER_CHAIN, TIER_CHAIN[1:]):
        if horizons.get(coarse, "") > horizons.get(fine, ""):
            raise EngineValueError(
                f"retention would keep less history in tier={coarse} (from {horizons[coarse]}) than in "
                f"tier={fine} (from {horizons.get(fine, 'its start')}); trim tier={fine} that far first."
            )
    paths = [os.path.join(output_dir, f"{d}={tier}") for d in ("tier", "chunks_tier")]
    for path in paths:
        _heal_dir(path)
    rows, chunks = (_read_dir(spark, output_dir, os.path.basename(path), head) for path in paths)

    snapshot_id = _new_snapshot_id()
    marks = snapshot_file(output_dir, "_hw", head["snapshot_id"])
    if os.path.exists(marks):
        write_parquet_file(pq.read_table(marks), snapshot_file(output_dir, "_hw", snapshot_id))
    _commit_snapshot(spark, output_dir, {}, False, snapshot_id, head["snapshot_id"], head["schemas"], horizons)

    _retain(rows.where(F.col("bucket") >= F.lit(horizon)), paths[0])
    boundary = F.date_trunc(_CHUNK_UNIT[tier], F.lit(horizon))
    whole = chunks.where(F.col("chunk_start") >= F.lit(horizon))
    partial = chunks.where((F.col("chunk_start") == boundary) & (F.col("chunk_start") < F.lit(horizon)))
    reencoded = encode_tier(
        decode_tier(partial, keys, "bucket", "avg_value").where(F.col("bucket") >= F.lit(horizon)),
        keys,
        "bucket",
        "avg_value",
        tier,
    )
    return _retain(whole.unionByName(reencoded), paths[1])
