"""End-to-end pipeline: salting equivalence, checkpoint/resume, retention."""

import datetime
import json
import os
import shutil

import pytest
from _warehouse import assert_same_warehouse, partition_files, tree_digest
from pyspark.sql import functions as F

from datafiller_spark.exceptions import EngineValueError
from datafiller_spark.operators import rollup
from datafiller_spark.plans import (
    apply_chunk_retention,
    latest_snapshot_id,
    read_high_water,
    read_snapshots,
    run_pipeline,
)
from datafiller_spark.plans.pipeline import salted_rollup
from datafiller_spark.sources import synth_sequences


def head_marks(spark, out):
    """The high-water marks of the warehouse's newest snapshot."""
    return read_high_water(spark, out, latest_snapshot_id(spark, out))


@pytest.fixture(scope="module")
def seqs(spark):
    return synth_sequences(spark, 3000, mean_tokens=32, span_minutes=360).cache()


def test_salted_rollup_equals_direct(spark, seqs):
    direct = rollup(seqs, ["source"], "event_ts", "n_tok", "1m")
    salted = salted_rollup(seqs, ["source"], "event_ts", "n_tok", "1m", salt_buckets=8, salt_col="doc_id")
    d = direct.orderBy("source", "bucket").collect()
    s = salted.orderBy("source", "bucket").collect()
    assert len(d) == len(s)
    for a, b in zip(d, s):
        assert (a.source, a.bucket, a.n_points, a.min_value, a.max_value) == (
            b.source,
            b.bucket,
            b.n_points,
            b.min_value,
            b.max_value,
        )
        assert a.sum_value == b.sum_value  # integer-valued sums compose exactly


def test_pipeline_counters_and_tiers(spark, seqs, tmp_path):
    res = run_pipeline(
        spark,
        seqs,
        ["source"],
        "event_ts",
        "n_tok",
        output_dir=str(tmp_path / "out"),
        min_samples_train=10,
        salt_buckets=8,
        salt_col="doc_id",
    )
    tiers = ("1m", "1h", "1d")
    assert res.counters["tier_1m_rows"] > res.counters["tier_1h_rows"] > res.counters["tier_1d_rows"]
    # points counts the grid points the kernel emitted, every tier
    assert res.points == sum(res.counters[f"tier_{t}_points"] for t in tiers)
    metrics = {r.tier: r for r in res.metrics.collect()}
    for tier in tiers:
        assert res.counters[f"tier_{tier}_bytes"] > 0
        assert metrics[tier].rows_in == res.tiers[tier].count() == res.counters[f"tier_{tier}_rows"]
        assert metrics[tier].grid_rows == res.filled[tier].count() == res.counters[f"tier_{tier}_points"]
        assert metrics[tier].gaps_filled == metrics[tier].grid_rows - metrics[tier].rows_in
        assert metrics[tier].bytes_out == res.counters[f"tier_{tier}_bytes"]
        assert res.filled[tier].where(F.col("avg_value").isNull()).count() == 0
    # lineage: one row per (tier, kernel partition), summing to the counters
    lineage = res.lineage.collect()
    assert len({(r.tier, r.partition_id) for r in lineage}) == len(lineage)
    for tier in tiers:
        rows = [r for r in lineage if r.tier == tier]
        assert sum(r.n_rows for r in rows) == res.counters[f"tier_{tier}_rows"]
        assert sum(r.n_points for r in rows) == res.counters[f"tier_{tier}_points"]
        assert sum(r.bytes_out for r in rows) == res.counters[f"tier_{tier}_bytes"]
        assert sum(r.n_chunks for r in rows) == res.encoded[tier].count()
        bounds = res.encoded[tier].agg(F.min("chunk_start"), F.max("chunk_start")).first()
        assert (min(r.min_chunk_start for r in rows), max(r.max_chunk_start for r in rows)) == tuple(bounds)
    # artifacts written: per-snapshot metrics, lineage and marks, readable by Spark
    out = tmp_path / "out"
    for tier in tiers:
        assert (out / f"tier={tier}").exists()
        assert (out / f"chunks_tier={tier}").exists()
    snap = f"snapshot={res.snapshot_id}"
    persisted = spark.read.parquet(str(out / "metrics" / snap))
    assert sorted(map(tuple, persisted.collect())) == sorted(map(tuple, res.metrics.collect()))
    persisted = spark.read.parquet(str(out / "lineage" / snap))
    assert dict(persisted.dtypes)["min_chunk_start"] == "timestamp"
    assert sorted(map(tuple, persisted.collect())) == sorted(map(tuple, lineage))
    marked = {r.source for r in head_marks(spark, str(out)).collect()}
    assert marked == {r.source for r in res.tiers["1m"].select("source").distinct().collect()}


def test_resume_is_incremental_and_consistent(spark, tmp_path):
    full = synth_sequences(spark, 2000, mean_tokens=16, span_minutes=240).cache()
    cutoff = datetime.datetime(2024, 1, 1, 2, 0)
    first = full.where(F.col("event_ts") < F.lit(cutoff))
    second = full  # the resume run sees everything, filters via checkpoint

    out = str(tmp_path / "ckpt")
    run_pipeline(spark, first, ["source"], "event_ts", "n_tok", output_dir=out)

    hw_rows = head_marks(spark, out).collect()
    hw_max = max(r.max_bucket for r in hw_rows)
    hw_min = min(r.max_bucket for r in hw_rows)
    assert hw_max < cutoff

    res2 = run_pipeline(spark, second, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)
    incr_1m = res2.delta.select("source", "bucket", "n_points").collect()
    # the raw scan re-aggregated only buckets at/past the checkpoint (the
    # high-water bucket itself is open and reprocessed wholesale); the
    # tier frames cover the affected keys' full merged history
    assert min(r.bucket for r in incr_1m) >= hw_min

    # the PERSISTED tier after the resume run == a single-shot run on
    # everything: new rows replaced the boundary bucket, old rows survived
    persisted = spark.read.parquet(os.path.join(out, "tier=1m"))
    single = rollup(full, ["source"], "event_ts", "n_tok", "1m")
    a = sorted(
        map(tuple, persisted.select("source", "bucket", "n_points", "sum_value").collect())
    )
    b = sorted(map(tuple, single.select("source", "bucket", "n_points", "sum_value").collect()))
    assert a == b


def test_resume_boundary_bucket_and_quiet_keys(spark, tmp_path):
    """Sub-minute-aligned late rows in the open boundary bucket must not
    double-count, and keys with no new data must keep both their
    persisted tier rows and their high-water marks."""
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def row(src, sec, v):
        return (src, base + datetime.timedelta(seconds=sec), v)

    first_rows = [row("a", 10, 1), row("a", 40, 2), row("b", 30, 7)]
    late_rows = [row("a", 50, 3), row("a", 70, 4)]  # 00:00:50 is INSIDE the open bucket
    schema = "source string, event_ts timestamp, n_tok int"
    first = spark.createDataFrame(first_rows, schema)
    full = spark.createDataFrame(first_rows + late_rows, schema)

    out = str(tmp_path / "bnd")
    run_pipeline(spark, first, ["source"], "event_ts", "n_tok", output_dir=out)
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)

    persisted = {
        (r.source, r.bucket): (r.n_points, r.sum_value)
        for r in spark.read.parquet(os.path.join(out, "tier=1m")).collect()
    }
    m0 = base
    m1 = base + datetime.timedelta(minutes=1)
    assert persisted == {
        ("a", m0): (3, 6),  # re-aggregated boundary bucket, not 2+3 rows
        ("a", m1): (1, 4),
        ("b", m0): (1, 7),  # quiet key retained
    }
    hw = {r.source: r.max_bucket for r in head_marks(spark, out).collect()}
    assert hw == {"a": m1, "b": m0}  # quiet key's mark survived the resume


def test_retention(spark, seqs, tmp_path):
    out = str(tmp_path / "ret")
    run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out)
    path = os.path.join(out, "tier=1m")
    before = spark.read.parquet(path).count()
    keep_after = datetime.datetime(2024, 1, 1, 3, 0)
    kept = apply_chunk_retention(spark, out, "1m", ["source"], keep_after)
    assert 0 < spark.read.parquet(path).count() < before
    assert kept == spark.read.parquet(os.path.join(out, "chunks_tier=1m")).count() > 0
    assert spark.read.parquet(path).agg(F.min("bucket")).first()[0] >= keep_after


def test_resume_heals_after_crash_between_write_and_checkpoint(spark, tmp_path):
    """Crash window: tiers written but the high-water checkpoint not yet
    committed. The re-run reprocesses the same increment (the filter
    still sees the OLD marks) and merge-write replaces the same rows —
    the final state must equal the single-shot run regardless."""
    full = synth_sequences(spark, 1500, mean_tokens=16, span_minutes=180).cache()
    cutoff = datetime.datetime(2024, 1, 1, 1, 30)
    first = full.where(F.col("event_ts") < F.lit(cutoff))
    out = str(tmp_path / "crash")

    run_pipeline(spark, first, ["source"], "event_ts", "n_tok", output_dir=out)
    committed = ["_hw", "_snapshots"]
    for name in committed:
        shutil.copytree(os.path.join(out, name), str(tmp_path / f"{name}_backup"))

    # resume run 2 completes fully...
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)
    # ...but we simulate the crash by rolling the WHOLE commit state
    # (marks + snapshot chain) back, as if the job died before committing
    for name in committed:
        shutil.rmtree(os.path.join(out, name))
        shutil.copytree(str(tmp_path / f"{name}_backup"), os.path.join(out, name))

    # the healing re-run sees stale marks and reprocesses the increment
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)

    persisted = spark.read.parquet(os.path.join(out, "tier=1m"))
    single = rollup(full, ["source"], "event_ts", "n_tok", "1m")
    a = sorted(map(tuple, persisted.select("source", "bucket", "n_points", "sum_value").collect()))
    b = sorted(map(tuple, single.select("source", "bucket", "n_points", "sum_value").collect()))
    assert a == b


def test_resume_with_gapfill_encode_matches_single_shot(spark, tmp_path):
    """The round-2 resume bug: cascading/encoding the 1m DELTA alone
    produced partial 1h/1d boundary rows and partial open chunks, which
    merge-write then swapped in over the complete priors. The resume now
    re-derives every derived product from the MERGED tier for affected
    keys, so all three persisted tiers AND the chunk payloads must be
    byte-identical to a single-shot run over the full data — and the
    single-shot chunks on disk equal the kernel's in-memory output."""
    full = synth_sequences(spark, 2000, mean_tokens=16, span_minutes=240).cache()
    cutoff = datetime.datetime(2024, 1, 1, 2, 0)
    first = full.where(F.col("event_ts") < F.lit(cutoff))

    out = str(tmp_path / "resumed")
    ref = str(tmp_path / "singleshot")
    kwargs = dict(min_samples_train=10)
    run_pipeline(spark, first, ["source"], "event_ts", "n_tok", output_dir=out, **kwargs)
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out,
                 resume=True, **kwargs)
    single = run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=ref, **kwargs)

    want = assert_same_warehouse(spark, out, ref, ["source"])
    for tier in ("1m", "1h", "1d"):
        ccols = ["source", "chunk_start", "n_points", "payload"]
        mem = sorted(
            (r.source, r.chunk_start, r.n_points, bytes(r.payload))
            for r in single.encoded[tier].select(*ccols).collect()
        )
        assert mem == want[f"chunks_tier={tier}"]


def test_merge_write_heals_crash_mid_swap(spark, tmp_path):
    """A crash inside a partition swap is healed partition by partition:
    a parked partition with no live one beside it is restored (the crash
    fell between its two renames), one beside a live partition is a
    finished swap's leftover and is dropped, and the staging directory
    is discarded. A merge then rewrites only the partitions it touches."""
    from datafiller_spark.plans.pipeline import _heal_dir, _merge_write

    path = str(tmp_path / "swap" / "tier=1m")
    schema = "k string, b int, v int"

    def rows():
        return sorted(map(tuple, spark.read.parquet(path).select("k", "b", "v").collect()))

    _merge_write(spark, spark.createDataFrame([("a", 1, 1), ("b", 1, 1)], schema), path, ["k", "b"])
    before = rows()

    # k=a parked, its replacement not yet renamed in (and the staging
    # write half-finished); k=b swapped, its parked copy not yet dropped
    os.makedirs(path + "__old")
    os.rename(os.path.join(path, "k=a"), os.path.join(path + "__old", "k=a"))
    shutil.copytree(os.path.join(path, "k=b"), os.path.join(path + "__old", "k=b"))
    os.makedirs(os.path.join(path + "__merge_tmp", "k=a"))
    _heal_dir(path)
    assert os.listdir(os.path.dirname(path)) == ["tier=1m"]
    assert rows() == before

    untouched = partition_files(path)["k=a"]
    _merge_write(spark, spark.createDataFrame([("b", 1, 5), ("b", 2, 2)], schema), path, ["k", "b"],
                 partitions=["b"])
    assert rows() == [("a", 1, 1), ("b", 1, 5), ("b", 2, 2)]
    assert partition_files(path)["k=a"] == untouched
    assert os.listdir(os.path.dirname(path)) == ["tier=1m"]

    # a null key is a partition too, and its prior rows are merged
    for b in (1, 2):
        _merge_write(spark, spark.createDataFrame([(None, b, b)], schema), path, ["k", "b"], partitions=[None])
    nulls = spark.read.parquet(path).where(F.col("k").isNull()).select("b", "v").collect()
    assert sorted(map(tuple, nulls)) == [(1, 1), (2, 2)]


def test_snapshot_pinned_resume_ignores_racing_head_write(spark, tmp_path):
    """North star: 'snapshot-pinned reads for resume'. A writer that
    commits while a resume runs moves the head to a snapshot with new
    marks; a resume pinned to the earlier snapshot must read THAT
    snapshot's marks, so the raced run's output equals the un-raced one."""
    from datafiller_spark.plans.pipeline import _commit_delta

    full = synth_sequences(spark, 1500, mean_tokens=16, span_minutes=180).cache()
    cutoff = datetime.datetime(2024, 1, 1, 1, 30)
    first = full.where(F.col("event_ts") < F.lit(cutoff))

    out = str(tmp_path / "pin")
    run_pipeline(spark, first, ["source"], "event_ts", "n_tok", output_dir=out)
    s1 = latest_snapshot_id(spark, out)

    # racing writer: a real commit (the first part's rows again, an
    # idempotent merge) carrying far-future marks — a resume reading the
    # head's marks would now skip everything
    far = datetime.datetime(2030, 1, 1)
    marks = read_high_water(spark, out, s1).withColumn("max_bucket", F.lit(far))
    delta = rollup(first, ["source"], "event_ts", "n_tok", "1m").cache()
    raced = _commit_delta(spark, delta, out, ["source"], marks, s1, merge=True)
    assert latest_snapshot_id(spark, out) == raced.snapshot_id != s1
    assert {r.max_bucket for r in head_marks(spark, out).collect()} == {far}

    res = run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out,
                       resume=True, pin_snapshot=s1)

    persisted = spark.read.parquet(os.path.join(out, "tier=1m"))
    single = rollup(full, ["source"], "event_ts", "n_tok", "1m")
    a = sorted(map(tuple, persisted.select("source", "bucket", "n_points", "sum_value").collect()))
    b = sorted(map(tuple, single.select("source", "bucket", "n_points", "sum_value").collect()))
    assert a == b

    # the commit records which snapshot the resume anchored to, and
    # chains onto the racing commit
    snap = read_snapshots(spark, out).first()
    assert snap.snapshot_id == res.snapshot_id
    assert snap.anchor_id == s1 and snap.resume
    assert snap.parent_id == raced.snapshot_id


def test_snapshot_log_chains_commits(spark, tmp_path):
    """Every committed run appends a snapshot whose parent is the prior
    head — the Iceberg-style audit chain a resume anchors to."""
    from datafiller_spark.plans.pipeline import read_snapshots

    full = synth_sequences(spark, 800, mean_tokens=16, span_minutes=120).cache()
    cutoff = datetime.datetime(2024, 1, 1, 1, 0)
    out = str(tmp_path / "snap")
    first = run_pipeline(spark, full.where(F.col("event_ts") < F.lit(cutoff)),
                         ["source"], "event_ts", "n_tok", output_dir=out)
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)

    log = read_snapshots(spark, out)
    assert dict(log.dtypes) == {
        "snapshot_id": "string", "parent_id": "string", "anchor_id": "string",
        "resume": "boolean", "committed_at": "double", "counters": "string",
        "schemas": "string", "horizons": "string",
    }
    snaps = log.collect()
    assert len(snaps) == 2
    head, root = snaps
    # the first commit: NULL parent, a real boolean, the run's counters
    assert root.parent_id is None and root.resume is False
    assert root.snapshot_id == first.snapshot_id
    assert json.loads(root.counters) == first.counters
    assert head.parent_id == root.snapshot_id and head.resume
    assert json.loads(head.counters)["tier_1m_rows"] >= 0
    # each record carries the Spark schema of every data directory
    for snap in snaps:
        schemas = json.loads(snap.schemas)
        assert sorted(schemas) == sorted(f"{d}={t}" for d in ("tier", "chunks_tier") for t in ("1m", "1h", "1d"))
        for name, schema in schemas.items():
            on_disk = spark.read.parquet(os.path.join(out, name)).schema
            assert sorted(f["name"] for f in schema["fields"]) == sorted(on_disk.names)


def test_retention_then_resume_does_not_resurrect_dropped_data(spark, tmp_path):
    """Retention and the incremental contract compose: dropping expired
    buckets does not touch the high-water marks, so a later resume (fed
    the FULL raw table again) reprocesses only the open bucket onward —
    expired history stays dropped, new rows merge in."""
    full = synth_sequences(spark, 2000, mean_tokens=16, span_minutes=240).cache()
    cutoff = datetime.datetime(2024, 1, 1, 3, 0)
    first = full.where(F.col("event_ts") < F.lit(cutoff))

    out = str(tmp_path / "retres")
    run_pipeline(spark, first, ["source"], "event_ts", "n_tok", output_dir=out)
    keep_after = datetime.datetime(2024, 1, 1, 1, 0)
    apply_chunk_retention(spark, out, "1m", ["source"], keep_after)

    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)

    persisted = spark.read.parquet(os.path.join(out, "tier=1m"))
    # expired buckets stay dropped
    assert persisted.agg(F.min("bucket")).first()[0] >= keep_after
    # retained + new rows equal the single-shot rollup restricted to the kept range
    single = rollup(full, ["source"], "event_ts", "n_tok", "1m").where(
        F.col("bucket") >= F.lit(keep_after)
    )
    a = sorted(map(tuple, persisted.select("source", "bucket", "n_points", "sum_value").collect()))
    b = sorted(map(tuple, single.select("source", "bucket", "n_points", "sum_value").collect()))
    assert a == b


def test_tier_retention_then_resume_keeps_coarser_history(spark, tmp_path):
    """Retention on tier 1m trims ``tier=1m`` and ``chunks_tier=1m`` but
    keeps the coarser tiers and their chunk directories longer, and a
    resume must not take that back: it re-derives the touched keys from
    the retained 1m rows only, so the derived rows older than the 1m
    horizon survive by a (key, bucket) or (key, chunk_start) merge
    instead of being replaced with the keys' shorter re-derivation."""
    full = synth_sequences(spark, 8640, mean_tokens=16, span_minutes=3 * 1440).cache()
    day = datetime.datetime(2024, 1, 1)
    first = full.where(F.col("event_ts") < F.lit(day + datetime.timedelta(days=2, hours=12)))
    out = str(tmp_path / "wh")
    run_pipeline(spark, first, ["source"], "event_ts", "n_tok", output_dir=out)
    keep_after = day + datetime.timedelta(days=1, hours=7)
    apply_chunk_retention(spark, out, "1m", ["source"], keep_after)
    # the resume runs over retained 1m rows: the horizon left some
    assert spark.read.parquet(os.path.join(out, "tier=1m")).agg(F.min("bucket")).first()[0] == keep_after

    derived = {"tier=1h": "bucket", "tier=1d": "bucket", "chunks_tier=1h": "chunk_start",
               "chunks_tier=1d": "chunk_start"}

    def older(name):
        """(min bucket or chunk_start, the (key, bucket or chunk_start)
        pairs of the whole days before the horizon)."""
        df = spark.read.parquet(os.path.join(out, name))
        col = derived[name]
        rows = df.where(F.col(col) < F.lit(day + datetime.timedelta(days=1))).select("source", col).collect()
        return df.agg(F.min(col)).first()[0], sorted(map(tuple, rows))

    before = {name: older(name) for name in derived}
    assert before["tier=1d"][0] == day and before["tier=1h"][1] and before["chunks_tier=1h"][1]
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)
    for name in derived:
        assert older(name) == before[name], name


#: The retention tests' input: 3000 documents over three days, so the
#: 1m tier holds rows past the horizon; built to day 3 12:00 (all of it)
#: and trimmed on tier 1m at day 2 07:00.
HORIZON = datetime.datetime(2024, 1, 2, 7, 0)


@pytest.fixture(scope="module")
def retained(spark, tmp_path_factory):
    """(full raw table, a warehouse built from it, the same warehouse
    after ``apply_chunk_retention`` on tier 1m at ``HORIZON``)."""
    full = synth_sequences(spark, 3000, mean_tokens=16, span_minutes=3 * 1440).cache()
    base = tmp_path_factory.mktemp("retained")
    built, trimmed = str(base / "built"), str(base / "trimmed")
    cut = F.col("event_ts") < F.lit(datetime.datetime(2024, 1, 3, 12, 0))
    run_pipeline(spark, full.where(cut), ["source"], "event_ts", "n_tok", output_dir=built)
    shutil.copytree(built, trimmed)
    apply_chunk_retention(spark, trimmed, "1m", ["source"], HORIZON)
    return full, built, trimmed


def test_resume_after_chunk_retention_keeps_it(spark, tmp_path, retained):
    """A resume after retention on tier 1m does not bring the trimmed
    days back: ``chunks_tier=1m`` still starts on the horizon's day and
    ``tier=1m`` holds no bucket before the horizon."""
    full, _, trimmed = retained
    out = str(tmp_path / "wh")
    shutil.copytree(trimmed, out)
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)
    chunks = spark.read.parquet(os.path.join(out, "chunks_tier=1m"))
    assert chunks.agg(F.min("chunk_start")).first()[0] == datetime.datetime(2024, 1, 2)
    assert spark.read.parquet(os.path.join(out, "tier=1m")).agg(F.min("bucket")).first()[0] == HORIZON


def test_retention_appends_one_snapshot_with_its_horizon(spark, tmp_path, retained):
    """Retention is one more snapshot: it records the horizon and the
    head's schemas, and carries the head's marks, so a resume anchored
    to it reads the same marks, and re-aggregates as many 1m rows, as
    one anchored to the snapshot before it."""
    full, _, trimmed = retained
    head, build = read_snapshots(spark, trimmed).collect()
    assert head.parent_id == build.snapshot_id and not head.resume
    assert json.loads(head.horizons) == {"1m": str(HORIZON)} and json.loads(build.horizons) == {}
    assert head.schemas == build.schemas

    def marks(snapshot_id):
        return sorted(map(tuple, read_high_water(spark, trimmed, snapshot_id).collect()))

    assert marks(head.snapshot_id) == marks(build.snapshot_id)
    deltas = []
    for snap in (head, build):
        out = str(tmp_path / snap.snapshot_id)
        shutil.copytree(trimmed, out)
        res = run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True,
                           pin_snapshot=snap.snapshot_id)
        deltas.append(res.delta.count())
        # the resume carries the horizon forward
        assert json.loads(read_snapshots(spark, out).first().horizons) == {"1m": str(HORIZON)}
    assert deltas[0] == deltas[1] > 0


def test_resume_after_retention_fills_touched_keys_from_retained_rows(spark, tmp_path, retained):
    """The fill contract after retention: a key a resume touches is
    re-derived from its retained history only — its 1m chunks equal a
    single-shot build over its rows past the horizon — and every
    untouched key keeps its files in every data directory."""
    full, _, trimmed = retained
    out, ref = str(tmp_path / "wh"), str(tmp_path / "ref")
    shutil.copytree(trimmed, out)
    dirs = [f"{d}={t}" for d in ("tier", "chunks_tier") for t in ("1m", "1h", "1d")]
    before = {d: partition_files(os.path.join(out, d)) for d in dirs}
    web = F.col("source") == "web"
    run_pipeline(spark, full.where(web), ["source"], "event_ts", "n_tok", output_dir=out, resume=True)
    for d in dirs:
        after = partition_files(os.path.join(out, d))
        assert set(after) == set(before[d]) and len(after) > 10, d
        for part, files in after.items():
            assert (files == before[d][part]) == (part != "source=web"), (d, part)

    run_pipeline(spark, full.where(web & (F.col("event_ts") >= F.lit(HORIZON))), ["source"], "event_ts", "n_tok",
                 output_dir=ref)

    def chunks(path):
        rows = spark.read.parquet(os.path.join(path, "chunks_tier=1m")).where(web).collect()
        return sorted((r.chunk_start, r.n_points, bytes(r.payload)) for r in rows)

    assert chunks(out) == chunks(ref) and chunks(ref)


def test_retention_refuses_a_coarser_horizon_past_a_finer_one(spark, tmp_path, retained):
    """A coarser tier may not keep less history than a finer one:
    trimming tier 1h past the 1m horizon, or at all while tier 1m keeps
    everything, is refused and changes no file."""
    _, built, trimmed = retained
    for src, keep_after in ((trimmed, HORIZON + datetime.timedelta(hours=1)), (built, HORIZON)):
        out = str(tmp_path / os.path.basename(src))
        shutil.copytree(src, out)
        before = tree_digest(out)
        with pytest.raises(EngineValueError, match="tier=1h"):
            apply_chunk_retention(spark, out, "1h", ["source"], keep_after)
        assert tree_digest(out) == before
    # at the 1m horizon the order holds
    assert apply_chunk_retention(spark, str(tmp_path / "trimmed"), "1h", ["source"], HORIZON) > 0


def test_resume_after_retention_leaves_keys_marked_below_the_horizon(spark, tmp_path):
    """A key whose high-water mark lies before the horizon is not touched
    by a resume: its open mark bucket is re-read from raw but dropped at
    the commit, so ``tier=1m`` gains no row below the horizon and the
    key's ``tier=1h`` rows of day 1 keep their values."""
    full = synth_sequences(spark, 1500, mean_tokens=16, span_minutes=3 * 1440).cache()
    out = str(tmp_path / "wh")
    cut = F.col("event_ts") < F.lit(datetime.datetime(2024, 1, 3, 12, 0))
    run_pipeline(spark, full.where(cut), ["source"], "event_ts", "n_tok", output_dir=out)
    assert max(r.max_bucket for r in head_marks(spark, out).collect()) < HORIZON
    tier1m = os.path.join(out, "tier=1m")
    schema = spark.read.parquet(tier1m).schema  # the trim leaves no file to infer it from
    apply_chunk_retention(spark, out, "1m", ["source"], HORIZON)

    def day1_1h():
        rows = spark.read.parquet(os.path.join(out, "tier=1h")).where(
            F.col("bucket") < F.lit(datetime.datetime(2024, 1, 2))
        ).select("source", "bucket", "n_points", "sum_value", "min_value", "max_value").collect()
        return sorted(map(tuple, rows))

    before = day1_1h()
    assert before
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)
    assert day1_1h() == before
    assert spark.read.schema(schema).parquet(tier1m).where(F.col("bucket") < F.lit(HORIZON)).count() == 0


def test_chunk_retention_keeps_partition_column_for_any_key_order(spark, tmp_path):
    """``apply_chunk_retention`` keeps the directory's own partition
    column, whatever order the caller lists the key columns in: the
    same retention with the keys reversed leaves the same partitions and
    the same chunks, and the table still reads."""
    from datafiller_spark.plans import scan_chunks

    keys = ["source", "shard"]
    seq = synth_sequences(spark, 1000, mean_tokens=16, span_minutes=240).withColumn(
        "shard", F.pmod(F.hash("doc_id"), F.lit(2))
    )
    built = str(tmp_path / "built")
    run_pipeline(spark, seq, keys, "event_ts", "n_tok", output_dir=built, min_samples_train=10)
    keep_after = datetime.datetime(2024, 1, 1, 2, 30)
    got = {}
    for order in (keys, keys[::-1]):
        out = str(tmp_path / "_".join(order))
        shutil.copytree(built, out)
        path = os.path.join(out, "chunks_tier=1m")
        parts = set(partition_files(path))
        assert apply_chunk_retention(spark, out, "1m", order, keep_after) > 0
        after = set(partition_files(path))  # a partition whose chunks all expired goes
        assert after and after <= parts and all(p.startswith("source=") for p in parts)
        rows = scan_chunks(spark, out, "1m", keys).select(*keys, "bucket", "avg_value").collect()
        got[tuple(order)] = sorted(map(tuple, rows))
    assert got[tuple(keys)] == got[tuple(keys[::-1])] and got[tuple(keys)]


def test_retention_keeps_key_partitions(spark, seqs, tmp_path):
    """Retention rewrites a directory partition by partition and keeps
    its ``<key0>=<v>`` layout: every partition with retained rows
    survives, and no file lands flat at the table's root."""
    out = str(tmp_path / "retpart")
    run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out)
    keep_after = datetime.datetime(2024, 1, 1, 3, 0)
    paths = [os.path.join(out, name) for name in ("tier=1m", "chunks_tier=1m")]
    before = {path: set(partition_files(path)) for path in paths}
    apply_chunk_retention(spark, out, "1m", ["source"], keep_after)
    for path in paths:
        name = os.path.basename(path)
        assert len(before[path]) > 10, name
        assert set(partition_files(path)) == before[path], name
        assert not [f for f in os.listdir(path) if f.endswith(".parquet")], name
        assert not os.path.exists(path + "__old") and not os.path.exists(path + "__merge_tmp"), name


def test_multi_key_resume_matches_single_shot(spark, tmp_path):
    """With two key columns a partition (one source) holds several keys.
    A resume fed only shard 0's rows touches half the keys of every
    partition: the commit merges inside the touched partitions — keeping
    shard 1's rows, replacing shard 0's — and ends byte-equal to a
    single-shot run over the same rows."""
    keys = ["source", "shard"]
    full = synth_sequences(spark, 2000, mean_tokens=16, span_minutes=240).withColumn(
        "shard", F.pmod(F.hash("doc_id"), F.lit(2))
    )
    early = F.col("event_ts") < F.lit(datetime.datetime(2024, 1, 1, 2, 0))
    shard0 = F.col("shard") == 0
    out, ref = str(tmp_path / "resumed"), str(tmp_path / "singleshot")
    kwargs = dict(min_samples_train=10)
    run_pipeline(spark, full.where(early), keys, "event_ts", "n_tok", output_dir=out, **kwargs)
    res = run_pipeline(spark, full.where(shard0), keys, "event_ts", "n_tok", output_dir=out, resume=True, **kwargs)
    assert {r.shard for r in res.delta.select("shard").distinct().collect()} == {0}
    run_pipeline(spark, full.where(early | shard0), keys, "event_ts", "n_tok", output_dir=ref, **kwargs)
    want = assert_same_warehouse(spark, out, ref, keys)
    assert {r[1] for r in want["tier=1h"]} == {0, 1}


def test_resume_leaves_untouched_partitions_alone(spark, tmp_path):
    """A resume rewrites only the partitions of the keys it touches: in
    each of the six data directories every other partition keeps its very
    files (same inode and mtime), and the touched ones are rewritten."""
    full = synth_sequences(spark, 1500, mean_tokens=16, span_minutes=180).cache()
    out = str(tmp_path / "wh")
    first = full.where(F.col("event_ts") < F.lit(datetime.datetime(2024, 1, 1, 1, 30)))
    run_pipeline(spark, first, ["source"], "event_ts", "n_tok", output_dir=out)
    dirs = [f"{d}={t}" for d in ("tier", "chunks_tier") for t in ("1m", "1h", "1d")]
    before = {d: partition_files(os.path.join(out, d)) for d in dirs}
    touched = {"source=web", "source=books"}

    run_pipeline(spark, full.where(F.col("source").isin("web", "books")), ["source"], "event_ts", "n_tok",
                 output_dir=out, resume=True)
    for d in dirs:
        after = partition_files(os.path.join(out, d))
        assert set(after) == set(before[d]) and len(after) > 10, d
        for part, files in after.items():
            if part in touched:
                assert files != before[d][part], (d, part)
            else:
                assert files == before[d][part], (d, part)


def test_layout_version_guard(spark, seqs, tmp_path):
    """Fresh warehouses get a layout marker; resuming into a pre-marker
    or wrong-version warehouse refuses (ADVICE r3: merging observed
    deltas into v1 gap-filled tier rows would silently corrupt)."""
    import pytest as _pytest

    from datafiller_spark.exceptions import EngineValueError
    from datafiller_spark.plans.pipeline import LAYOUT_VERSION

    out = str(tmp_path / "lv")
    run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out)
    marker = os.path.join(out, "_layout_version")
    assert os.path.exists(marker)
    assert int(open(marker).read()) == LAYOUT_VERSION

    # unversioned prior warehouse → resume refuses
    os.remove(marker)
    with _pytest.raises(EngineValueError, match="layout"):
        run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out,
                     resume=True)
    # ... and so does a NON-resume run: stamping v2 onto it would bless
    # leftover v1 artifacts (old chunks, snapshot chain) as v2
    with _pytest.raises(EngineValueError, match="layout"):
        run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out)

    # stale version → any persisted run refuses
    with open(marker, "w") as fh:
        fh.write("1")
    with _pytest.raises(EngineValueError, match="layout v1"):
        run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out,
                     resume=True)


def test_retired_fused_layout_refused(spark, seqs, tmp_path):
    """A warehouse holding the retired fused layout (chunks/tier=<t>) is
    refused: resuming into it would start a chunks_tier=<t> directory
    with only the delta's keys, and range reads would miss the rest."""
    import pytest as _pytest

    from datafiller_spark.exceptions import EngineValueError

    out = str(tmp_path / "old_fused")
    run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out)
    os.makedirs(os.path.join(out, "chunks", "tier=1m"))
    for resume in (True, False):
        with _pytest.raises(EngineValueError, match="Rebuild the warehouse from raw"):
            run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out, resume=resume)


def test_schema_drift_refused_before_any_write(spark, tmp_path):
    """A commit whose tier or chunk schema differs from the recorded one
    is refused with an error naming the directory and both schemas, and
    the warehouse is left byte-for-byte unchanged."""
    base = datetime.datetime(2024, 1, 1)
    rows = [(s, base + datetime.timedelta(minutes=m), m % 7) for s in "ab" for m in range(90)]
    out = str(tmp_path / "drift")
    as_int = spark.createDataFrame(rows, "source string, event_ts timestamp, n_tok int")
    run_pipeline(spark, as_int, ["source"], "event_ts", "n_tok", output_dir=out)
    before = tree_digest(out)

    as_double = as_int.withColumn("n_tok", F.col("n_tok").cast("double"))
    with pytest.raises(EngineValueError) as err:
        run_pipeline(spark, as_double, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)
    msg = str(err.value)
    assert os.path.join(out, "tier=1m") in msg
    assert "sum_value:bigint" in msg and "sum_value:double" in msg
    assert tree_digest(out) == before


def test_readers_refuse_a_warehouse_without_recorded_schemas(spark, seqs, tmp_path):
    """Range reads and retention pin the schema the snapshot log
    recorded; a warehouse whose log records none (an older layout, or no
    finished commit) is refused instead of read with an inferred one."""
    from datafiller_spark.plans import scan_chunks

    out = str(tmp_path / "noschema")
    run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out)
    shutil.rmtree(os.path.join(out, "_snapshots"))
    keep_after = datetime.datetime(2024, 1, 1, 3, 0)
    for read in (
        lambda: scan_chunks(spark, out, "1m", ["source"]),
        lambda: apply_chunk_retention(spark, out, "1m", ["source"], keep_after),
    ):
        with pytest.raises(EngineValueError, match="Rebuild the warehouse from raw"):
            read()


@pytest.fixture(scope="module")
def crash_case(spark, tmp_path_factory):
    """(full raw table, a warehouse built from its first part, a
    single-shot warehouse of all of it)."""
    full = synth_sequences(spark, 1500, mean_tokens=16, span_minutes=180).cache()
    base = tmp_path_factory.mktemp("crash_matrix")
    built, ref = str(base / "built"), str(base / "ref")
    first = full.where(F.col("event_ts") < F.lit(datetime.datetime(2024, 1, 1, 1, 30)))
    run_pipeline(spark, first, ["source"], "event_ts", "n_tok", output_dir=built)
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=ref)
    return full, built, ref


#: A commit's file-system steps: six directory merge-writes, then the
#: metrics, lineage and marks files; the snapshot record is the tenth.
COMMIT_STEPS = 10
#: Crashes inside one directory's partition swap, "<directory>/<n>": the
#: commit dies right after the n-th rename of that directory's swap. Each
#: partition is parked, then replaced: "/1" falls between the two
#: renames of one partition, "/2" between two partitions.
SWAP_CRASHES = ("tier=1m/1", "tier=1m/2", "chunks_tier=1d/3")


@pytest.mark.parametrize("crash_after", [*range(1, COMMIT_STEPS), *SWAP_CRASHES])
def test_crash_at_every_commit_step_heals_on_resume(spark, tmp_path, monkeypatch, crash_case, crash_after):
    """A resume that dies after any file-system step of its commit, or
    between two renames of a partition swap, leaves no snapshot record;
    the next resume ends byte-equal to a single-shot run with no leftover
    in any partition, and the log chains the healing commit onto the
    build."""
    import re

    from datafiller_spark.plans import checkpoint, pipeline

    full, built, ref = crash_case
    out = str(tmp_path / "wh")
    shutil.copytree(built, out)
    head = latest_snapshot_id(spark, out)

    class Crash(Exception):
        pass

    def run_counted(crash_at):
        steps = []
        renames = []

        def counted(fn, path_arg):
            def step(*args, **kwargs):
                fn(*args, **kwargs)
                steps.append(args[path_arg])
                if len(steps) == crash_at:
                    raise Crash
            return step

        def swap_rename(rename, target, n):
            def step(src, dst):
                rename(src, dst)
                if f"{os.sep}{target}__" in src + dst:  # a park or a move-in of target's swap
                    renames.append(dst)
                    if len(renames) == n:
                        raise Crash
            return step

        with monkeypatch.context() as m:
            for mod, name, path_arg in ((pipeline, "_merge_write", 2), (pipeline, "write_parquet_file", 1),
                                        (checkpoint, "write_parquet_file", 1)):
                m.setattr(mod, name, counted(getattr(mod, name), path_arg))
            if isinstance(crash_at, str):
                target, n = crash_at.split("/")
                m.setattr(pipeline.os, "rename", swap_rename(os.rename, target, int(n)))
            run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)
        return steps

    with pytest.raises(Crash):
        run_counted(crash_after)
    assert latest_snapshot_id(spark, out) == head
    assert read_snapshots(spark, out).count() == 1

    steps = run_counted(None)
    assert len(steps) == COMMIT_STEPS
    assert os.path.basename(os.path.dirname(steps[-1])) == "_snapshots"
    assert_same_warehouse(spark, out, ref, ["source"])
    # no parked or staged partition survives, and every partition holds
    # the files of one write only
    assert not [n for n in os.listdir(out) if n.endswith(("__old", "__merge_tmp"))]
    for name in (f"{d}={t}" for d in ("tier", "chunks_tier") for t in ("1m", "1h", "1d")):
        for part, files in partition_files(os.path.join(out, name)).items():
            writes = {m.group(1) for f in files if (m := re.search(r"part-\d+-([0-9a-f-]{36})", f))}
            assert len(writes) == 1 and not any(os.path.isdir(os.path.join(out, name, part, f)) for f in files)
    log = read_snapshots(spark, out).collect()
    assert len(log) == 2 and log[0].parent_id == head and log[0].anchor_id == head


#: Crash points of a retention on tier 1m: after its snapshot record,
#: before any row goes ("record"); between the two renames of the first
#: ``tier=1m`` partition it swaps ("tier=1m/1"); and between the
#: ``tier=1m`` and ``chunks_tier=1m`` swaps ("tier=1m").
RETENTION_CRASHES = ("record", "tier=1m/1", "tier=1m")
CRASH_HORIZON = datetime.datetime(2024, 1, 1, 0, 45)


@pytest.fixture(scope="module")
def retention_ref(spark, crash_case, tmp_path_factory):
    """The crash matrix's build after an uncrashed retention on tier 1m
    at ``CRASH_HORIZON`` and a resume."""
    full, built, _ = crash_case
    ref = str(tmp_path_factory.mktemp("retention_ref") / "wh")
    shutil.copytree(built, ref)
    apply_chunk_retention(spark, ref, "1m", ["source"], CRASH_HORIZON)
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=ref, resume=True)
    return ref


@pytest.mark.parametrize("crash_at", RETENTION_CRASHES)
def test_crash_in_retention_heals_on_rerun(spark, tmp_path, monkeypatch, crash_case, retention_ref, crash_at):
    """A retention that dies at any point has already recorded its
    horizon, so no crash leaves ``tier=1m`` trimmed below a horizon the
    log does not know; re-running the retention and then resuming ends
    byte-equal to the uncrashed retention and resume."""
    from datafiller_spark.plans import pipeline

    full, built, _ = crash_case
    out = str(tmp_path / "wh")
    shutil.copytree(built, out)

    class Crash(Exception):
        pass

    with monkeypatch.context() as m:
        if crash_at == "tier=1m/1":
            rename = os.rename

            def crash_rename(src, dst):
                rename(src, dst)
                if f"{os.sep}tier=1m__" in src + dst:
                    raise Crash

            m.setattr(pipeline.os, "rename", crash_rename)
        else:
            retain, calls = pipeline._retain, []

            def crash_retain(df, path):
                calls.append(path)
                if len(calls) == (1 if crash_at == "record" else 2):  # before the first or second swap
                    raise Crash
                return retain(df, path)

            m.setattr(pipeline, "_retain", crash_retain)
        with pytest.raises(Crash):
            apply_chunk_retention(spark, out, "1m", ["source"], CRASH_HORIZON)
    assert json.loads(read_snapshots(spark, out).first().horizons) == {"1m": str(CRASH_HORIZON)}

    apply_chunk_retention(spark, out, "1m", ["source"], CRASH_HORIZON)
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)
    assert_same_warehouse(spark, out, retention_ref, ["source"])
    assert not [n for n in os.listdir(out) if n.endswith(("__old", "__merge_tmp"))]
